package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator pack (one pack per SURVEY.md §2
  * group) into the flat `queries`/`oracleSql` maps the driver's Verify and
  * Bench mains consume.
  */
object SparkEntry {

  /** Every implemented operator pack. Order is presentation-only. */
  def packs: Seq[QueryPack] = Seq(Relational, Relational2, Relational3,
    Relational4, Relational5, Relational6, Joins2, Analytics,
    EventWindows, EventWindows2, EventWindows3, TextAnalysis,
    TextAnalysis2, TextAnalysis3, Curation, Curation2, Dedup, Dedup2,
    DedupGraph, DedupHi, Similarity, Similarity2, Multimodal, Sketches,
    Graph)

  /** Flagship query (jaffle-style customers rollup — SURVEY.md §7 step 1)
    * on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.c6JoinLeft(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approx sketches, hash-seeded LSH) → driver records a rows-only
    * check.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap

  /** The one query scope: build query `name` over `dir`, apply `action`
    * to it, and return its result with the seconds that construction
    * plus action took. Several queries `.cache()` an intermediate; the
    * scope then releases every cached relation of the session, outside
    * the timed span, so no query's blocks outlive it or reach the next
    * query's measurement.
    */
  def run[A](spark: SparkSession, name: String, dir: String)(
      action: DataFrame => A): (A, Double) = {
    val fn = queries(name)
    try {
      val t0 = System.nanoTime()
      val result = action(fn(spark, dir))
      (result, (System.nanoTime() - t0) / 1e9)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  /** JIT/codegen warm-up for the timing mains, so the first timed query
    * is not charged with session spin-up (~4-5 s of JVM warm-up). */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)")
      .collect()
  }
}

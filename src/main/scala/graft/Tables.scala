package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's relation-scan operators (SURVEY.md §2a A1/A2:
  * `/root/reference/projects/adapter/src/fal/dbt/integration/project.py:696-755`
  * `ref`/`source` materialize a relation). Here a relation scan is a lazy
  * `spark.read.parquet` — Catalyst pushes filters/column pruning into the
  * scan, so downstream operators never pay for unread columns.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred file schema per (dir, table) — the catalog role a
    * metastore plays in production: without it, EVERY
    * `spark.read.parquet` runs a footer-inference Spark job at
    * DataFrame CONSTRUCTION (~200 jobs across one pass over the query
    * map). The sf fixtures are immutable for the life of a process,
    * so the schema is cached process-wide and re-reads go through
    * `.schema(...)` — zero jobs, identical plans.
    *
    * The immutability assumption has ONE in-process writer:
    * [[DataGen]]'s tiling, which therefore calls [[invalidate]] after
    * every table write (ADVICE r10) — a future regeneration of a
    * (dir, table) with a changed schema must not serve the stale entry
    * and silently null-fill or misread columns.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.sql.types.StructType]

  /** Drop the cached schema for a (dir, table) just (re)written in this
    * process. Called by every in-process fixture write site.
    */
  def invalidate(dir: String, name: String): Unit = {
    schemaCache.remove((dir, name)); ()
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Generator versions have stored events.ts two ways: int64
    // TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so it
    // arrives as LongType under nanosAsLong and needs the same ns→µs
    // floor-division DuckDB applies — and plain timestamp[µs], which
    // arrives as TIMESTAMP_NTZ. Branch on the loaded schema so both
    // encodings produce the same session-TZ TimestampType column
    // (sessions run UTC, so the NTZ cast is value-preserving).
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.getOrElseUpdate((dir, name),
      spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    if (name == "events") {
      schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else raw
  }

  /** Register every table as a temp view so `spark.sql` queries (the
    * `execute_sql` surface, SURVEY.md §2a A7) can name them directly.
    * Views are lazy (no data motion), but each registration still reads
    * parquet footers for schema inference — so registration is memoized
    * per (session, dir) instead of paying ~10 footer reads per query.
    */
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  def registerViews(spark: SparkSession, dir: String): Unit =
    if (registered.get(spark) != dir) {
      // Register every table even if one fails (a broken events file must
      // not hide documents/embeddings behind "table not found"), surface
      // the first error, and only memoize a fully-successful registration
      // so a later call retries rather than silently skipping.
      var firstErr: Throwable = null
      all.foreach { n =>
        try load(spark, dir, n).createOrReplaceTempView(n)
        catch { case t: Throwable => if (firstErr == null) firstErr = t }
      }
      if (firstErr != null) throw firstErr
      registered.put(spark, dir)
    }
}

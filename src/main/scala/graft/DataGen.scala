package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: tiles a driver-generated sf dir N× into a larger
  * one (default sf0.1 ×10 → `testdata/sf1` inside the repo, since
  * `/root/testdata` is read-only). Each copy shifts every key column by
  * `copy * (max(key)+1)` with the SAME stride used on both sides of
  * every foreign key, so referential integrity, per-group distributions,
  * duplicate/near-duplicate structure and the time range are preserved
  * exactly — the result is `copies` disjoint shards of the source
  * universe, which is how a 10× day-over-day growth actually looks
  * (more customers/orders/docs, same schema and per-entity shape).
  * Key-embedding name strings (`Customer#%09d`, `Supplier#%09d`) are
  * regenerated from the shifted key so name↔key stay consistent.
  *
  * Content is bit-identical across copies (no float perturbation): the
  * oracle compare is Spark-vs-DuckDB over the same files, and queries
  * are already tie-deterministic (scripts/audit_order_ties.py), so
  * exact cross-copy ties exercise — not break — that property.
  *
  * The events table's `ts` round-trips in whatever encoding the source
  * uses (int64 TIMESTAMP(NANOS) reads as long under nanosAsLong;
  * timestamp[µs] passes through); `Tables.load` branches on the loaded
  * schema and `scripts/check_oracle.py` re-casts its DuckDB view, so
  * both encodings verify identically.
  *
  * `sbt "runMain graft.DataGen [srcDir destDir copies]"`
  */
object DataGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "testdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftConf.session(8)

    def stride(table: String, key: String): Long =
      DataGen.stride(spark, src, table, key)
    def tile(table: String, files: Int, shifts: Map[String, Long],
        regen: Map[String, Column] = Map.empty): Unit =
      DataGen.tile(spark, src, dest, copies, table, files, shifts, regen)

    val cStride = stride("customer", "c_custkey")
    val sStride = stride("supplier", "s_suppkey")
    val pStride = stride("part", "p_partkey")
    val oStride = stride("orders", "o_orderkey")
    // events' ts encoding (int64 nanos via nanosAsLong, or
    // timestamp[µs]) is preserved as-read; Tables.load handles either
    // on the way back in
    val eStride = stride("events", "event_id")
    val uStride = stride("events", "user_id")

    // fixed dimensions: nationkey/regionkey domains are not scaled
    // (TPC-H keeps nation/region constant across sf)
    Seq("region", "nation").foreach(t =>
      write(spark.read.parquet(s"$src/$t.parquet"), dest, t, 1))

    tile("customer", 2, Map("c_custkey" -> cStride),
      Map("c_name" -> format_string("Customer#%09d", col("c_custkey"))))
    tile("supplier", 1, Map("s_suppkey" -> sStride),
      Map("s_name" -> format_string("Supplier#%09d", col("s_suppkey"))))
    tile("part", 2, Map("p_partkey" -> pStride))
    tile("orders", 4, Map("o_orderkey" -> oStride, "o_custkey" -> cStride))
    tile("lineitem", 8, Map("l_orderkey" -> oStride, "l_partkey" -> pStride,
      "l_suppkey" -> sStride))
    tile("events", 4, Map("event_id" -> eStride, "user_id" -> uStride))
    tileDocuments(spark, src, dest, copies)
    tileEmbeddings(spark, src, dest, copies)

    spark.stop()
  }

  /** One past the largest `key` of `src/table`: the per-copy shift. */
  private def stride(spark: SparkSession, src: String, table: String,
      key: String): Long =
    spark.read.parquet(s"$src/$table.parquet").agg(max(col(key))).head
      .getAs[Number](0).longValue() + 1L

  /** The one tiling rule: `copies` shifted unions of `src/table` in one
    * scan — broadcast-crossjoin a tiny copy index, add `copy * stride`
    * to each key in `shifts` (cast back to its source type), re-derive
    * the key-embedding columns in `regen` — written to `dest/table` as
    * `files` files.
    */
  private def tile(spark: SparkSession, src: String, dest: String,
      copies: Int, table: String, files: Int, shifts: Map[String, Long],
      regen: Map[String, Column] = Map.empty): Unit = {
    val df = spark.read.parquet(s"$src/$table.parquet")
    val shifted = df
      .crossJoin(broadcast(spark.range(copies).toDF("__copy")))
      .select(df.schema.fields.map { f =>
        shifts.get(f.name) match {
          case Some(s) =>
            (col(f.name) + col("__copy") * lit(s)).cast(f.dataType)
              .as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    write(regen.foldLeft(shifted) { case (d, (name, expr)) =>
      d.withColumn(name, expr)
    }, dest, table, files)
  }

  /** Write `df` as `dest/table` in `files` files, dropping what this
    * process remembers of the table's previous files. */
  private def write(df: DataFrame, dest: String, table: String,
      files: Int): Unit = {
    df.repartition(files).write.mode("overwrite")
      .parquet(s"$dest/$table.parquet")
    // the process-wide schema cache must not serve a pre-rewrite entry
    // (see Tables.schemaCache scaladoc); standing models memoized for
    // this dir were built from the pre-rewrite files (ADVICE r11): drop
    // the in-process trust (the durable layer self-heals via the corpus
    // fingerprint)
    Tables.invalidate(dest, table)
    graft.operators.Shared.invalidate(dest)
    println(s"[datagen] $table -> $dest/$table.parquet ($files files)")
  }

  /** Tile ONLY the embeddings table `src` → `dest` — the one table the
    * at-scale clone-pair/recall specs read. ApproxQualitySpec calls
    * this on demand in a fresh checkout (VERDICT r8 #8: the spec used
    * to `assume()`-skip without a pre-generated `testdata/sf1`, so a
    * clean clone silently lost its only at-scale recall evidence);
    * sub-second at 10× sf0.1. Same rule and file count as the full
    * fixture, so an on-demand tile equals the fixture's copy of the
    * table (a different layout would give a timing-sensitive sf1 probe
    * different scan parallelism).
    */
  def tileEmbeddings(spark: SparkSession, src: String, dest: String,
      copies: Int): Unit =
    tile(spark, src, dest, copies, "embeddings", 1,
      Map("vec_id" -> stride(spark, src, "embeddings", "vec_id")))

  /** On-demand tile of the documents table — the dedup twins' at-scale
    * fixture, same never-skip rationale as [[tileEmbeddings]]. */
  def tileDocuments(spark: SparkSession, src: String, dest: String,
      copies: Int): Unit =
    tile(spark, src, dest, copies, "documents", 2,
      Map("doc_id" -> stride(spark, src, "documents", "doc_id")))
}

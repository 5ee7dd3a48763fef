package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming similarity search — query vectors arriving as a stream
  * (a retrieval service, an online near-dup check) probed per
  * micro-batch ([[StreamOps.eachBatch]]) against the STANDING IVF index,
  * emitting each query's top-5 cosine neighbors.
  *
  * The probe is the SAME kernel the batch query runs
  * ([[Similarity.ivfProbe]] over the standing cell-bucketed index
  * models), so batch and stream produce identical rows — pinned by
  * StreamAnnSpec.
  *
  * Scale: per micro-batch the work is O(batch × probed cells) — the
  * query side broadcasts (batch × nprobe rows), the index side reads
  * pre-clustered parquet with no exchange, and nothing about the
  * accumulated corpus is recomputed. The index refreshes on the
  * A-layer's cadence (rebuild/compact), independent of query traffic.
  */
object StreamAnn {

  /** Top-5 IVF neighbors for ONE micro-batch of (query_id, embedding)
    * rows. Runs per micro-batch under [[StreamOps.eachBatch]]. */
  def probeBatch(spark: SparkSession, dir: String,
      batchQueries: DataFrame): DataFrame = {
    // foreachBatch hands frames bound to a CLONED session — register
    // the native expressions there, not (only) on the outer session
    graft.functions.GraftFunctions.register(batchQueries.sparkSession)
    graft.functions.GraftFunctions.register(spark)
    val q = batchQueries
      .select(col("query_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("emb"))
      .withColumn("norm", sqrt(expr("graft_dot_product(emb, emb)")))
    Similarity.ivfProbe(spark, dir, q)
  }


  /** Online near-dup check for ONE micro-batch of (query_id,
    * embedding) rows: every standing-index member above 0.95 cosine
    * within each vector's probed cells ([[Similarity.ivfDupProbe]] —
    * no top-k cap, exact re-ingested clones always flag). The same
    * kernel the batch `dd_embedding_incremental` runs, so batch ≡
    * stream; the embedding-modality sibling of
    * [[StreamDedup.probeBatch]]'s LSH text probe.
    */
  def dupBatch(spark: SparkSession, dir: String,
      batchQueries: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(batchQueries.sparkSession)
    graft.functions.GraftFunctions.register(spark)
    val q = batchQueries
      .select(col("query_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("emb"))
      .withColumn("norm", sqrt(expr("graft_dot_product(emb, emb)")))
    Similarity.ivfDupProbe(spark, dir, q)
  }
}

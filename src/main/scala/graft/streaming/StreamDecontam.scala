package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming twin of [[graft.operators.Dedup.ddFuzzyDecontamination]]
  * — benchmark decontamination at the INGEST GATE (reference: dbt-fal
  * incremental re-runs per ingest, `projects/adapter/.../load.py`):
  * newly crawled documents arrive as a stream, and each micro-batch is
  * shingled, MinHash-signed, banded, and probed against the held-out
  * evaluation suite's signatures, flagging contaminated documents
  * BEFORE they enter the training corpus (the order a real pipeline
  * wants — a leak caught at ingest never needs a corpus-wide sweep).
  *
  * Scale: per micro-batch the work is O(batch) — signatures are
  * per-document, and the eval suite's bands and signatures are tiny
  * and broadcast (sliced once from the standing signature model +
  * doc_id-bucketed corpus copy). Batch/stream equivalence is exact and
  * pinned by StreamDecontamSpec: a doc's verdict depends only on its
  * own text and the fixed eval suite, so the union of per-batch
  * outputs equals the one-shot batch query.
  */
object StreamDecontam {

  /** Probe ONE micro-batch of newly ingested (doc_id, text) documents
    * against the eval suite; returns per contaminated doc the eval-hit
    * count and the strongest estimate (est-Jaccard ≥ 0.5 gate, same as
    * the batch query). Runs per micro-batch under
    * [[StreamOps.eachBatch]].
    */
  def probeBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    val probeSigs = Dedup.sigsOf(batchDocs)
    val evalSigs = Dedup.evalSuiteSigs(spark, dir)
    val evalBands = Dedup.withBb(Dedup.bandedOf(evalSigs))
      .select(col("bb"), col("doc_id").as("eval_id"))
    val cands = Dedup.withBb(Dedup.bandedOf(probeSigs))
      .select(col("doc_id").as("new_doc"), col("bb"))
      .join(broadcast(evalBands), "bb")
      .select("new_doc", "eval_id").distinct()
    Dedup.scoreAgainst(cands, probeSigs, evalSigs, "new_doc", "eval_id")
      .groupBy("new_doc")
      .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
        max(col("est_jaccard")).as("max_est_jaccard"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation2

/** Streaming exact-substring SCRUB — documents arriving as a stream
  * (an ingest feed) rewritten per micro-batch against the STANDING
  * gram doc-freq model (VERDICT r10 item #6): every position covered
  * by a 10-gram the accumulated corpus already holds in ≥2 documents
  * is cut, exactly as the batch `dd_substring_scrub` cuts it.
  * Completes the streaming-twin pattern the dedup/ANN/curation
  * families established ([[StreamDedup]]/[[StreamAnn]]/
  * [[StreamCuration]]) for the r10 scrub flagship.
  *
  * Batch ≡ stream by construction: the micro-batch runs the SAME
  * kernels the batch query runs — [[Curation2.gramHashes]] for the
  * explode, [[Curation2.sharedGrams]] for the corpus-duplicated set,
  * [[Curation2.scrubAgainst]] for the cut-and-reassemble — so
  * re-streaming corpus documents reproduces the oracle-gated batch
  * rows bit-for-bit (StreamScrubSpec pins it, planted spans included).
  *
  * Scale: per micro-batch the work is O(batch grams) — the arriving
  * side explodes map-side to 8-byte gram hashes, the probe semi-join
  * reads the standing gh-bucketed model with no exchange on the corpus
  * side, and nothing about the accumulated corpus is recomputed. The
  * standing model refreshes on the A-layer's cadence
  * (rebuild/compact), independent of ingest traffic — the same
  * index-serves-stream posture as the IVF and LSH probes.
  */
object StreamScrub {

  /** Scrub ONE micro-batch of (doc_id, text) rows against the standing
    * corpus grams. Runs per micro-batch under [[StreamOps.eachBatch]].
    */
  def scrubBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    val docs = batchDocs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    Curation2.scrubAgainst(docs, Curation2.gramHashes(docs),
      Curation2.sharedGrams(spark, dir))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming twin of [[graft.operators.Dedup.ddIncremental]] — the
  * continually-fed-corpus shape (reference: dbt-fal's incremental
  * models re-run per ingest, `projects/adapter/.../load.py`): newly
  * crawled documents arrive as a stream, and each micro-batch is
  * shingled, MinHash-signed, banded, and probed against the STANDING
  * LSH band index, emitting (new_doc, index_doc) near-dup pairs as
  * they are discovered.
  *
  * Scale: per micro-batch the work is O(batch) — signatures are
  * per-document (no cross-doc dependence), the band index is a
  * pre-bucketed standing model so the index side neither recomputes
  * nor shuffles, and candidate scoring broadcasts only the two
  * signature lookups. Batch/stream equivalence is exact and pinned by
  * StreamDedupSpec: a doc's signature depends only on its own text and
  * a pair can only surface in the one micro-batch containing its new
  * doc, so the union of per-batch outputs equals the one-shot batch
  * probe with no cross-batch duplicates.
  */
object StreamDedup {

  /** Probe ONE micro-batch of newly ingested (doc_id, text) documents
    * against the standing LSH index; returns the scored near-dup pairs
    * (new_doc, index_doc, n_match, est_jaccard ≥ 0.5). Runs per
    * micro-batch under [[StreamOps.eachBatch]].
    */
  def probeBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    val probeSigs = Dedup.sigsOf(batchDocs)
    val probe = Dedup.withBb(Dedup.bandedOf(probeSigs))
    val index = Dedup.bandIndexModel(spark, dir)
    val cands = probe.as("a").join(index.as("b").hint("shuffle_hash"),
        col("a.bb") === col("b.bb"))
      .select(col("a.doc_id").as("new_doc"),
        col("b.doc_id").as("index_doc"))
      .distinct()
    // one-sided scoring (review r13): the corpus-sized standing
    // signature model is probed map-only (candidates broadcast into
    // it); only the micro-batch's own signatures broadcast — the old
    // scoreAgainst shape broadcast the whole index table per trigger
    Dedup.scoreMapOnly(Dedup.sigModel(spark, dir), cands, probeSigs,
        "index_doc", "new_doc")
      .select("new_doc", "index_doc", "n_match", "est_jaccard")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation2, TextAnalysis}

/** Streaming corpus-drift monitor — `cu_drift`'s production shape:
  * each ARRIVING micro-batch's hashed-unigram distribution compared to
  * the STANDING reference distribution before the batch is admitted
  * (does today's crawl look like the corpus, or did the mix shift?).
  * The batch query answers the same question for a retrospective
  * in-corpus split; this is the ingest-time gate.
  *
  * Batch ≡ stream by construction: the per-bucket smoothing +
  * log-ratio readout is [[Curation2.driftReadout]] — the SAME
  * projection `cu_drift` runs — and the reference counts come from
  * [[Curation2.driftRefCounts]] (the even-doc_id half off the standing
  * doc_terms model, `cu_drift`'s own baseline). Streaming exactly the
  * odd-doc_id half therefore reproduces the oracle-gated `cu_drift`
  * rows bit-for-bit (StreamDriftSpec pins it), and a genuinely skewed
  * batch lights up its buckets' log-ratios.
  *
  * Scale: per micro-batch the work is O(batch tokens) map-side into a
  * ≤256-row aggregate; the reference side is a ≤256-row table off the
  * standing model — nothing corpus-sized moves at ingest time, and the
  * reference refreshes on the A-layer's cadence like every standing
  * model.
  */
object StreamDrift {

  /** Drift profile of ONE micro-batch of (doc_id, text) rows against
    * the standing reference distribution. Runs per micro-batch under
    * [[StreamOps.eachBatch]]. Bucket union is FULL: a bucket seen only in the
    * batch (novel vocabulary) or only in the reference still reports,
    * with add-one smoothing covering the zero side.
    */
  def driftBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    // register on the BATCH's session: foreachBatch hands a cloned
    // session, and the native hash (same values as the composed
    // conv-substr-md5 idiom) must resolve there
    graft.functions.GraftFunctions.register(batchDocs.sparkSession)
    val cand = batchDocs
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .select(expr("graft_md5_prefix(term, 4) % 256").as("b"))
      .groupBy("b").agg(count(lit(1)).as("cand_cnt"))
    val byB = Curation2.driftRefCounts(spark, dir)
      .join(cand, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cand_cnt"), lit(0L)).as("cand_cnt"))
    Curation2.driftReadout(byB)
  }
}

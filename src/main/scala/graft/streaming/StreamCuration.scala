package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming ingest curation — the front of a training-data pipeline
  * run as documents arrive instead of as a nightly batch: each
  * micro-batch of (doc_id, text) rows is language-identified, quality-
  * gated, and its survivors probed against the standing near-dup index,
  * emitting one curation-decision row per surviving document.
  *
  * All three stages are the SAME kernels the batch operators run —
  * [[TextAnalysis.langidOf]]/[[TextAnalysis.qualityOf]] (row-local
  * expressions) and [[StreamDedup.probeBatch]] (O(batch) standing-index
  * probe) — so batch and stream produce identical rows; pinned by
  * StreamCurationSpec.
  *
  * Scale: the gates are whole-stage-codegen column expressions with no
  * shuffle; the only shuffle per micro-batch is the probe's band join,
  * which is O(batch) against the pre-bucketed index. At 100 TB of
  * accumulated corpus the per-batch cost tracks the batch size only.
  */
object StreamCuration {

  /** Curation decisions for ONE micro-batch: quality-gated survivors
    * with language prediction, PII scrub stats, and near-dup verdict
    * (is_dup when the standing index holds a doc with estimated
    * Jaccard ≥ 0.5). Stage order follows the production convention:
    * gate → language-ID → PII redaction → dedup, with the dup probe
    * shingling the REDACTED text so a scrubbed tag never blocks a
    * near-dup match the raw PII would have split.
    */
  def curateBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    val gated = graft.operators.TextAnalysis3.piiOf(
        TextAnalysis.langidOf(TextAnalysis.qualityOf(batchDocs)))
      .filter(col("passes_gate"))
      .withColumn("n_pii",
        // phone_intl is EXCLUDED from the sum: every +1-form match
        // also matches the plain phone pattern on its 10-digit tail
        // (the documented count overlap in piiPatterns), so summing
        // both would double-count international numbers
        graft.operators.TextAnalysis3.piiPatterns
          .collect { case (n, _, _) if n != "phone_intl" => col(s"n_$n") }
          .reduce(_ + _))
    val dups = StreamDedup.probeBatch(spark, dir,
        gated.select(col("doc_id"), col("redacted").as("text")))
      .groupBy("new_doc")
      .agg(count(lit(1)).as("n_dup_matches"),
        max(col("est_jaccard")).as("max_dup_jaccard"))
    gated.join(dups, gated("doc_id") === dups("new_doc"), "left")
      .select(gated("doc_id"), col("predicted_lang"), col("n_tokens"),
        col("punct_ratio"), col("mean_token_len"), col("n_pii"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        coalesce(col("max_dup_jaccard"), lit(0.0)).as("max_dup_jaccard"),
        coalesce(col("n_dup_matches") > 0, lit(false)).as("is_dup"))
  }

  /** The full ingest front end-to-end: curation decisions stream into
    * the registered model `name` through [[StreamIngest.applyBatch]]'s
    * idempotent append chain — each micro-batch lands as one
    * increment-only version, restart replays are no-ops, and
    * downstream models `ref()` the accumulating decision table like
    * any other A-layer relation.
    */
  def toModel(spark: SparkSession, dir: String, docs: DataFrame,
      api: graft.api.FalApi, name: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    StreamOps.eachBatch(docs) { (batch, batchId) =>
      StreamIngest.applyBatch(api, name,
        curateBatch(spark, dir, batch), batchId)
      ()
    }.option("checkpointLocation", checkpointDir).start()

  /** Route one micro-batch of (doc_id, text, event_ts) rows under the
    * E3 watermark discipline: rows whose event_ts has fallen behind
    * the high-watermark — the max event time across all PRIOR batches
    * minus `delaySeconds` — are appended to `<name>_quarantine`
    * (batch-id-stamped, un-curated) instead of silently entering the
    * curated corpus; on-time rows run the normal curation. Production
    * pipelines audit quarantines rather than absorbing stragglers that
    * would retroactively shift published corpus statistics.
    *
    * Each of the THREE models a batch may touch (quarantine, curated,
    * watermark state) commits its append atomically and independently
    * — the batch id rides each model's pointer metadata in the same
    * ATOMIC_MOVE as its version flip (see [[StreamIngest]]) — so a
    * crash anywhere mid-batch replays the whole batch and the
    * already-committed sibling appends no-op; no interleaving
    * duplicates rows.
    *
    * The watermark state is itself replay-safe: each batch appends its
    * (batch_id, max_ts) row to `<name>_wm_state` through the same
    * idempotent commit chain, and the watermark for batch B derives
    * only from rows with batch_id < B — so a restart replays B against
    * exactly the state it saw the first time, and the replayed
    * appends are no-ops. The per-batch state reads are single-row
    * scalar lookups (the control loop's own state, not a data-plane
    * collect); watermark semantics match the batch e3_watermark
    * operator: the FIRST batch has no watermark and quarantines
    * nothing, exactly like Spark's own eventTime watermark starting
    * at zero. A NULL event_ts makes no event-time claim and is routed
    * on-time at every batch (never silently dropped).
    *
    * Operational rule (same as [[StreamIngest]]'s commit log): the
    * checkpoint dir and the model's registry dir live and die
    * TOGETHER. Restarting with a fresh checkpoint against an existing
    * model resets batch ids below the recorded commit, which no-ops
    * the replays and derives watermarks from the previous run's state
    * — delete (or version) both, or neither.
    */
  private[streaming] def applyBatchWatermarked(spark: SparkSession,
      dir: String, api: graft.api.FalApi, name: String,
      batch: DataFrame, batchId: Long, delaySeconds: Long): Unit = {
    val wmName = s"${name}_wm_state"
    val watermark: Option[java.sql.Timestamp] =
      if (api.registry.relationExists(wmName)) {
        val prior = api.ref(wmName).filter(col("batch_id") < batchId)
          .agg(max(col("max_ts"))).collect()(0)
        Option(prior.getTimestamp(0))
          .map(t => new java.sql.Timestamp(t.getTime - delaySeconds * 1000L))
      } else None
    // a NULL event_ts is "no event-time claim": route it on-time
    // (curated) at every batch, matching the no-watermark behavior of
    // batch 0 — a null must never silently match neither filter. The
    // three reads of `batch` below share the persist of
    // StreamOps.eachBatch.
    val late = watermark
      .map(w => batch.filter(col("event_ts") < lit(w)))
      .getOrElse(batch.limit(0))
    val onTime = watermark
      .map(w => batch.filter(col("event_ts") >= lit(w) ||
        col("event_ts").isNull))
      .getOrElse(batch)
    if (!late.isEmpty)
      StreamIngest.applyBatch(api, s"${name}_quarantine",
        late.withColumn("batch_id", lit(batchId)), batchId)
    StreamIngest.applyBatch(api, name,
      curateBatch(spark, dir, onTime.select("doc_id", "text")), batchId)
    // advance the state LAST: a crash before this line replays the
    // batch against the same watermark; the data appends above are
    // already committed and no-op on the replay
    val mx = batch.agg(max(col("event_ts"))).collect()(0).getTimestamp(0)
    if (mx != null) {
      import spark.implicits._
      StreamIngest.applyBatch(api, wmName,
        Seq((batchId, mx)).toDF("batch_id", "max_ts"), batchId)
    }
  }

  /** [[toModel]] with the watermark discipline of
    * [[applyBatchWatermarked]] attached — the curated model gains a
    * `<name>_quarantine` sibling for late arrivals and a
    * `<name>_wm_state` sibling holding the per-batch event-time highs.
    */
  def toModelWatermarked(spark: SparkSession, dir: String,
      docs: DataFrame, api: graft.api.FalApi, name: String,
      checkpointDir: String, delaySeconds: Long = 600L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamOps.eachBatch(docs) { (batch, batchId) =>
      applyBatchWatermarked(spark, dir, api, name, batch, batchId,
        delaySeconds)
    }.option("checkpointLocation", checkpointDir).start()
}

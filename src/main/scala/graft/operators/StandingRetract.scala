package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.WriteResult

/** Incremental RETRACTION of documents from the standing-model layer —
  * the deletion dual of [[StandingIngest]] (reference anchor: the
  * incremental-strategy surface in `impl.py` plus the takedown/opt-out
  * flows every production corpus store runs; SURVEY.md §2a A13's
  * retention posture). A batch of doc ids (a GDPR/opt-out/takedown
  * request — bounded, request-sized) is removed from the corpus files
  * by the caller; this object then brings every standing model to the
  * post-delete state WITHOUT corpus-sized rebuilds, by ALGEBRAIC SHAPE:
  *
  *   - doc_id-BUCKETED models (`documents_by_doc`, `graft_lsh_sigs`,
  *     `graft_minhash128_sigs`): O(affected-buckets) physical delete —
  *     each doc's rows live in exactly one bucket, so only those
  *     buckets rewrite ([[graft.api.FalApi.deleteFromBucketedModel]]);
  *   - scattered-key models carrying doc_id (`gram_starts_10`,
  *     `doc_terms`, `doc_shingles`, `graft_lsh_band_index`,
  *     `graft_simhash_sigs` — [[Shared.TombstoneCovered]]): a physical
  *     delete would rewrite every bucket, so the ids append to the
  *     shared [[Shared.TombstoneModel]] and RESOLUTION anti-joins the
  *     (request-sized, broadcast) tombstone set — O(batch) now, with
  *     the physical sweep deferred to the next compaction
  *     ([[StandingIngest.compactStanding]] applies the filter in the
  *     rewrite). Each covered model's fingerprint salts in the
  *     tombstone state, so the advance here is what the next resolve
  *     recomputes, and a lost tombstone set forces rebuilds rather
  *     than serving unfiltered rows;
  *   - ADDITIVE aggregates (`bigram_counts`, `drift_ref_256`): the
  *     retracted docs' partial counts append NEGATED; the aggregate-
  *     on-read rollup cancels them and drops exact zeros — identical
  *     to a rebuild over the rewritten corpus;
  *   - non-retractable state (`gram_shared_10` — sharedness is a
  *     non-monotone global property under deletion; BPE/PQ trained
  *     state; `doc_perplexity`): left UNTOUCHED, their now-stale
  *     fingerprints forcing a rebuild on next touch — the same honest
  *     lapse [[StandingIngest]] uses for non-appendable shapes.
  *
  * Contract (mirror of the append contract, reversed): capture
  * [[StandingIngest.capturePre]] BEFORE rewriting the corpus files,
  * rewrite the corpus (drop the docs' rows), then call with the
  * REMOVED docs' full rows (text is needed for the negative partials
  * and the derived dedup-corpus ids). Captures are SINGLE-USE: each
  * model's guard (stored fingerprint == captured pre-state) proves the
  * model is current up to exactly this deletion; after any mid-flight
  * failure take a FRESH capture — the already-advanced models skip,
  * the interrupted ones fail the fresh guard and rebuild on next
  * resolve. Never re-run with a pre-crash capture (the in-place
  * delete and the negative append are not idempotent). Crash ordering:
  * tombstone ids commit FIRST, so a covered model's salted advance
  * never references a tombstone state that failed to land.
  *
  * [[retractEmbeddingBatch]] is the embeddings-side twin: the IVF
  * assignment rows and the banded-LSH rows scatter across cell/band
  * buckets, so both take the tombstone path (a separate
  * [[Shared.VecTombstoneModel]] — vec and doc id spaces overlap), the
  * retained centroids advance first (the fixed-centroid policy — the
  * same crash ordering as the append path), and trained state
  * (PQ codebook/codes) lapses into a rebuild on next touch. A
  * retraction that moves the corpus count across a K or band-width
  * geometry boundary changes the model NAMES, so the pre-capture
  * misses and everything rebuilds — automatic, same as the append
  * path's boundary handling.
  */
object StandingRetract {

  private def api(spark: SparkSession, dir: String) =
    new graft.api.FalApi(spark, Shared.registryOf(spark, dir),
      new graft.api.RunLedger)

  /** Pointer-meta key recording the last applied retraction batch id
    * PER MODEL — the exactly-once convention of
    * [[StandingIngest.BatchMetaKey]] applied to the deletion stream:
    * committed in the same swap as each model's retraction step, so a
    * replayed micro-batch skips exactly the models that already
    * committed it (critical for the NON-idempotent arms: a replayed
    * negative append would double-decrement). */
  val RetractMetaKey = "retract_batch"

  /** Pointer-meta key recording the last applied retraction REQUEST id
    * (content hash of the sorted raw id list) PER MODEL — idempotency
    * for the non-streaming path's NON-idempotent arms (ADVICE r13):
    * after a mid-flight crash the documented recovery is a FRESH
    * capture + re-run, but an additive model that already committed its
    * negative partials passes the fresh guard (the corpus is unchanged
    * and these models carry no tombstone salt), so without this key the
    * negatives would append a second time and silently double-decrement.
    * A positive append ([[StandingIngest.appendOne]]) REPLACES pointer
    * meta wholesale, so a later delete → re-add → delete of the same id
    * set is not wrongly skipped: the re-add clears the key. */
  val RetractReqKey = "retract_req"

  /** Stored-fingerprint guard, shared by every arm: act only when the
    * model verifiably includes everything up to (and nothing past)
    * the captured pre-delete state, and (when streaming) this batch id
    * was not already committed to it. */
  private def guardOk(spark: SparkSession, dir: String, name: String,
      pre: Map[String, String],
      batchId: Option[Long] = None): Boolean = {
    val meta = Shared.registryOf(spark, dir).pointerMeta(name)
    val replayed = batchId.exists(id =>
      meta.get(RetractMetaKey).map(_.toLong).exists(_ >= id))
    !replayed &&
      pre.get(name).exists(meta.get(Shared.FingerprintKey).contains)
  }

  private def withBatch(meta: Map[String, String],
      batchId: Option[Long]): Map[String, String] =
    meta ++ batchId.map(id => RetractMetaKey -> id.toString)

  /** Retract a batch of documents from every standing model of `dir`.
    * `deleted` = the removed docs' FULL rows (doc_id, source, lang,
    * text, n_chars — the content the caller took out of the corpus);
    * `pre` = [[StandingIngest.capturePre]] taken before the corpus
    * rewrite. Returns per-model results (absent key = model not
    * materialized, or its guard skipped it into a rebuild).
    */
  def retractDocBatch(spark: SparkSession, dir: String,
      deleted: DataFrame, pre: Map[String, String],
      batchId: Option[Long] = None)
      : Map[String, WriteResult] = {
    import spark.implicits._
    // the corpus CHANGED under this process: drop every in-process
    // standing-model memo for the dir (the `built` trust assumes
    // immutability-except-invalidate), so non-advanced models go back
    // through the fingerprint check — the lapse-into-rebuild path —
    // instead of being served stale from the memo. Models this call
    // advances re-enter the memo via markResolved.
    Shared.invalidate(dir)
    val rawIds = deleted.select(col("doc_id")).distinct()
      .as[Long].collect().toSeq.sorted
    require(rawIds.nonEmpty, "retractDocBatch: empty deletion batch")
    // derived dedup-corpus ids (originals ∪ truncations ∪ clones): the
    // signature/band models index the DERIVED corpus, so retracting a
    // doc retracts its derivations — deterministic per doc, so the
    // derived ids are computable from the deleted rows alone
    val derivedIds = Dedup.corpusOf(deleted).select(col("doc_id"))
      .distinct().as[Long].collect().toSeq.sorted
    // BOTH bounds checked BEFORE any mutation: a mid-flight size
    // failure would leave the retraction half-applied
    require(math.max(rawIds.size, derivedIds.size) <= 100000,
      s"retractDocBatch: ${rawIds.size} raw / ${derivedIds.size} " +
        "derived ids exceed the 100k request bound — corpus-scale " +
        "deletions should rewrite and rebuild")

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, WriteResult]
    val reg = Shared.registryOf(spark, dir)
    val a = api(spark, dir)

    // step 4's negative partials are collected here too, as driver-
    // local rows: like the ids above, everything derived from the
    // request is read BEFORE the first mutation, so a request frame
    // that lazily reads state this call rewrites (step 3 physically
    // deletes from documents_by_doc) is never re-evaluated after it
    def negatedRows(name: String, inc: => DataFrame): Option[DataFrame] =
      if (!reg.relationExists(name)) None
      else {
        val df = inc
        Some(spark.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema))
      }
    val negBigrams = negatedRows("bigram_counts",
      TextAnalysis.bigramCountsOf(deleted).withColumn("cnt", -col("cnt")))
    val negDrift = negatedRows("drift_ref_256",
      Curation2.driftRefCountsOf(deleted)
        .withColumn("ref_cnt", -col("ref_cnt")))

    // 1. tombstone ids commit FIRST (see crash ordering above). The
    // tombstone model is REQUEST state: registered with a build that
    // refuses to run — it can never be "rebuilt from the corpus". Raw
    // and derived ids ride one table FLAGGED by id space: the offset
    // derived ids can collide with live raw ids on a large corpus, so
    // resolution filters each covered model by exactly its space
    // (Shared.applyTombstones).
    val tombDf = rawIds.toDF("doc_id")
      .withColumn("derived", lit(false))
      .unionByName(derivedIds.toDF("doc_id")
        .withColumn("derived", lit(true)))
    val tombApi = Shared.api(spark, reg, Shared.TombstoneModel,
      "doc_id", (_, _) => throw new IllegalStateException(
        s"${Shared.TombstoneModel} is request state, never rebuilt"),
      dir)
    // streaming replay guard on the tombstone append itself: a
    // redelivered micro-batch must not duplicate its id rows
    val tombReplayed = batchId.exists(id =>
      reg.relationExists(Shared.TombstoneModel) &&
        reg.pointerMeta(Shared.TombstoneModel)
          .get(RetractMetaKey).map(_.toLong).exists(_ >= id))
    if (!tombReplayed) {
      val tombRes =
        if (reg.relationExists(Shared.TombstoneModel))
          tombApi.appendToBucketedModel(tombDf, Shared.TombstoneModel,
            withBatch(reg.pointerMeta(Shared.TombstoneModel), batchId))
        else tombApi.writeToModel(tombDf, Shared.TombstoneModel,
          pointerMeta = withBatch(Map.empty, batchId))
      results.put(Shared.TombstoneModel, tombRes)
      Shared.tombstonesChanged(dir)
    }

    // 2. covered models: resolution now filters them; advance each
    // guard-passing model's fingerprint (salted with the NEW tombstone
    // state) in a version-checked meta-only swap — O(1) per model.
    // Bucket keys come from the ONE declaration the append path
    // maintains (StandingIngest.DocModels), so the two flows cannot
    // silently diverge on a key change.
    val bucketOf = StandingIngest.DocModels.toMap
    Shared.TombstoneCovered.toSeq.sorted.foreach { name =>
      if (reg.relationExists(name) &&
          guardOk(spark, dir, name, pre, batchId)) {
        val cur = reg.currentPath(name).get
        val fp = Shared.modelFingerprint(spark, dir, name,
          bucketOf(name), Seq("documents"), preferMarkerBuckets = true)
        reg.swapPointer(name, cur,
          withBatch(reg.pointerMeta(name) +
            (Shared.FingerprintKey -> fp), batchId),
          expectedVersion = reg.currentVersion(name))
        Shared.markResolved(spark, dir, name)
        // informational row count: the ids newly filtering this model
        val n = if (name == "graft_lsh_band_index" ||
            name == "graft_simhash_sigs") derivedIds.size
          else rawIds.size
        results.put(name, WriteResult(name, n.toLong, "retract_filter"))
      }
    }

    // 3. doc_id-bucketed models: O(affected-buckets) physical delete
    def physical(name: String, keys: Seq[Long]): Unit =
      if (reg.relationExists(name) &&
          guardOk(spark, dir, name, pre, batchId)) {
        val fp = Shared.modelFingerprint(spark, dir, name,
          bucketOf(name), Seq("documents"), preferMarkerBuckets = true)
        val res = a.deleteFromBucketedModel(keys, "doc_id", name,
          withBatch(reg.pointerMeta(name) +
            (Shared.FingerprintKey -> fp), batchId))
        Shared.markResolved(spark, dir, name)
        results.put(name, res)
      }
    physical("documents_by_doc", rawIds)
    physical("graft_lsh_sigs", derivedIds)
    physical("graft_minhash128_sigs", derivedIds)

    // 4. additive aggregates: negative partials, cancelled (and
    // zero-dropped) by the aggregate-on-read rollup. These are the
    // NON-idempotent arms, so besides the streaming batch id they
    // commit the request's content id ([[RetractReqKey]]) and skip
    // when it already landed — a fresh-capture re-run after a crash
    // can never double-decrement.
    val reqId = java.security.MessageDigest.getInstance("MD5")
      .digest(rawIds.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def negative(name: String, bucketBy: String,
        rows: Option[DataFrame]): Unit = rows.foreach { inc =>
      if (guardOk(spark, dir, name, pre, batchId) &&
          !reg.pointerMeta(name).get(RetractReqKey).contains(reqId)) {
        val fp = Shared.modelFingerprint(spark, dir, name, bucketBy,
          Seq("documents"), preferMarkerBuckets = true)
        val res = a.appendToBucketedModel(inc, name,
          withBatch(reg.pointerMeta(name) +
            (Shared.FingerprintKey -> fp) +
            (RetractReqKey -> reqId), batchId))
        Shared.markResolved(spark, dir, name)
        results.put(name, res)
      }
    }
    negative("bigram_counts", bucketOf("bigram_counts"), negBigrams)
    negative("drift_ref_256", bucketOf("drift_ref_256"), negDrift)

    // 5. gram_shared_10 (and any other non-retractable shape) is
    // deliberately untouched: its stale fingerprint rebuilds it on
    // next touch from the rewritten corpus, through the (tombstone-
    // filtered) gram_starts_10 resolve — correct by construction.

    results.toMap
  }

  /** Retract a batch of embeddings from the standing ANN models of
    * `dir`. `deleted` = the removed (vec_id, …) rows; `pre` =
    * [[StandingIngest.capturePreEmbeddings]] taken before the corpus
    * rewrite. The IVF index and the banded-LSH table are covered by
    * the vec tombstone filter (meta-only salted advance here); the
    * retained centroids' fingerprint advances FIRST so a mid-call
    * crash can never leave a fingerprint-current index over centroids
    * a later resolve would retrain.
    */
  def retractEmbeddingBatch(spark: SparkSession, dir: String,
      deleted: DataFrame, pre: Map[String, String])
      : Map[String, WriteResult] = {
    import spark.implicits._
    // corpus changed: clear the per-process memos (incl. the ivfParams
    // count cache, so geometry re-derives from the rewritten corpus)
    Shared.invalidate(dir)
    val ids = deleted.select(col("vec_id")).distinct()
      .as[Long].collect().toSeq.sorted
    require(ids.nonEmpty, "retractEmbeddingBatch: empty deletion batch")
    require(ids.size <= 100000,
      s"retractEmbeddingBatch: ${ids.size} ids exceeds the 100k " +
        "request bound — corpus-scale deletions should rewrite and " +
        "rebuild")
    val reg = Shared.registryOf(spark, dir)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, WriteResult]

    // 1. tombstone ids commit first (crash ordering — see class doc)
    val tombDf = ids.toDF("vec_id")
    val tombApi = Shared.api(spark, reg, Shared.VecTombstoneModel,
      "vec_id", (_, _) => throw new IllegalStateException(
        s"${Shared.VecTombstoneModel} is request state, never rebuilt"),
      dir)
    val tombRes =
      if (reg.relationExists(Shared.VecTombstoneModel))
        tombApi.appendToBucketedModel(tombDf, Shared.VecTombstoneModel)
      else tombApi.writeToModel(tombDf, Shared.VecTombstoneModel)
    results.put(Shared.VecTombstoneModel, tombRes)
    Shared.tombstonesChanged(dir)

    // 2. geometry from the REWRITTEN corpus: names match the capture
    // exactly when the deletion did not cross a K / band-width
    // boundary; on a crossing the guard misses and everything rebuilds
    val p = Similarity.ivfParams(spark, dir)
    val r = Similarity.LloydRounds
    val idxName = s"graft_ivf_index_k${p.k}_r$r"
    val centsName = s"graft_ivf_cents_k${p.k}_r$r"
    val lshName = Dedup2.lshModelName(p.nc)

    def advance(name: String, bucketBy: String): Unit =
      if (reg.relationExists(name) && guardOk(spark, dir, name, pre)) {
        val cur = reg.currentPath(name).get
        val fp = Shared.modelFingerprint(spark, dir, name, bucketBy,
          Seq("embeddings"), preferMarkerBuckets = true)
        reg.swapPointer(name, cur,
          reg.pointerMeta(name) + (Shared.FingerprintKey -> fp),
          expectedVersion = reg.currentVersion(name))
        Shared.markResolved(spark, dir, name)
        results.put(name, WriteResult(name, ids.size.toLong,
          "retract_filter"))
      }

    // 3. retained centroids advance FIRST (their content does not
    // depend on the retracted rows under the fixed-centroid policy),
    // then the index, then the LSH table — the append path's ordering.
    // The cents advance is guarded by the CENTROIDS' OWN captured
    // pre-state (capturePreEmbeddings records it): an unverifiable
    // centroid model must never be stamped current. And the INDEX
    // advance is gated on the cents advance having happened (ADVICE
    // r13): if the cents guard fails — or the cents model is absent —
    // the index must lapse WITH the centroids, or a "current" index
    // would sit over centroids a later resolve retrains.
    if (reg.relationExists(idxName) &&
        guardOk(spark, dir, idxName, pre) &&
        reg.relationExists(centsName) &&
        guardOk(spark, dir, centsName, pre)) {
      Shared.advanceFingerprint(spark, dir, centsName,
        Seq("embeddings"), "cell")
      advance(idxName, "cell")
    }
    advance(lshName, "bk")

    results.toMap
  }

  /** Attach standing-model RETRACTION maintenance to a stream of
    * deletion requests (full doc rows of the docs to remove) via
    * [[graft.streaming.StreamOps.eachBatch]] — the deletion twin of
    * [[StandingIngest.attach]]. Per micro-batch: the pre-delete
    * fingerprints are captured, `unland(batch, batchId)` removes the
    * docs' rows from the corpus store (the caller's rewrite — route it
    * through an id-guarded store so a replayed batch's rewrite is a
    * no-op), then
    * [[retractDocBatch]] brings every standing model to the
    * post-delete state with the batch id committed per model
    * ([[RetractMetaKey]]) — a replay after a mid-way crash skips
    * exactly the models that already committed (the non-idempotent
    * negative appends can never double-decrement) and the models that
    * missed it fail the fresh-capture guard into a rebuild. Caller
    * adds checkpointing/trigger options and starts.
    */
  def attachRetractions(spark: SparkSession, dir: String,
      requests: DataFrame)(
      unland: (DataFrame, Long) => Unit,
      onBatch: Map[String, WriteResult] => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamOps.eachBatch(requests) { (batch, batchId) =>
      val pre = StandingIngest.capturePre(spark, dir)
      unland(batch, batchId)
      onBatch(retractDocBatch(spark, dir, batch, pre,
        batchId = Some(batchId)))
    }
}

package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The retraction contract ([[StandingRetract]] — the deletion dual of
  * StandingIngestSpec's append contract):
  *
  *   1. after a deletion batch (corpus files rewritten, then
  *      `retractDocBatch`), every maintained standing model reads
  *      row-identically to a full rebuild over the rewritten corpus —
  *      with ZERO rebuilds (tombstone anti-joins, bucket-pruned
  *      physical deletes, negative partials);
  *   2. the advanced (tombstone-salted) fingerprints survive a
  *      simulated process restart — cold resolve, zero rebuild;
  *   3. non-retractable state (`gram_shared_10`) lapses honestly:
  *      exactly one rebuild on next touch, landing on the post-delete
  *      rows;
  *   4. captures are single-use — a guard seeing a fingerprint it
  *      cannot verify skips the model into a rebuild, never stamping
  *      over unverifiable state;
  *   5. the compaction sweep physically drops tombstoned rows while
  *      the logical read is unchanged.
  */
class StandingRetractSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"
  private val dir = Files.createTempDirectory("graft_retract").toString

  private def allDocs = spark.read.parquet(s"$src/documents.parquet")
  // deletion request = every doc_id ≡ 2 (mod 7); second request ≡ 3
  private def del1 = allDocs.filter(col("doc_id") % 7 === 2)
  private def keep1 = allDocs.filter(col("doc_id") % 7 =!= 2)

  override def beforeAll(): Unit = {
    allDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.invalidate(dir, "documents")
  }

  override def afterAll(): Unit = {
    graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir))
    graft.api.FsIO.deleteTree(dir)
    Shared.invalidate(dir)
  }

  private def assertSameRows(model: DataFrame, direct: DataFrame,
      what: String): Unit = {
    val extra = model.exceptAll(direct).count()
    val missing = direct.exceptAll(model).count()
    assert(extra == 0 && missing == 0,
      s"$what: $extra extra / $missing missing rows vs direct rebuild")
  }

  private def builds(name: String): Long =
    Shared.buildCounts.getOrElse((dir, name), 0L)

  private val maintained = Seq("gram_starts_10", "documents_by_doc",
    "doc_terms", "bigram_counts", "drift_ref_256", "doc_shingles",
    "graft_lsh_sigs", "graft_minhash128_sigs", "graft_lsh_band_index",
    "graft_simhash_sigs")

  private def touchAll(): Unit = {
    Curation2.gramStarts(spark, dir).count()
    Curation2.sharedGrams(spark, dir).count()
    Curation2.docsById(spark, dir).count()
    Curation2.driftRefCounts(spark, dir).count()
    TextAnalysis.docTerms(spark, dir).count()
    TextAnalysis.bigramCounts(spark, dir).count()
    Dedup.docShingles(spark, dir).count()
    Dedup.sigModel(spark, dir).count()
    DedupHi.sigModel(spark, dir).count()
    Dedup.bandIndexModel(spark, dir).count()
    Dedup.simhashSigs(spark, dir).count()
    ()
  }

  /** Rewrite the corpus file set to exactly `docs` (the caller-side
    * "remove the rows" step a takedown performs before retracting). */
  private def rewriteCorpus(docs: DataFrame): Unit = {
    val snap = docs.localCheckpoint()
    snap.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.invalidate(dir, "documents")
  }

  test("retractDocBatch ≡ full rebuild over the rewritten corpus, " +
      "with zero rebuilds and restart-stable fingerprints") {
    touchAll()
    (maintained :+ "gram_shared_10")
      .foreach(m => assert(builds(m) >= 1, s"$m not built"))
    val snapshot = (maintained :+ "gram_shared_10")
      .map(m => m -> builds(m)).toMap

    val del = del1.localCheckpoint()
    assert(del.count() > 0)
    val pre = StandingIngest.capturePre(spark, dir)
    rewriteCorpus(keep1)
    val results = StandingRetract.retractDocBatch(spark, dir, del, pre)
    assert(results.keySet ==
      (maintained :+ Shared.TombstoneModel).toSet,
      s"every maintained model retracted: ${results.keySet}")

    // direct recomputation over the REWRITTEN corpus (the rebuild the
    // retraction avoided)
    val keep = graft.operators.t(spark, dir, "documents")
    val keepW = keep.select(col("doc_id"), split(col("text"), " ").as("w"))
    assertSameRows(Curation2.gramStarts(spark, dir),
      Curation2.gramHashes(keepW), "gram_starts_10")
    assertSameRows(TextAnalysis.docTerms(spark, dir)
        .select("doc_id", "source", "lang", "term", "cnt"),
      TextAnalysis.docTermsOf(keep), "doc_terms")
    assertSameRows(Curation2.docsById(spark, dir)
        .select(keep.columns.map(col).toIndexedSeq: _*),
      keep, "documents_by_doc")
    assertSameRows(TextAnalysis.bigramCounts(spark, dir),
      TextAnalysis.bigramCountsOf(keep), "bigram_counts")
    assertSameRows(Curation2.driftRefCounts(spark, dir),
      Curation2.driftRefCountsOf(keep), "drift_ref_256")
    assertSameRows(Dedup.docShingles(spark, dir)
        .select("doc_id", "source", "shingle"),
      Dedup.shingleSet(keep.select(col("doc_id"), col("source"),
          col("text")))
        .select(col("doc_id"), col("source"),
          xxhash64(col("shingle")).as("shingle")),
      "doc_shingles")
    val keepCorpus = Dedup.corpusOf(keep)
    assertSameRows(Dedup.sigModel(spark, dir),
      Dedup.sigsOf(keepCorpus.select("doc_id", "text")),
      "graft_lsh_sigs")
    assertSameRows(DedupHi.sigModel(spark, dir),
      Dedup.sigsOf(keepCorpus.select("doc_id", "text"), DedupHi.params),
      "graft_minhash128_sigs")
    assertSameRows(Dedup.bandIndexModel(spark, dir),
      Dedup.withBb(Dedup.bandedOf(
        Dedup.sigsOf(keepCorpus.select("doc_id", "text"))
          .filter(col("doc_id") % 10 =!= 9))),
      "graft_lsh_band_index")
    assertSameRows(Dedup.simhashSigs(spark, dir),
      Dedup.simhashOf(keepCorpus), "graft_simhash_sigs")

    // the retraction itself rebuilt NOTHING
    maintained.foreach(m => assert(builds(m) == snapshot(m),
      s"$m rebuilt during retraction"))

    // gram_shared_10 lapses honestly: exactly one rebuild on next
    // touch, landing on the post-delete shared set (built through the
    // tombstone-filtered gram_starts resolve)
    assertSameRows(Curation2.sharedGrams(spark, dir),
      Curation2.gramHashes(keepW).groupBy("gh")
        .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
        .filter(col("d0") =!= col("d1")).select("gh"),
      "gram_shared_10")
    assert(builds("gram_shared_10") == snapshot("gram_shared_10") + 1,
      "gram_shared_10 must rebuild exactly once after a retraction")

    // simulated restart: the tombstone-salted fingerprints resolve
    // cold with zero rebuild
    Shared.invalidate(dir)
    Curation2.gramStarts(spark, dir).count()
    Dedup.sigModel(spark, dir).count()
    TextAnalysis.bigramCounts(spark, dir).count()
    assert(builds("gram_starts_10") == snapshot("gram_starts_10"),
      "gram_starts_10 rebuilt despite retraction-advanced fingerprint")
    assert(builds("graft_lsh_sigs") == snapshot("graft_lsh_sigs"))
    assert(builds("bigram_counts") == snapshot("bigram_counts"))
  }

  test("captures are single-use: an unverifiable guard skips the " +
      "model into a rebuild instead of stamping over it") {
    touchAll()
    val del2 = graft.operators.t(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 3).localCheckpoint()
    val keep2 = graft.operators.t(spark, dir, "documents")
      .filter(col("doc_id") % 7 =!= 3).localCheckpoint()
    rewriteCorpus(keep2)
    // WRONG-BY-CONTRACT capture: taken AFTER the rewrite, so no stored
    // fingerprint can match it — every guard must skip
    val stale = StandingIngest.capturePre(spark, dir)
    val results = StandingRetract
      .retractDocBatch(spark, dir, del2, stale)
    assert(results.keySet == Set(Shared.TombstoneModel),
      s"guards must skip every model on an unverifiable capture: " +
        s"${results.keySet}")
    // the skipped models' stale fingerprints rebuild on next touch —
    // and the rebuilt rows are the post-delete state
    val before = builds("gram_starts_10")
    val keep = graft.operators.t(spark, dir, "documents")
    assertSameRows(Curation2.gramStarts(spark, dir),
      Curation2.gramHashes(keep.select(col("doc_id"),
        split(col("text"), " ").as("w"))), "gram_starts_10 post-skip")
    assert(builds("gram_starts_10") == before + 1,
      "a skipped model must rebuild on next touch")
  }

  test("compaction sweep physically drops tombstoned rows; the " +
      "logical read is unchanged") {
    val reg = Shared.registryOf(spark, dir)
    val a = new graft.api.FalApi(spark, reg, new graft.api.RunLedger)
    val name = "doc_terms"
    // stage a fresh, properly-captured retraction (test 2's skipped
    // models rebuilt from the rewritten corpus, so their files hold no
    // tombstoned rows anymore — also exercising the append arm of the
    // tombstone model for the third time)
    touchAll()
    val del3 = graft.operators.t(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 4).localCheckpoint()
    val keep3 = graft.operators.t(spark, dir, "documents")
      .filter(col("doc_id") % 7 =!= 4).localCheckpoint()
    val pre3 = StandingIngest.capturePre(spark, dir)
    rewriteCorpus(keep3)
    val res3 = StandingRetract.retractDocBatch(spark, dir, del3, pre3)
    assert(res3.contains(name), s"$name must advance in retraction 3")
    val logical = TextAnalysis.docTerms(spark, dir)
      .select("doc_id", "source", "lang", "term", "cnt")
      .localCheckpoint()
    val nLogical = logical.count()
    val cur = reg.currentPath(name).get
    val tombstoned = spark.read.parquet(cur)
      .join(spark.read.parquet(reg.currentPath(
          Shared.TombstoneModel).get).select("doc_id"),
        Seq("doc_id"), "left_semi").count()
    assert(tombstoned > 0,
      "fixture must have physically-present tombstoned rows pre-sweep")
    a.compactModel(name,
      transform = Shared.retractionSweep(spark, dir, name))
    Shared.markResolved(spark, dir, name)
    val swept = reg.currentPath(name).get
    val sweptPhys = spark.read.parquet(swept)
    assert(sweptPhys.join(spark.read.parquet(reg.currentPath(
          Shared.TombstoneModel).get).select("doc_id"),
        Seq("doc_id"), "left_semi").count() == 0,
      "sweep must physically drop tombstoned rows")
    assertSameRows(TextAnalysis.docTerms(spark, dir)
        .select("doc_id", "source", "lang", "term", "cnt"),
      logical, "doc_terms post-sweep")
    assert(sweptPhys.count() == nLogical)
  }

  test("retractEmbeddingBatch: tombstone-filtered IVF index and LSH " +
      "table read as the post-delete state over retained centroids, " +
      "zero rebuilds, restart-stable") {
    spark.read.parquet(s"$src/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir, "embeddings")
    Shared.invalidate(dir)
    Similarity.ivfIndexModel(spark, dir).count()
    Dedup2.lshBandModel(spark, dir).count()
    val p = Similarity.ivfParams(spark, dir)
    val r = Similarity.LloydRounds
    val idxName = s"graft_ivf_index_k${p.k}_r$r"
    val centsName = s"graft_ivf_cents_k${p.k}_r$r"
    val lshName = Dedup2.lshModelName(p.nc)
    val snapshot = Seq(idxName, centsName, lshName)
      .map(m => m -> builds(m)).toMap

    // deletion sized to stay INSIDE the K / band-width geometry (10 of
    // 490 index vecs; a boundary crossing is the rebuild path, tested
    // by its name-mismatch construction, not here)
    val emb = graft.operators.t(spark, dir, "embeddings")
    val del = emb.filter(col("vec_id") >= 10 &&
      col("vec_id") % 47 === 0).localCheckpoint()
    val keep = emb.filter(!(col("vec_id") >= 10 &&
      col("vec_id") % 47 === 0)).localCheckpoint()
    assert(del.count() > 0)
    val pre = StandingIngest.capturePreEmbeddings(spark, dir)
    keep.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir, "embeddings")
    val res = StandingRetract.retractEmbeddingBatch(spark, dir, del, pre)
    assert(res.keySet ==
      Set(Shared.VecTombstoneModel, idxName, lshName),
      s"retraction must advance the index and LSH table: ${res.keySet}")

    // post-delete geometry unchanged (the fixture guarantees it)
    assert(Similarity.ivfParams(spark, dir).k == p.k)
    // index ≡ assignment of the remaining corpus against the RETAINED
    // centroids (the fixed-centroid policy — NOT a Lloyd retrain)
    val keepNow = graft.operators.t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentsModel(spark, dir)
    assertSameRows(Similarity.ivfIndexModel(spark, dir),
      Similarity.ivfAssign(Similarity.embNormOf(keepNow)
        .filter(col("vec_id") >= 10), cents),
      "ivf index post-retract")
    assertSameRows(Dedup2.lshBandModel(spark, dir),
      Dedup2.bandRowsOf(keepNow, Dedup2.neardupBits(p.nc)),
      "lsh band table post-retract")
    // nothing rebuilt: centroids retained, index/LSH filtered
    Seq(idxName, centsName, lshName).foreach(m =>
      assert(builds(m) == snapshot(m), s"$m rebuilt during retraction"))

    // restart-stable: cold resolve, zero rebuild
    Shared.invalidate(dir)
    Similarity.ivfIndexModel(spark, dir).count()
    Dedup2.lshBandModel(spark, dir).count()
    Seq(idxName, centsName, lshName).foreach(m =>
      assert(builds(m) == snapshot(m), s"$m rebuilt on restart"))
  }

  test("attachRetractions: streamed deletion requests maintain the " +
      "models per micro-batch; a replayed batch id no-ops every arm") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir2 = Files.createTempDirectory("graft_retract_stream").toString
    try {
      allDocs.write.mode("overwrite").parquet(s"$dir2/documents.parquet")
      Tables.invalidate(dir2, "documents")
      Curation2.gramStarts(spark, dir2).count()
      Curation2.docsById(spark, dir2).count()
      TextAnalysis.bigramCounts(spark, dir2).count()

      def delRows(m: Long): Seq[(Long, String, String, String, Long)] =
        allDocs.filter(col("doc_id") % 5 === m)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .as[(Long, String, String, String, Long)].collect().toSeq

      val input = MemoryStream[(Long, String, String, String, Long)]
      val perBatch = scala.collection.mutable.Buffer[Set[String]]()
      val q = StandingRetract.attachRetractions(spark, dir2,
          input.toDF().toDF("doc_id", "text", "lang", "source",
            "n_chars"))(
        unland = { (b, _) =>
          // the fixture's corpus rewrite: drop the batch's rows (a
          // production store routes this through an id-guarded model)
          val ids = b.select(col("doc_id")).as[Long].collect().toSet
          val remaining = spark.read
            .parquet(s"$dir2/documents.parquet")
            .filter(!col("doc_id").isin(ids.toSeq: _*))
            .localCheckpoint()
          remaining.write.mode("overwrite")
            .parquet(s"$dir2/documents.parquet")
          Tables.invalidate(dir2, "documents")
        },
        onBatch = r => { perBatch += r.keySet; () }).start()
      try {
        input.addData(delRows(0))
        q.processAllAvailable()
        input.addData(delRows(1))
        q.processAllAvailable()
      } finally q.stop()
      assert(perBatch.size == 2 && perBatch.forall(ks =>
        ks.contains("gram_starts_10") && ks.contains("bigram_counts") &&
          ks.contains("documents_by_doc")),
        s"both micro-batches must retract: $perBatch")

      // stream-maintained standing state ≡ direct recomputation over
      // the post-delete corpus
      val keep = graft.operators.t(spark, dir2, "documents")
      assertSameRows(Curation2.gramStarts(spark, dir2),
        Curation2.gramHashes(keep.select(col("doc_id"),
          split(col("text"), " ").as("w"))),
        "gram_starts_10 (streamed retraction)")
      assertSameRows(TextAnalysis.bigramCounts(spark, dir2),
        TextAnalysis.bigramCountsOf(keep),
        "bigram_counts (streamed retraction)")
      assertSameRows(Curation2.docsById(spark, dir2)
          .select(keep.columns.map(col).toIndexedSeq: _*),
        keep, "documents_by_doc (streamed retraction)")

      // exactly-once: replaying a committed batch id no-ops EVERY arm
      // even though the fresh capture's fingerprints all match — the
      // fp guard alone would re-apply the (non-idempotent) negative
      // partials; the per-model batch id is what blocks it
      val replay = StandingRetract.retractDocBatch(spark, dir2,
        allDocs.filter(col("doc_id") % 5 === 1),
        StandingIngest.capturePre(spark, dir2), batchId = Some(1L))
      assert(replay.isEmpty, s"replay must no-op, got ${replay.keySet}")
      assertSameRows(TextAnalysis.bigramCounts(spark, dir2),
        TextAnalysis.bigramCountsOf(keep),
        "bigram_counts (after replayed retraction)")
    } finally {
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir2))
      graft.api.FsIO.deleteTree(dir2)
      Shared.invalidate(dir2)
    }
  }
}

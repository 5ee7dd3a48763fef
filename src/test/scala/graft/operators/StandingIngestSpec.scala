package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The durable standing-model catalog + incremental ingest contract
  * (VERDICT r11 item #1):
  *
  *   1. standing models resolve from the durable Registry with ZERO
  *      rebuild once their corpus fingerprint matches — a simulated
  *      process restart (memo cleared, catalog table dropped) re-reads
  *      the materialized parquet instead of re-ingesting the corpus;
  *   2. an arriving document batch APPENDS its increment rows
  *      ([[StandingIngest.appendDocBatch]]) and the result is
  *      row-identical to a full rebuild over the grown corpus — pinned
  *      here for the gram AND signature models (and the embedding
  *      batch's IVF assignment rows against the retained centroids);
  *   3. a corpus change WITHOUT the ingest call is caught by the
  *      fingerprint and triggers exactly one rebuild.
  *
  * Runs on a private copy of the sf0.001 documents/embeddings tables
  * (written as directories so a batch can land as additional files,
  * the ingest-append layout a 100 TB corpus store has).
  */
class StandingIngestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"
  private val dir = Files.createTempDirectory("graft_ingest").toString

  // batch = every doc_id ≡ 3 (mod 4): new ids w.r.t. the base corpus
  private def allDocs = spark.read.parquet(s"$src/documents.parquet")
  private def baseDocs = allDocs.filter(col("doc_id") % 4 =!= 3)
  private def batchDocs = allDocs.filter(col("doc_id") % 4 === 3)
  private def allVecs = spark.read.parquet(s"$src/embeddings.parquet")
  // keep the query vectors (vec_id < 10) in the base so ivfParams'
  // geometry is derived the same way as a real corpus
  private def baseVecs = allVecs.filter(
    col("vec_id") < 10 || col("vec_id") % 4 =!= 3)
  private def batchVecs = allVecs.filter(
    col("vec_id") >= 10 && col("vec_id") % 4 === 3)

  override def beforeAll(): Unit = {
    baseDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    baseVecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir, "documents")
    Tables.invalidate(dir, "embeddings")
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

  test("standing models build once, then resolve from the durable " +
      "catalog with zero rebuild across a simulated restart") {
    val n0 = Curation2.gramStarts(spark, dir).count()
    assert(n0 > 0 && builds("gram_starts_10") == 1)
    // simulated process restart: in-process memo gone, catalog table
    // dropped from the session catalog — only the durable registry
    // (pointer + parquet + _bucketed_table marker) survives
    Shared.invalidate(dir)
    val (tbl, _) = graft.api.FalApi.bucketMarker(
      new graft.api.Registry(Shared.namespaceDir(spark, dir))
        .currentPath("gram_starts_10").get).get
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    assert(Curation2.gramStarts(spark, dir).count() == n0)
    assert(builds("gram_starts_10") == 1,
      "a fingerprint-current resolve must not rebuild")
    assert(Shared.resolveSeconds.contains("gram_starts_10"))
  }

  test("appendDocBatch ≡ full rebuild on the gram and signature models") {
    // force-build the maintained models on the BASE corpus
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
    val baseBuilds = Seq("gram_starts_10", "gram_shared_10",
      "documents_by_doc", "doc_terms", "bigram_counts", "drift_ref_256",
      "doc_shingles", "graft_lsh_sigs", "graft_minhash128_sigs",
      "graft_lsh_band_index", "graft_simhash_sigs")
    baseBuilds.foreach(m => assert(builds(m) >= 1, s"$m not built"))
    val snapshot = baseBuilds.map(m => m -> builds(m)).toMap

    // the pre-batch fingerprints are captured FIRST (ADVICE r12 —
    // verifiable "current up to exactly this batch" state), then the
    // batch lands in the corpus dir (new part files), then the
    // standing models absorb the increment
    val batch = batchDocs.cache()
    assert(batch.count() > 0)
    val pre = StandingIngest.capturePre(spark, dir)
    assert(baseBuilds.forall(pre.contains),
      s"capturePre must cover every materialized model: ${pre.keySet}")
    batch.write.mode("append").parquet(s"$dir/documents.parquet")
    Tables.invalidate(dir, "documents")
    val results = StandingIngest.appendDocBatch(spark, dir, batch,
      pre = Some(pre))
    assert(results.keySet == baseBuilds.toSet,
      s"every maintained model appended: ${results.keySet}")

    // full-corpus direct recomputation (the rebuild the append avoided)
    val full = graft.operators.t(spark, dir, "documents")
    val fullW = full.select(col("doc_id"), split(col("text"), " ").as("w"))
    val fullGrams = Curation2.gramHashes(fullW)
    assertSameRows(Curation2.gramStarts(spark, dir), fullGrams,
      "gram_starts_10")
    assertSameRows(Curation2.sharedGrams(spark, dir),
      fullGrams.groupBy("gh")
        .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
        .filter(col("d0") =!= col("d1")).select("gh"),
      "gram_shared_10")
    assert(Curation2.sharedGrams(spark, dir).count() > 0,
      "fixture must exercise cross-batch gram sharing")
    assertSameRows(TextAnalysis.docTerms(spark, dir)
        .select("doc_id", "source", "lang", "term", "cnt"),
      TextAnalysis.docTermsOf(full), "doc_terms")
    assertSameRows(Curation2.docsById(spark, dir)
        .select(full.columns.map(col).toIndexedSeq: _*),
      full, "documents_by_doc")
    // additive aggregates: partial rows rolled up on read ≡ rebuild
    assertSameRows(TextAnalysis.bigramCounts(spark, dir),
      TextAnalysis.bigramCountsOf(full), "bigram_counts")
    assertSameRows(Curation2.driftRefCounts(spark, dir),
      Curation2.driftRefCountsOf(full), "drift_ref_256")
    assertSameRows(Dedup.docShingles(spark, dir)
        .select("doc_id", "source", "shingle"),
      Dedup.shingleSet(full.select(col("doc_id"), col("source"),
          col("text")))
        .select(col("doc_id"), col("source"),
          xxhash64(col("shingle")).as("shingle")),
      "doc_shingles")
    val fullCorpus = Dedup.corpusOf(full)
    assertSameRows(Dedup.sigModel(spark, dir),
      Dedup.sigsOf(fullCorpus.select("doc_id", "text")),
      "graft_lsh_sigs")
    assertSameRows(DedupHi.sigModel(spark, dir),
      Dedup.sigsOf(fullCorpus.select("doc_id", "text"), DedupHi.params),
      "graft_minhash128_sigs")
    assertSameRows(Dedup.bandIndexModel(spark, dir),
      Dedup.withBb(Dedup.bandedOf(
        Dedup.sigsOf(fullCorpus.select("doc_id", "text"))
          .filter(col("doc_id") % 10 =!= 9))),
      "graft_lsh_band_index")
    assertSameRows(Dedup.simhashSigs(spark, dir),
      Dedup.simhashOf(fullCorpus), "graft_simhash_sigs")

    // the appends advanced every fingerprint: a simulated restart
    // resolves the GROWN corpus with zero rebuild
    Shared.invalidate(dir)
    Curation2.gramStarts(spark, dir).count()
    Curation2.sharedGrams(spark, dir).count()
    Dedup.simhashSigs(spark, dir).count()
    baseBuilds.take(2).foreach(m => assert(builds(m) == snapshot(m),
      s"$m rebuilt despite append-advanced fingerprint"))
    assert(builds("graft_simhash_sigs") == snapshot("graft_simhash_sigs"))
  }

  test("a corpus change WITHOUT the ingest call rebuilds exactly once " +
      "via the fingerprint") {
    Curation2.gramStarts(spark, dir).count()
    val before = builds("gram_starts_10")
    // a second batch lands silently (no appendDocBatch): re-use two
    // batch docs under fresh ids
    batchDocs.limit(2)
      .withColumn("doc_id", col("doc_id") + 10000L)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    Tables.invalidate(dir, "documents")
    Shared.invalidate(dir) // fresh process has no memo to trust
    val n = Curation2.gramStarts(spark, dir).count()
    assert(builds("gram_starts_10") == before + 1,
      "stale fingerprint must trigger exactly one rebuild")
    assertSameRows(Curation2.gramStarts(spark, dir),
      Curation2.gramHashes(graft.operators.t(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))),
      "gram_starts_10 after rebuild")
    // and the rebuilt state resolves without another build
    Shared.invalidate(dir)
    assert(Curation2.gramStarts(spark, dir).count() == n)
    assert(builds("gram_starts_10") == before + 1)
  }

  test("streaming attach maintains standing models exactly-once per " +
      "micro-batch, and compactStanding folds the accumulated files " +
      "without losing bucketing or fingerprints") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir2 = Files.createTempDirectory("graft_ingest_stream").toString
    try {
      allDocs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
      Tables.invalidate(dir2, "documents")
      val n0 = Curation2.gramStarts(spark, dir2).count()
      Curation2.sharedGrams(spark, dir2).count()
      Dedup.simhashSigs(spark, dir2).count()
      assert(n0 > 0)

      def docRows(m: Long): Seq[(Long, String, String, String, Long)] = allDocs
        .filter(col("doc_id") % 3 === m)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .as[(Long, String, String, String, Long)].collect().toSeq

      val input = MemoryStream[(Long, String, String, String, Long)]
      val perBatch = scala.collection.mutable
        .Buffer[Set[String]]()
      val q = StandingIngest.attach(spark, dir2,
          input.toDF().toDF("doc_id", "text", "lang", "source",
            "n_chars"))(
        land = { (b, _) =>
          // the landing callback receives the batch id so a production
          // corpus (an A-layer model) can route through the id-guarded
          // StreamIngest.applyBatch; this plain-dir fixture lands each
          // batch once (the replay case below drives appendDocBatch
          // directly)
          b.write.mode("append").parquet(s"$dir2/documents.parquet")
          Tables.invalidate(dir2, "documents")
        },
        onBatch = r => perBatch += r.keySet).start()
      try {
        input.addData(docRows(1))
        q.processAllAvailable()
        input.addData(docRows(2))
        q.processAllAvailable()
      } finally q.stop()

      assert(perBatch.size == 2 && perBatch.forall(_.contains(
        "gram_starts_10")), s"both micro-batches must append: $perBatch")

      // stream-maintained standing state ≡ direct recomputation over
      // the fully-landed corpus
      val full = graft.operators.t(spark, dir2, "documents")
      val fullGrams = Curation2.gramHashes(
        full.select(col("doc_id"), split(col("text"), " ").as("w")))
      assertSameRows(Curation2.gramStarts(spark, dir2), fullGrams,
        "gram_starts_10 (streamed)")
      assertSameRows(Curation2.sharedGrams(spark, dir2),
        fullGrams.groupBy("gh")
          .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
          .filter(col("d0") =!= col("d1")).select("gh"),
        "gram_shared_10 (streamed)")
      assertSameRows(Dedup.simhashSigs(spark, dir2),
        Dedup.simhashOf(Dedup.corpusOf(full)),
        "graft_simhash_sigs (streamed)")

      // exactly-once: replaying an already-committed batch id no-ops
      val replayBatch = allDocs.filter(col("doc_id") % 3 === 2)
      val replay = StandingIngest.appendDocBatch(spark, dir2,
        replayBatch, batchId = Some(1L))
      assert(replay.isEmpty, s"replay must no-op, got ${replay.keySet}")
      assertSameRows(Curation2.gramStarts(spark, dir2), fullGrams,
        "gram_starts_10 (after replay)")

      // compaction: the appends accumulated files per bucket; the
      // sweep folds them through the ORIGINAL marker-recorded bucket
      // layout, content/fingerprint/bucket-locality preserved
      val reg = Shared.registryOf(spark, dir2)
      val filesBefore = graft.api.FsIO
        .parquetSizes(reg.currentPath("gram_starts_10").get).size
      val compacted = StandingIngest.compactStanding(spark, dir2,
        maxFilesPerBucket = 0)
      assert(compacted.contains("gram_starts_10"),
        s"expected gram_starts_10 compacted: ${compacted.keySet}")
      val filesAfter = graft.api.FsIO
        .parquetSizes(reg.currentPath("gram_starts_10").get).size
      assert(filesAfter < filesBefore,
        s"compaction must shrink files ($filesBefore -> $filesAfter)")
      assertSameRows(Curation2.gramStarts(spark, dir2), fullGrams,
        "gram_starts_10 (after compaction)")
      // fingerprint carried: a fresh resolve does NOT rebuild
      val b = builds2(dir2, "gram_starts_10")
      Shared.invalidate(dir2)
      assert(Curation2.gramStarts(spark, dir2).count() ==
        fullGrams.count())
      assert(builds2(dir2, "gram_starts_10") == b,
        "compaction must not invalidate the corpus fingerprint")
      // bucket locality survives the marker-driven re-materialization
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val agg = Curation2.gramStarts(spark, dir2)
          .groupBy("gh").count()
        assert(!agg.queryExecution.executedPlan.toString
          .contains("Exchange"),
          "post-compaction bucket aggregation must not shuffle")
      } finally spark.conf
        .set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally {
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir2))
      graft.api.FsIO.deleteTree(dir2)
      Shared.invalidate(dir2)
    }
  }

  private def builds2(d: String, name: String): Long =
    Shared.buildCounts.getOrElse((d, name), 0L)

  test("pre-state guard: a model that missed an earlier batch is " +
      "skipped (stale fingerprint -> rebuild), never stamped current " +
      "while incomplete (ADVICE r12)") {
    val dir3 = Files.createTempDirectory("graft_ingest_guard").toString
    try {
      allDocs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dir3/documents.parquet")
      Tables.invalidate(dir3, "documents")
      assert(Curation2.gramStarts(spark, dir3).count() > 0)
      val b0 = builds2(dir3, "gram_starts_10")

      // batch A lands SILENTLY — its standing-model append is "missed"
      // (the mid-way-crash / non-id-guarded-landing scenario)
      allDocs.filter(col("doc_id") % 3 === 1)
        .write.mode("append").parquet(s"$dir3/documents.parquet")
      Tables.invalidate(dir3, "documents")

      // batch B follows the contract (capturePre before landing) — but
      // gram_starts' stored fingerprint predates batch A, so the guard
      // must SKIP the append: proceeding would stamp a current
      // fingerprint over a model missing A's rows
      val batchB = allDocs.filter(col("doc_id") % 3 === 2)
      val pre = StandingIngest.capturePre(spark, dir3)
      assert(pre.contains("gram_starts_10"))
      batchB.write.mode("append").parquet(s"$dir3/documents.parquet")
      Tables.invalidate(dir3, "documents")
      val res = StandingIngest.appendDocBatch(spark, dir3, batchB,
        pre = Some(pre))
      assert(!res.contains("gram_starts_10"),
        s"stale model must be skipped, not appended: ${res.keySet}")

      // the skip leaves the stale fingerprint in place: the next
      // resolve rebuilds over the FULL corpus — no rows lost
      Shared.invalidate(dir3)
      assertSameRows(Curation2.gramStarts(spark, dir3),
        Curation2.gramHashes(graft.operators.t(spark, dir3, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))),
        "gram_starts_10 after guard-forced rebuild")
      assert(builds2(dir3, "gram_starts_10") == b0 + 1,
        "guard skip must surface as exactly one rebuild")

      // without ANY replay protection the call is rejected outright
      intercept[IllegalArgumentException] {
        StandingIngest.appendDocBatch(spark, dir3, batchB)
      }
    } finally {
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir3))
      graft.api.FsIO.deleteTree(dir3)
      Shared.invalidate(dir3)
    }
  }

  test("contiguity arm needs a sibling witness: an out-of-band backfill " +
      "between streamed batches forces a rebuild, never a fingerprint-" +
      "current append over missing rows") {
    val dir5 = Files.createTempDirectory("graft_ingest_backfill").toString
    try {
      allDocs.filter(col("doc_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$dir5/documents.parquet")
      Tables.invalidate(dir5, "documents")
      assert(Curation2.gramStarts(spark, dir5).count() > 0)

      // batch 0 follows the full streaming discipline
      val b0 = allDocs.filter(col("doc_id") % 4 === 1)
      val pre0 = StandingIngest.capturePre(spark, dir5)
      b0.write.mode("append").parquet(s"$dir5/documents.parquet")
      Tables.invalidate(dir5, "documents")
      val r0 = StandingIngest.appendDocBatch(spark, dir5, b0,
        batchId = Some(0L), pre = Some(pre0))
      assert(r0.contains("gram_starts_10"))

      // an out-of-band BACKFILL lands with no append call ...
      allDocs.filter(col("doc_id") % 4 === 2)
        .write.mode("append").parquet(s"$dir5/documents.parquet")
      Tables.invalidate(dir5, "documents")

      // ... then batch 1 is delivered WITHOUT a pre-capture (the
      // crash-replay shape that used to ride bare contiguity:
      // committed == 0 == id - 1). No sibling committed batch 1
      // against the current listing, so the guard must SKIP — bare
      // contiguity would have stamped a post-backfill fingerprint
      // over models missing the backfill's rows forever.
      val b1 = allDocs.filter(col("doc_id") % 4 === 3)
      b1.write.mode("append").parquet(s"$dir5/documents.parquet")
      Tables.invalidate(dir5, "documents")
      val r1 = StandingIngest.appendDocBatch(spark, dir5, b1,
        batchId = Some(1L))
      assert(!r1.contains("gram_starts_10"),
        s"backfill-spanning contiguity must not append: ${r1.keySet}")

      // the stale fingerprint rebuilds over the FULL corpus (batch 0 +
      // backfill + batch 1) on next resolve — nothing lost
      Shared.invalidate(dir5)
      assertSameRows(Curation2.gramStarts(spark, dir5),
        Curation2.gramHashes(graft.operators.t(spark, dir5, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))),
        "gram_starts_10 after backfill-forced rebuild")
    } finally {
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir5))
      graft.api.FsIO.deleteTree(dir5)
      Shared.invalidate(dir5)
    }
  }

  test("attach compactEvery cadence: the sweep fires after every k-th " +
      "micro-batch (VERDICT r12 item #4 default cadence hook)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir4 = Files.createTempDirectory("graft_ingest_cadence").toString
    try {
      allDocs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dir4/documents.parquet")
      Tables.invalidate(dir4, "documents")
      assert(Curation2.gramStarts(spark, dir4).count() > 0)
      val reg = Shared.registryOf(spark, dir4)
      val v0 = reg.currentVersion("gram_starts_10").get

      def rows(m: Long) = allDocs.filter(col("doc_id") % 3 === m)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .as[(Long, String, String, String, Long)].collect().toSeq

      val input = MemoryStream[(Long, String, String, String, Long)]
      val q = StandingIngest.attach(spark, dir4,
          input.toDF().toDF("doc_id", "text", "lang", "source",
            "n_chars"),
          compactEvery = Some(2), maxFilesPerBucket = 0)(
        land = { (b, _) =>
          b.write.mode("append").parquet(s"$dir4/documents.parquet")
          Tables.invalidate(dir4, "documents")
        }).start()
      try {
        input.addData(rows(1))
        q.processAllAvailable()
        // batch 0: appended, no sweep yet — still the in-place version
        assert(reg.currentVersion("gram_starts_10").get == v0)
        input.addData(rows(2))
        q.processAllAvailable()
      } finally q.stop()
      // batch 1 closed the k=2 window: the sweep compacted (fresh
      // version dir swapped in) and content survived
      assert(reg.currentVersion("gram_starts_10").get != v0,
        "cadence sweep must have compacted after the 2nd micro-batch")
      assertSameRows(Curation2.gramStarts(spark, dir4),
        Curation2.gramHashes(graft.operators.t(spark, dir4, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))),
        "gram_starts_10 after cadence compaction")
    } finally {
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir4))
      graft.api.FsIO.deleteTree(dir4)
      Shared.invalidate(dir4)
    }
  }

  test("appendEmbeddingBatch appends assignment rows against retained " +
      "centroids (fixed-centroid IVF ingest)") {
    val idx0 = Similarity.ivfIndexModel(spark, dir)
    val base = idx0.count()
    assert(base > 0)
    val batch = batchVecs.cache()
    val bn = batch.count()
    assert(bn > 0)
    val pre = StandingIngest.capturePreEmbeddings(spark, dir)
    assert(pre.nonEmpty, "capturePreEmbeddings must see the built index")
    batch.write.mode("append").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir, "embeddings")
    val results = StandingIngest.appendEmbeddingBatch(spark, dir, batch,
      pre = Some(pre))
    assert(results.size == 1, s"index append expected: $results")
    val idxName = results.keySet.head
    val idx = Shared.resolveExisting(spark, dir, idxName).get
    assert(idx.count() == base + bn)
    // the appended rows are exactly the batch's max-cosine assignments
    // against the RETAINED centroid model
    val cents = Similarity.ivfCentsModel(spark, dir)
    val expected = Similarity.ivfAssign(
      Similarity.embNormOf(batch), cents)
    val appended = idx.join(batch.select(col("vec_id")
        .as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    assert(appended.select("neighbor_id", "cell")
        .exceptAll(expected.select("neighbor_id", "cell")).count() == 0)
    assert(expected.select("neighbor_id", "cell")
        .exceptAll(appended.select("neighbor_id", "cell")).count() == 0)
  }

  test("appendEmbeddingBatch maintains the banded-LSH near-dup table " +
      "(append ≡ full rebuild; static planes, no retained state)") {
    val dirL = Files.createTempDirectory("graft_ingest_lsh").toString
    try {
      baseVecs.write.mode("overwrite").parquet(s"$dirL/embeddings.parquet")
      Tables.invalidate(dirL, "embeddings")
      // the fixture must stay inside one band-width geometry, or the
      // append correctly skips and this test would assert nothing
      val bBase = Dedup2.neardupBits(
        Similarity.ivfParams(spark, dirL).nc)
      val model0 = Dedup2.lshBandModel(spark, dirL)
      val base = model0.count()
      assert(base > 0)
      val batch = batchVecs.cache()
      val bn = batch.count()
      val pre = StandingIngest.capturePreEmbeddings(spark, dirL)
      assert(pre.keySet == Set(Dedup2.lshModelName(
          Similarity.ivfParams(spark, dirL).nc)),
        s"capture must see exactly the built LSH model: $pre")
      batch.write.mode("append").parquet(s"$dirL/embeddings.parquet")
      Tables.invalidate(dirL, "embeddings")
      val bAll = Dedup2.neardupBits(Similarity.ivfParams(spark, dirL).nc)
      assert(bAll == bBase, "fixture crossed a band-width boundary")
      val results = StandingIngest.appendEmbeddingBatch(spark, dirL,
        batch, pre = Some(pre))
      assert(results.keySet == Set(Dedup2.lshModelName(
          Similarity.ivfParams(spark, dirL).nc)),
        s"LSH append expected (no IVF model exists here): $results")
      val model = Shared.resolveExisting(spark, dirL,
        results.keySet.head).get
      assert(model.count() == base + bn * Dedup2.NeardupBands)
      assertSameRows(model,
        Dedup2.bandRowsOf(
          spark.read.parquet(s"$dirL/embeddings.parquet"), bAll),
        "LSH band table after append")
    } finally {
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dirL))
      graft.api.FsIO.deleteTree(dirL)
      Shared.invalidate(dirL)
    }
  }
}

package graft.operators

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Standing-model maintenance without executor-local snapshots:
  *
  *   1. the direct-call write paths (`appendDocBatch`,
  *      `retractDocBatch`, `retractEmbeddingBatch`) handed plain lazy
  *      frames execute no plan over a checkpointed RDD;
  *   2. the stream attachments (`StandingIngest.attach`,
  *      `StandingRetract.attachRetractions`) leave no cached relation
  *      and no persistent RDD behind once their query stops;
  *   3. a retraction request that lazily reads the standing state the
  *      call rewrites still retracts exactly;
  *   4. the main sources keep zero `localCheckpoint` calls, one
  *      `foreachBatch` loop, one per-query cache release and one
  *      harness session constructor.
  *
  * The plan check is scoped to direct calls: Spark's ForeachBatchSink
  * hands every micro-batch over as a `LogicalRDD` itself.
  */
class StandingNoCheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"
  private val dirs = mutable.Buffer[String]()

  private def allDocs = spark.read.parquet(s"$src/documents.parquet")
  private def allVecs = spark.read.parquet(s"$src/embeddings.parquet")
  private type Doc = (Long, String, String, String, Long)

  /** A private corpus dir holding `docs` and `vecs`. */
  private def fixture(docs: DataFrame, vecs: DataFrame): String = {
    val dir = Files.createTempDirectory("graft_nockpt").toString
    dirs += dir
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir, "documents")
    Tables.invalidate(dir, "embeddings")
    dir
  }

  override def afterAll(): Unit = dirs.foreach { dir =>
    graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir))
    graft.api.FsIO.deleteTree(dir)
    Shared.invalidate(dir)
  }

  private def landTable(dir: String, table: String, rows: DataFrame,
      mode: String): Unit = {
    rows.write.mode(mode).parquet(s"$dir/$table.parquet")
    Tables.invalidate(dir, table)
  }

  private def assertSameRows(model: DataFrame, direct: DataFrame,
      what: String): Unit = {
    val extra = model.exceptAll(direct).count()
    val missing = direct.exceptAll(model).count()
    assert(extra == 0 && missing == 0,
      s"$what: $extra extra / $missing missing rows vs direct rebuild")
  }

  private def builds(dir: String, name: String): Long =
    Shared.buildCounts.getOrElse((dir, name), 0L)

  private val maintained = Seq("gram_starts_10", "documents_by_doc",
    "doc_terms", "bigram_counts", "drift_ref_256", "doc_shingles",
    "graft_lsh_sigs", "graft_minhash128_sigs", "graft_lsh_band_index",
    "graft_simhash_sigs")

  private def touchDocModels(dir: String): Unit = {
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

  private def assertNoCheckpointRead(plans: Seq[String]): Unit = {
    assert(plans.nonEmpty, "the call ran no query")
    plans.filter(p => p.contains("LogicalRDD") || p.contains("ExistingRDD"))
      .foreach(p => fail(s"a plan reads a checkpointed RDD:\n${p.take(2000)}"))
  }

  test("direct append and retraction calls read no checkpointed RDD") {
    val dir = fixture(allDocs.filter(col("doc_id") % 4 =!= 3), allVecs)
    touchDocModels(dir)
    Similarity.ivfIndexModel(spark, dir).count()
    Dedup2.lshBandModel(spark, dir).count()

    // append: the batch is a plain lazy read of the immutable source
    val batch = allDocs.filter(col("doc_id") % 4 === 3)
    val preAppend = StandingIngest.capturePre(spark, dir)
    landTable(dir, "documents", batch, "append")
    var appended = Map.empty[String, graft.api.WriteResult]
    assertNoCheckpointRead(TestSpark.plansIn {
      appended = StandingIngest.appendDocBatch(spark, dir, batch,
        pre = Some(preAppend))
    })
    assert(appended.keySet.contains("graft_lsh_band_index"),
      s"the append must reach the models: ${appended.keySet}")

    // document retraction: a lazy request over the immutable source
    val del = allDocs.filter(col("doc_id") % 7 === 2)
    val preDel = StandingIngest.capturePre(spark, dir)
    landTable(dir, "documents", allDocs.filter(col("doc_id") % 7 =!= 2),
      "overwrite")
    var retracted = Map.empty[String, graft.api.WriteResult]
    assertNoCheckpointRead(TestSpark.plansIn {
      retracted = StandingRetract.retractDocBatch(spark, dir, del, preDel)
    })
    assert(retracted.keySet.contains("bigram_counts") &&
      retracted.keySet.contains("documents_by_doc"),
      s"the retraction must reach the models: ${retracted.keySet}")

    // embedding retraction
    val isDel = col("vec_id") >= 10 && col("vec_id") % 47 === 0
    val preVec = StandingIngest.capturePreEmbeddings(spark, dir)
    landTable(dir, "embeddings", allVecs.filter(!isDel), "overwrite")
    var vecRes = Map.empty[String, graft.api.WriteResult]
    assertNoCheckpointRead(TestSpark.plansIn {
      vecRes = StandingRetract.retractEmbeddingBatch(spark, dir,
        allVecs.filter(isDel), preVec)
    })
    assert(vecRes.contains(Shared.VecTombstoneModel),
      s"the embedding retraction must land: ${vecRes.keySet}")
  }

  test("stream attachments leave no cached relation and no persistent " +
      "RDD once the query stops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = fixture(allDocs.filter(col("doc_id") % 3 === 0), allVecs)
    Curation2.gramStarts(spark, dir).count()
    Curation2.docsById(spark, dir).count()
    TextAnalysis.bigramCounts(spark, dir).count()
    Dedup.sigModel(spark, dir).count()
    Dedup.bandIndexModel(spark, dir).count()
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def docRows(p: Column): Seq[Doc] = allDocs.filter(p)
      .select(cols.map(col): _*).as[Doc].collect().toSeq

    spark.sharedState.cacheManager.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    def assertReleased(what: String): Unit = {
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$what: a cached relation outlived the query")
      assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted)
        .isEmpty, s"$what: a persistent RDD outlived the query")
    }

    val ingest = MemoryStream[Doc]
    val appends = mutable.Buffer[Set[String]]()
    val qi = StandingIngest.attach(spark, dir,
        ingest.toDF().toDF(cols: _*))(
      land = (b, _) => landTable(dir, "documents", b, "append"),
      onBatch = r => { appends += r.keySet; () }).start()
    try {
      ingest.addData(docRows(col("doc_id") % 3 === 1))
      qi.processAllAvailable()
      ingest.addData(docRows(col("doc_id") % 3 === 2))
      qi.processAllAvailable()
    } finally qi.stop()
    assert(appends.size == 2 && appends.forall(_.contains(
      "graft_lsh_band_index")), s"both micro-batches must append: $appends")
    assertReleased("StandingIngest.attach")

    val requests = MemoryStream[Doc]
    val retracts = mutable.Buffer[Set[String]]()
    val removed = mutable.Set[Long]()
    val qr = StandingRetract.attachRetractions(spark, dir,
        requests.toDF().toDF(cols: _*))(
      unland = { (b, _) =>
        removed ++= b.select(col("doc_id")).as[Long].collect()
        landTable(dir, "documents",
          allDocs.filter(!col("doc_id").isin(removed.toSeq: _*)),
          "overwrite")
      },
      onBatch = r => { retracts += r.keySet; () }).start()
    try {
      requests.addData(docRows(col("doc_id") % 5 === 0))
      qr.processAllAvailable()
      requests.addData(docRows(col("doc_id") % 5 === 1))
      qr.processAllAvailable()
    } finally qr.stop()
    assert(retracts.size == 2 && retracts.forall(_.contains(
      "bigram_counts")), s"both micro-batches must retract: $retracts")
    assertReleased("StandingRetract.attachRetractions")
  }

  test("a request lazily reading documents_by_doc still retracts " +
      "exactly") {
    val dir = fixture(allDocs, allVecs)
    touchDocModels(dir)
    val snapshot = (maintained :+ "gram_shared_10")
      .map(m => m -> builds(dir, m)).toMap
    // the request reads the doc_id-bucketed corpus copy the retraction
    // physically deletes from (step 3); it is built before the corpus
    // rewrite, so its resolve is fingerprint-current
    val del = Curation2.docsById(spark, dir)
      .filter(col("doc_id") % 7 === 2)
      .select(allDocs.columns.map(col).toIndexedSeq: _*)
    val pre = StandingIngest.capturePre(spark, dir)
    landTable(dir, "documents", allDocs.filter(col("doc_id") % 7 =!= 2),
      "overwrite")
    val results = StandingRetract.retractDocBatch(spark, dir, del, pre)
    assert(results.keySet == (maintained :+ Shared.TombstoneModel).toSet,
      s"every maintained model retracted: ${results.keySet}")

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
    maintained.foreach(m => assert(builds(dir, m) == snapshot(m),
      s"$m rebuilt during retraction"))
  }

  test("a request lazily reading the IVF index still retracts " +
      "exactly") {
    val dir = fixture(allDocs, allVecs)
    Similarity.ivfIndexModel(spark, dir).count()
    Dedup2.lshBandModel(spark, dir).count()
    val p = Similarity.ivfParams(spark, dir)
    val r = Similarity.LloydRounds
    val idxName = s"graft_ivf_index_k${p.k}_r$r"
    val centsName = s"graft_ivf_cents_k${p.k}_r$r"
    val lshName = Dedup2.lshModelName(p.nc)
    val snapshot = Seq(idxName, centsName, lshName)
      .map(m => m -> builds(dir, m)).toMap
    // the request reads the standing index the retraction advances;
    // built before the corpus rewrite, so its resolve is current
    val isDel = col("vec_id") >= 10 && col("vec_id") % 47 === 0
    val del = Similarity.ivfIndexModel(spark, dir)
      .select(col("neighbor_id").as("vec_id")).filter(isDel)
    val pre = StandingIngest.capturePreEmbeddings(spark, dir)
    landTable(dir, "embeddings", allVecs.filter(!isDel), "overwrite")
    val res = StandingRetract.retractEmbeddingBatch(spark, dir, del, pre)
    assert(res.keySet == Set(Shared.VecTombstoneModel, idxName, lshName),
      s"retraction must advance the index and LSH table: ${res.keySet}")

    assert(Similarity.ivfParams(spark, dir).k == p.k)
    val keepNow = graft.operators.t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentsModel(spark, dir)
    assertSameRows(Similarity.ivfIndexModel(spark, dir),
      Similarity.ivfAssign(Similarity.embNormOf(keepNow)
        .filter(col("vec_id") >= 10), cents),
      "ivf index post-retract")
    assertSameRows(Dedup2.lshBandModel(spark, dir),
      Dedup2.bandRowsOf(keepNow, Dedup2.neardupBits(p.nc)),
      "lsh band table post-retract")
    Seq(idxName, centsName, lshName).foreach(m =>
      assert(builds(dir, m) == snapshot(m), s"$m rebuilt during retraction"))
  }

  test("main sources call localCheckpoint nowhere and foreachBatch once") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no main sources at ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(root)
    assert(files.size > 50, s"only ${files.size} main sources found")
    def calls(pattern: String): Seq[String] = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if pattern.r.findFirstIn(line).isDefined =>
          s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
    val checkpoints = calls("""localCheckpoint\(""")
    assert(checkpoints.isEmpty,
      s"localCheckpoint calls in main code:\n${checkpoints.mkString("\n")}")
    val loops = calls("""\.foreachBatch\b""")
    assert(loops.size <= 1,
      s"more than one foreachBatch loop:\n${loops.mkString("\n")}")
    val releases = calls("""cacheManager\.clearCache\(\)""")
    assert(releases.size <= 1,
      s"more than one cache release:\n${releases.mkString("\n")}")
    // GraftConf.session builds every harness session; RaceAppender's
    // child JVM builds its own
    val builders = calls("""GraftConf\.builder\(""").filterNot(c =>
      c.startsWith("graft/GraftConf.scala:") ||
        c.startsWith("graft/operators/RaceAppender.scala:"))
    assert(builders.isEmpty,
      s"sessions built outside GraftConf.session:\n${builders.mkString("\n")}")
  }
}

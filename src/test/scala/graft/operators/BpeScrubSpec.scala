package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the two round-10 curation additions to driver-side references:
  *
  *  - the BPE trainers' merge tables and segmentations must equal an
  *    independent SEQUENTIAL left-to-right fold trainer, the one a
  *    textbook BPE uses (and the DuckDB oracle's chain-parity windows
  *    replay) — on the real corpus and on crafted pathological runs
  *    (`aaaa`, `abab`) where non-overlap is easiest to get wrong.
  *  - `dd_substring_scrub`'s coverage/removal semantics on planted
  *    duplicated spans, including the all-covered (empty scrub) and
  *    untouched-document edges.
  */
class BpeScrubSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  // ---- reference BPE trainer (sequential fold semantics) ----

  private def foldMerge(seq: Vector[String], l: String,
      r: String): Vector[String] =
    seq.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
      else acc :+ s
    }

  private def referenceBpe(texts: Seq[String],
      iters: Int): Seq[(Long, String, String, String, Long)] = {
    val words = texts.flatMap(_.split("\\s+").filter(_.nonEmpty))
    val counts = words.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    var seqs: Map[String, Vector[String]] =
      counts.keys.map(w => w -> w.map(_.toString).toVector).toMap
    (1 to iters).flatMap { it =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for {
        (w, seq) <- seqs
        win <- seq.sliding(2) if win.size == 2
      } pc((win(0), win(1))) =
        pc.getOrElse((win(0), win(1)), 0L) + counts(w)
      if (pc.isEmpty) None
      else {
        val ((l, r), c) = pc.toSeq
          .minBy { case ((pl, pr), pcnt) => (-pcnt, pl, pr) }
        seqs = seqs.map { case (w, s) => w -> foldMerge(s, l, r) }
        Some((it.toLong, l, r, l + r, c))
      }
    }
  }

  private def runBpe(dir: String): Seq[(Long, String, String, String,
      Long)] =
    Curation2.txBpeMerges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  private val fixtureDirs = scala.collection.mutable.Buffer[String]()

  private def writeDocs(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bpe_fix").toString
    fixtureDirs += dir
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "fix", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  // temp fixtures build standing models into the DURABLE catalog since
  // r12 — drop their namespaces so test runs don't accumulate garbage
  // under standing_models/
  override protected def afterAll(): Unit = {
    fixtureDirs.foreach { d =>
      graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, d))
      graft.api.FsIO.deleteTree(d)
      Shared.invalidate(d)
    }
    super.afterAll()
  }

  // ---- reference BATCHED trainer (VERDICT r11 #2): conservative
  // top-m non-interacting selection from iteration-start counts, then
  // each kept pair applied via the SEQUENTIAL fold in rank order — the
  // "batched ≡ sequential-fold" pin: the Spark trainer selects each
  // batch in Spark and folds it in rank order on the executors, so
  // equal merge tables across all iterations pin the selection rule
  // and the apply to an independent implementation.

  private def referenceBatchedBpe(texts: Seq[String], iters: Int,
      m: Int, k: Int): Seq[(Long, Long, String, String, String, Long)] =
    referenceBatchedBpeFull(texts, iters, m, k)._1

  /** Reference batched trainer returning BOTH the merge table and the
    * final per-term segmentation (the deep-apply pin). */
  private def referenceBatchedBpeFull(texts: Seq[String], iters: Int,
      m: Int, k: Int): (Seq[(Long, Long, String, String, String, Long)],
        Map[String, Vector[String]]) = {
    val words = texts.flatMap(_.split("\\s+").filter(_.nonEmpty))
    val counts = words.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    var seqs: Map[String, Vector[String]] =
      counts.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = (1 to iters).flatMap { it =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for {
        (w, seq) <- seqs
        win <- seq.sliding(2) if win.size == 2
      } pc((win(0), win(1))) =
        pc.getOrElse((win(0), win(1)), 0L) + counts(w)
      val cand = pc.toSeq
        .sortBy { case ((pl, pr), pcnt) => (-pcnt, pl, pr) }.take(k)
      val kept = cand.zipWithIndex.filter { case (((l, r), _), i) =>
        cand.take(i).forall { case ((ql, qr), _) =>
          ql != l && ql != r && qr != l && qr != r && ql + qr != l + r
        }
      }.map(_._1).take(m)
      kept.zipWithIndex.map { case (((l, r), c), rank) =>
        seqs = seqs.map { case (w, s) => w -> foldMerge(s, l, r) }
        (it.toLong, rank + 1L, l, r, l + r, c)
      }
    }
    (merges, seqs)
  }

  private def runBpeBatch(dir: String)
      : Seq[(Long, Long, String, String, String, Long)] =
    Curation2.txBpeBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq

  test("tx_bpe_batch: batched selection + one-pass apply equals the " +
      "sequential-fold reference on the corpus, ≥ 64 merges deep") {
    val texts = t(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val got = runBpeBatch(sfDir)
    assert(got == referenceBatchedBpe(texts, Curation2.BpeBatchIters,
      Curation2.BpeBatchM, Curation2.BpeBatchK))
    // depth: the whole point of batching (the per-merge loop was
    // unusable beyond O(10) merges); sf0.001 trains 50+, sf0.1 69
    assert(got.size >= 50, s"expected deep training, got ${got.size}")
    // kept pairs of one iteration are pairwise symbol-disjoint — the
    // property that makes simultaneous application well-defined
    got.groupBy(_._1).foreach { case (it, ms) =>
      val pairs = ms.map(r => (r._3, r._4))
      pairs.combinations(2).foreach { case Seq((l1, r1), (l2, r2)) =>
        assert(Set(l1, r1).intersect(Set(l2, r2)).isEmpty,
          s"iteration $it kept interacting pairs ($l1,$r1)/($l2,$r2)")
      }
    }
  }

  test("tx_bpe_apply_deep serves the reference batched trainer's " +
      "final segmentation off the standing deep model") {
    val texts = t(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val refSegs = referenceBatchedBpeFull(texts, Curation2.BpeBatchIters,
      Curation2.BpeBatchM, Curation2.BpeBatchK)._2
    val got = Curation2.txBpeApplyDeep(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(got.keySet == refSegs.keySet)
    refSegs.foreach { case (term, seg) =>
      assert(got(term) == ((seg.size.toLong, seg.mkString("|"))),
        s"term '$term': got ${got(term)}, want $seg")
    }
    // depth is real: the deep tokenizer segments strictly coarser than
    // the 3-merge twin overall (fewer total symbols)
    val shallow = Curation2.txBpeApply(spark, sfDir)
      .agg(sum(col("n_syms"))).head.getLong(0)
    val deep = Curation2.txBpeApplyDeep(spark, sfDir)
      .agg(sum(col("n_syms"))).head.getLong(0)
    assert(deep < shallow, s"deep=$deep shallow=$shallow")
  }

  test("tx_bpe_batch chain-parity batch apply matches the fold on " +
      "pathological runs") {
    // same-char chains (l = r) and alternating chains — the two shapes
    // where simultaneous left-to-right non-overlap is easiest to get
    // wrong — plus count ties resolved lexicographically
    val texts = Seq(
      "aaaa aaaaa aab aa a baab",
      "abab ababab baba ab ab",
      "aaaa abab xyxy xyxy zq zq zq")
    val dir = writeDocs(texts)
    assert(runBpeBatch(dir) == referenceBatchedBpe(texts,
      Curation2.BpeBatchIters, Curation2.BpeBatchM,
      Curation2.BpeBatchK))
  }

  // ---- reference DEEP PHRASE trainer (VERDICT r12 #1): sampled doc
  // word-sequences, per-iteration adaptive (K, M), best-pair-per-left
  // thinning, CHAIN-ONLY conservative rule, each kept pair applied via
  // the sequential fold in rank order — the batched ≡ sequential-fold
  // pin at production depth, on batches that admit same-left and
  // same-right pairs.

  private def foldMergeSep(seq: Vector[String], l: String, r: String,
      sep: String): Vector[String] =
    seq.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r)
        acc.init :+ (l + sep + r)
      else acc :+ s
    }

  private def referenceDeepBpe(docs: Seq[(Long, String)])
      : (Seq[(Long, Long, String, String, String, Long)],
        Map[Long, Vector[String]]) = {
    var seqs: Map[Long, Vector[String]] = docs
      .filter(_._1 % Curation2.BpeDeepSampleMod == 0)
      .map { case (id, t) => id -> t.split(" ", -1).toVector }.toMap
    val merges = (1 to Curation2.BpeDeepIters).flatMap { it =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for { (_, seq) <- seqs; win <- seq.sliding(2) if win.size == 2 }
        pc((win(0), win(1))) = pc.getOrElse((win(0), win(1)), 0L) + 1L
      val topK = pc.toSeq.sortBy { case ((pl, pr), c) => (-c, pl, pr) }
        .take(Curation2.bpeDeepK(it))
      val thinned = topK.groupBy(_._1._1).values
        .map(_.minBy { case ((_, pr), c) => (-c, pr) }).toSeq
        .sortBy { case ((pl, pr), c) => (-c, pl, pr) }
      val kept = thinned.zipWithIndex.filter { case (((l, r), _), i) =>
        thinned.take(i).forall { case ((ql, qr), _) =>
          ql != r && qr != l && ql + " " + qr != l + " " + r
        }
      }.map(_._1).take(Curation2.bpeDeepM(it))
      kept.zipWithIndex.map { case (((l, r), c), rank) =>
        seqs = seqs.map { case (id, s) =>
          id -> foldMergeSep(s, l, r, " ") }
        (it.toLong, rank + 1L, l, r, l + " " + r, c)
      }
    }
    (merges, seqs)
  }

  private def runBpeDeep(dir: String)
      : Seq[(Long, Long, String, String, String, Long)] =
    Curation2.txBpeDeep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5))).toSeq

  test("tx_bpe_deep: chain-only batches + one-pass apply equal the " +
      "sequential-fold reference on phrase pathologicals (same-word " +
      "runs, alternations, same-left batches, chains)") {
    // doc ids ×10 so every fixture doc is in the training sample
    import spark.implicits._
    val texts = Seq(
      "a a a a a",                       // l = r self-runs (parity)
      "a b a b a b a",                   // alternation
      "c d c e c d c e",                 // same-LEFT pairs batch
      "u v w u v w u v w",               // chain (u,v)/(v,w) must split
      "x y x y z z z q q x y")           // ties + runs
    val dir = Files.createTempDirectory("graft_bpe_deep_fix").toString
    fixtureDirs += dir
    texts.zipWithIndex
      .map { case (t, i) =>
        (i.toLong * 10, t, "en", "fix", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong * 10, t) }
    val (refMerges, refSegs) = referenceDeepBpe(docs)
    val got = runBpeDeep(dir)
    assert(got == refMerges)
    // kept pairs of one iteration never CHAIN (that is the safety
    // boundary of the relaxed rule — same-left/same-right is allowed,
    // p.r = q.l is not)
    got.groupBy(_._1).foreach { case (it, ms) =>
      val pairs = ms.map(m => (m._3, m._4))
      for {
        Seq(p, q) <- pairs.combinations(2)
      } assert(p._2 != q._1 && q._2 != p._1,
        s"iteration $it kept a chaining batch: $p / $q")
    }
    // and the standing deep segmentation equals the reference fold
    val gotSegs = Curation2.txBpeDeepApply(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(gotSegs.keySet == refSegs.keySet)
    refSegs.foreach { case (id, seg) =>
      assert(gotSegs(id) == ((seg.size.toLong, seg.mkString("|"))))
    }
  }

  test("tx_bpe_deep equals the sequential-fold reference on the " +
      "corpus sample and trains past the word-collapse depth") {
    val docs = t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (refMerges, _) = referenceDeepBpe(docs)
    val got = runBpeDeep(sfDir)
    assert(got == refMerges)
    // the WORD vocabulary of this corpus is closed (31 words) and
    // saturates at 89 word-internal merges; the phrase trainer must
    // train past that ceiling even on the sf0.001 sample
    assert(got.size > 89, s"expected phrase depth, got ${got.size}")
  }

  test("tx_bpe_merges equals the sequential-fold trainer on the corpus") {
    val texts = t(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    assert(runBpe(sfDir) == referenceBpe(texts, 3))
  }

  test("chain-parity merging matches the fold on pathological runs") {
    // same-char runs (odd/even lengths), alternating runs, and a tie
    // on pair counts that the lexicographic break must resolve
    val texts = Seq(
      "aaaa aaaaa aab aa a baab",
      "abab ababab baba ab ab",
      "aaaa abab xyxy xyxy zq zq zq")
    val dir = writeDocs(texts)
    assert(runBpe(dir) == referenceBpe(texts, 3))
  }

  test("BPE training leaves no executor-local checkpoint and no leaked " +
      "cache") {
    // a private copy of the corpus, so all six standing BPE models train
    val dir = Files.createTempDirectory("graft_bpe_train_fix").toString
    fixtureDirs += dir
    Files.copy(java.nio.file.Paths.get(sfDir, "documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    spark.sharedState.cacheManager.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val all = TestSpark.plansIn {
      for (q <- Seq("tx_bpe_merges", "tx_bpe_batch", "tx_bpe_deep",
          "tx_bpe_apply", "tx_bpe_apply_deep", "tx_bpe_deep_apply")) {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        assert(df.collect().nonEmpty, q)
      }
    }
    for (m <- Seq("bpe_seg_3", "bpe_merges_3", "bpe_seg_b12x16",
        "bpe_merges_b12x16", "bpe_phrase_seg_84", "bpe_phrase_merges_84"))
      assert(Shared.buildCounts.get((dir, m)).contains(1L), m)
    all.filter(p => p.contains("LogicalRDD") || p.contains("ExistingRDD"))
      .foreach(p => fail(s"a plan reads a checkpointed RDD:\n${p.take(2000)}"))
    Shared.invalidate(dir)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cached relation outlived the training memo")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty,
      "a persistent RDD outlived the training memo")
  }

  // ---- dd_substring_scrub on planted spans ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("dd_substring_scrub removes planted spans and nothing else") {
    val span = (1 to 12).map(i => s"s$i")
    def uniq(d: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"u${d}w$i")
    val d0Keep = uniq(0, 5) ++ uniq(0, 5, 5)
    val d1Keep = uniq(1, 7) ++ uniq(1, 3, 7)
    val twin = (1 to 15).map(i => s"t$i")
    val texts = Seq(
      (uniq(0, 5) ++ span ++ uniq(0, 5, 5)).mkString(" "),
      (uniq(1, 7) ++ span ++ uniq(1, 3, 7)).mkString(" "),
      twin.mkString(" "),
      twin.mkString(" "),
      uniq(4, 20).mkString(" "))
    val dir = writeDocs(texts)
    val got = Curation2.ddSubstringScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(4))).toSeq
    assert(got == Seq(
      (0L, 22L, 12L, md5hex(d0Keep.mkString(" "))),
      (1L, 22L, 12L, md5hex(d1Keep.mkString(" "))),
      (2L, 15L, 15L, md5hex("")),
      (3L, 15L, 15L, md5hex("")),
      (4L, 20L, 0L, md5hex(texts(4)))))
  }

  test("scrubToModel lands the rewritten corpus in the catalog, " +
      "hash-consistent with the profile query") {
    import graft.api.{FalApi, Registry, RunLedger}
    val api = new FalApi(spark,
      new Registry(Files.createTempDirectory("graft-scrubm").toString),
      new RunLedger)
    val res = Curation2.scrubToModel(api, sfDir)
    val docs = graft.Tables.load(spark, sfDir, "documents")
    assert(res.rowsAffected == docs.count(),
      "every document must survive as a (possibly shortened) row")
    val written = api.ref("documents_scrubbed")
    // the materialized text is EXACTLY what dd_substring_scrub hashed,
    // and the removal counts agree row-for-row
    val profile = Curation2.ddSubstringScrub(spark, sfDir)
      .select(col("doc_id"), col("scrub_hash"), col("n_removed"))
    val joined = written
      .select(col("doc_id"), md5(col("text")).as("mat_hash"),
        col("n_removed").as("mat_removed"))
      .join(profile, Seq("doc_id"))
    assert(joined.count() == res.rowsAffected)
    assert(joined.filter(col("mat_hash") =!= col("scrub_hash") ||
      col("mat_removed") =!= col("n_removed")).isEmpty)
    // metadata carried; the corpus really shrank
    assert(written.columns.toSet == Set("doc_id", "lang", "source",
      "text", "n_words_orig", "n_removed"))
    val shrunk = written.agg(sum(col("n_removed"))).head.getLong(0)
    assert(shrunk > 0, "fixture has duplicated spans; scrub must cut")
  }
}

package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Curation2

/** Batch/stream equivalence of the DEEP (batched-trained) streaming
  * tokenizer: [[StreamBpeDeep]] broadcasts the learned merge table and
  * folds it over every word in (it, mrank) order, one local pass per
  * partition. Documents streamed through it must count tokens exactly
  * as (a) an INDEPENDENT sequential fold of the full learned merge
  * sequence in (it, rank) order, and (b) the standing
  * `tx_bpe_apply_deep` segmentation for corpus words — and novel words
  * must segment the way the trained tokenizer would (merges apply to
  * them; a lookup would miss). Both character-level tokenizers keep
  * the SQL readout's edge semantics (code-point symbols, summed
  * duplicate doc ids, null text), and the deep one costs no more Spark
  * jobs per batch than the 3-merge one.
  */
class StreamBpeDeepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def applyOnce(syms: List[String], l: String, r: String)
      : List[String] = syms match {
    case a :: b :: rest if a == l && b == r =>
      (a + b) :: applyOnce(rest, l, r)
    case a :: rest => a :: applyOnce(rest, l, r)
    case Nil => Nil
  }

  private def refTokens(word: String,
      merges: Seq[(String, String)]): Int =
    merges.foldLeft(word.map(_.toString).toList) {
      case (syms, (l, r)) => applyOnce(syms, l, r)
    }.size

  test("deep streamed tokenization: dictionary hits for corpus words, " +
      "full merge replay for novel vocabulary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // full learned sequence in (it, mrank) order — the fold reference.
    // Within one iteration batch the kept pairs are symbol-disjoint, so
    // folding them in rank order equals the simultaneous apply.
    val learned = Curation2.txBpeBatch(spark, dir)
      .orderBy("it", "mrank").collect()
      .map(r => (r.getString(2), r.getString(3))).toSeq
    assert(learned.size >= 50, s"expected deep training: ${learned.size}")

    val corpusDocs = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(1L, 2L))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (l1, r1) = learned.head
    val novelWords = Seq(s"zq$l1${r1}xv", s"$l1$r1$l1$r1", "zzzzz")
    val novel = (777001L, novelWords.mkString(" "))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[(Long, Long, Long)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val out = StreamBpeDeep.tokenizeBatch(spark, dir, b)
      got ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    }.start()
    try {
      // batch 1: pure corpus vocabulary
      input.addData(corpusDocs)
      q.processAllAvailable()
      assert(got.size == 2)
      // batch 2: novel vocabulary the trainer never saw
      input.addData(Seq(novel))
      q.processAllAvailable()
    } finally q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    assert(got.size == 3)

    // (a) the independent full-sequence fold, every doc
    for ((id, text) <- corpusDocs :+ novel) {
      val ws = text.split(" ").filter(_.nonEmpty)
      assert(byId(id)._2 == ws.length.toLong, s"n_words of doc $id")
      assert(byId(id)._3 == ws.map(refTokens(_, learned)).sum.toLong,
        s"n_tokens of doc $id under the deep fold")
    }
    // novel words really merged (fewer tokens than characters)
    assert(byId(777001L)._3 < novelWords.map(_.length).sum.toLong)

    // (b) corpus docs agree with the standing DEEP segmentation, and
    // deep counts are strictly coarser than the 3-merge twin's
    val segTokens = Curation2.txBpeApplyDeep(spark, dir)
      .select(col("term"), col("n_syms")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((id, text) <- corpusDocs) {
      val expect = text.split(" ").filter(_.nonEmpty).map(segTokens).sum
      assert(byId(id)._3 == expect,
        s"doc $id disagrees with the standing deep segmentation")
    }
    val shallowSeg = Curation2.txBpeApply(spark, dir)
      .select(col("term"), col("n_syms")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpusTotalDeep = corpusDocs.map { case (_, t) =>
      t.split(" ").filter(_.nonEmpty).map(segTokens).sum }.sum
    val corpusTotalShallow = corpusDocs.map { case (_, t) =>
      t.split(" ").filter(_.nonEmpty).map(shallowSeg).sum }.sum
    assert(corpusTotalDeep <= corpusTotalShallow)
  }

  /** The reference count with code-point symbols — the unit Spark's
    * `length`/`substr` split terms into. */
  private def refCodePointTokens(word: String,
      merges: Seq[(String, String)]): Int =
    merges.foldLeft(word.codePoints().toArray.toList
        .map(cp => new String(Character.toChars(cp)))) {
      case (syms, (l, r)) => applyOnce(syms, l, r)
    }.size

  test("edge rows at both depths: a non-BMP code point is one symbol, " +
      "duplicate doc ids sum, null text reports (0, 0)") {
    import spark.implicits._
    val shallow = Curation2.txBpeMerges(spark, dir)
      .orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val deep = Curation2.txBpeBatch(spark, dir)
      .orderBy("it", "mrank").collect()
      .map(r => (r.getString(2), r.getString(3))).toSeq
    val (l1, r1) = shallow.head
    val astral = "\uD835\uDD18" // U+1D518, one code point, two chars
    val rows = Seq[(Long, String)](
      (5L, s"$astral$l1$r1 zq$astral"),
      (3L, s"$l1$r1$l1 zz"),
      (4L, null),
      (3L, s" $l1$r1  x$astral "))
    val batch = rows.toDF("doc_id", "text")
    def expected(merges: Seq[(String, String)]): Seq[(Long, Long, Long)] =
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rs) =>
        val ws = rs.flatMap(r => Option(r._2).toSeq
          .flatMap(_.split(" ").filter(_.nonEmpty)))
        (id, ws.size.toLong,
          ws.map(refCodePointTokens(_, merges)).sum.toLong)
      }
    def served(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val want = expected(shallow)
    // one row per doc id, in id order: the duplicate id's words summed,
    // the null text empty
    assert(want.map(r => (r._1, r._2)) == Seq((3L, 4L), (4L, 0L), (5L, 2L)))
    assert(want(1)._3 == 0L)
    // the astral word counts one symbol per code point
    assert(refCodePointTokens(s"zq$astral", shallow) == 3)
    assert(served(StreamBpe.tokenizeBatch(spark, dir, batch)) == want)
    assert(served(StreamBpeDeep.tokenizeBatch(spark, dir, batch)) ==
      expected(deep))
  }

  test("a warm deep tokenize of novel words runs no more Spark jobs " +
      "than the 3-merge tokenize of the same batch") {
    import spark.implicits._
    val batch = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(1L, 2L))
      .select(col("doc_id"), col("text"))
      .union(Seq((777001L, "zqthxv thth zzzzz")).toDF("doc_id", "text"))
    // warm: standing models resolved, merge tables broadcast
    StreamBpe.tokenizeBatch(spark, dir, batch).collect()
    StreamBpeDeep.tokenizeBatch(spark, dir, batch).collect()
    val shallow = TestSpark.jobsIn("tokenize-shallow") {
      StreamBpe.tokenizeBatch(spark, dir, batch).collect(); ()
    }
    val deep = TestSpark.jobsIn("tokenize-deep") {
      StreamBpeDeep.tokenizeBatch(spark, dir, batch).collect(); ()
    }
    assert(shallow.nonEmpty)
    assert(deep.size <= shallow.size,
      s"deep tokenize ran ${deep.size} jobs, 3-merge ran ${shallow.size}")
  }
}

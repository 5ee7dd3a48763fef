package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Curation2

/** Batch/stream equivalence of BPE tokenization: documents streamed
  * through [[StreamBpe]] must count tokens exactly as (a) an
  * INDEPENDENT sequential-fold application of the learned merges (the
  * reference implementation the trainers are pinned to)
  * and (b) the standing `tx_bpe_apply` segmentation for corpus words —
  * including a brand-new word that one of the learned merges applies
  * to, which a vocabulary lookup would miss.
  */
class StreamBpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Sequential left-to-right non-overlapping single-merge pass — the
    * plain-fold reference (same as BpeScrubSpec's parity oracle).
    */
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

  test("streamed docs tokenize as the fold reference and the standing " +
      "segmentation; learned merges apply to unseen words") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val learned = Curation2.txBpeMerges(spark, dir)
      .orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(learned.size == 3)

    // two corpus docs + one synthetic doc whose words are UNSEEN but
    // contain the first learned merge pair (l+r) — the trained
    // tokenizer must merge it there too
    val corpusDocs = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(1L, 2L))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    assert(corpusDocs.size == 2)
    val (l1, r1) = learned.head
    val novelWords = Seq(s"zq$l1${r1}xv", s"$l1$r1$l1$r1", "zzzzz")
    val novel = (777001L, novelWords.mkString(" "))
    // wordless docs must still report (0, 0), not vanish from the sink
    val empty = (777002L, "   ")

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[(Long, Long, Long)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val out = StreamBpe.tokenizeBatch(spark, dir, b)
      got ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    }.start()
    try {
      input.addData(corpusDocs)
      q.processAllAvailable()
      assert(got.size == 2, "first micro-batch should emit 2 rows")
      input.addData(Seq(novel, empty))
      q.processAllAvailable()
    } finally q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    assert(got.size == 4)
    assert(byId(777002L) == ((777002L, 0L, 0L)),
      "a wordless doc must report (0, 0), not drop from the readout")

    // (a) independent sequential-fold reference, every doc
    for ((id, text) <- corpusDocs :+ novel) {
      val ws = text.split(" ").filter(_.nonEmpty)
      val expect = ws.map(refTokens(_, learned)).sum.toLong
      assert(byId(id)._2 == ws.length.toLong, s"n_words of doc $id")
      assert(byId(id)._3 == expect, s"n_tokens of doc $id")
    }
    // the unseen-word doc really exercises the merge (fewer tokens
    // than characters), not a degenerate char count
    val novelChars = novelWords.map(_.length).sum.toLong
    assert(byId(777001L)._3 < novelChars)

    // (b) corpus docs agree with the standing tx_bpe_apply rollup
    val segTokens = Curation2.txBpeApply(spark, dir)
      .select(col("term"), col("n_syms")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((id, text) <- corpusDocs) {
      val expect = text.split(" ").filter(_.nonEmpty)
        .map(segTokens).sum
      assert(byId(id)._3 == expect,
        s"doc $id disagrees with the standing segmentation")
    }
  }
}

package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Curation2

/** The production-depth phrase tokenizer's SERVING path
  * ([[StreamBpePhrase]]): broadcast merge table + one local fold per
  * document, pinned against the standing batch apply:
  *
  *  1. re-streamed TRAINING-SAMPLE docs reproduce the standing
  *     `tx_bpe_deep_apply` segmentation row-for-row (same fold, local
  *     vs distributed);
  *  2. NOVEL docs (ids the trainer never saw) segment by text — a new
  *     doc carrying a trained doc's text gets exactly that doc's
  *     segmentation, and every segmentation reassembles to the
  *     original text (the fold never loses or reorders words);
  *  3. the streaming attach produces the same rows micro-batch by
  *     micro-batch.
  */
class StreamBpePhraseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def sampleDocs = graft.Tables.load(spark, dir, "documents")
    .filter(col("doc_id") % Curation2.BpeDeepSampleMod === 0)
    .select("doc_id", "text")

  test("re-streamed sample docs reproduce the standing deep apply " +
      "(local fold ≡ distributed batched apply)") {
    val served = StreamBpePhrase.tokenizeBatch(spark, dir, sampleDocs)
      .select(col("doc_id"), col("n_tokens"), col("segmentation"))
    val standing = Curation2.txBpeDeepApply(spark, dir)
      .select(col("doc_id"), col("n_syms").as("n_tokens"),
        col("segmentation"))
    assert(served.count() > 0)
    assert(served.exceptAll(standing).isEmpty &&
      standing.exceptAll(served).isEmpty,
      "serving fold must equal the standing batched apply")
  }

  test("novel docs segment by text: a new id with a trained doc's " +
      "text gets that doc's segmentation; every segmentation " +
      "reassembles to its input") {
    import spark.implicits._
    val donors = sampleDocs.limit(3)
      .as[(Long, String)].collect()
    val novel = donors.map { case (id, text) => (id + 900000L, text) }
      .toSeq.toDF("doc_id", "text")
    val got: Map[Long, (Long, String)] =
      StreamBpePhrase.tokenizeBatch(spark, dir, novel)
        .as[(Long, Long, Long, String)].collect()
        .map(r => (r._1 - 900000L) -> ((r._3, r._4))).toMap
    val standing: Map[Long, (Long, String)] =
      Curation2.txBpeDeepApply(spark, dir)
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    donors.foreach { case (id, text) =>
      val (nTok, seg) = got(id)
      assert((nTok, seg) == standing(id),
        s"novel doc with donor $id's text must segment identically")
      assert(seg.replace("|", " ") == text,
        "segmentation must reassemble to the original text")
    }
    // and a genuinely unseen word sequence still reassembles
    val weird = Seq((1L, "table scan zz table scan zz"))
      .toDF("doc_id", "text")
    val w = StreamBpePhrase.tokenizeBatch(spark, dir, weird)
      .as[(Long, Long, Long, String)].head()
    assert(w._2 == 6 && w._4.replace("|", " ") ==
      "table scan zz table scan zz")
    assert(w._3 <= w._2, "tokens never exceed words")
  }

  test("streaming attach serves the same rows per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = sampleDocs.as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Buffer
      .empty[(Long, Long, Long, String)]
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val out = StreamBpePhrase.tokenizeBatch(spark, dir, b)
      seen ++= out.as[(Long, Long, Long, String)](
        org.apache.spark.sql.Encoders.product).collect()
    }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val batch = StreamBpePhrase.tokenizeBatch(spark, dir, sampleDocs)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(seen.toSet == batch,
      "streamed micro-batches must union to the one-shot batch result")
  }
}

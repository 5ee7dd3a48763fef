package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** Batch/stream equivalence of the ingest-gate decontamination probe:
  * the training corpus streamed in two micro-batches must flag exactly
  * the documents the one-shot batch query (dd_fuzzy_decontamination,
  * oracle-checked) flags, with identical verdict rows — plus a planted
  * verbatim copy of an eval doc must flag at estimate 1.0 in the
  * micro-batch that carries it.
  */
class StreamDecontamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed ingest-gate probes equal the batch decontamination") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.Tables.load(spark, dir, "documents")
    val train = docs.filter(col("source") =!= "src3")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(train.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[(Long, Long, Double)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val flagged = StreamDecontam.probeBatch(spark, dir, b)
      got ++= flagged.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.start()
    try {
      val (first, rest) = train.splitAt(train.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(rest.toSeq)
      q.processAllAvailable()

      val batch = Dedup.ddFuzzyDecontamination(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(batch.nonEmpty)
      assert(got.size == got.toSet.size,
        "a doc's verdict surfaced in more than one micro-batch")
      assert(got.toSet == batch)

      // planted leak: a verbatim copy of an eval doc arriving at the
      // gate must flag at estimate 1.0
      val evalText = docs.filter(col("source") === "src3")
        .select("text").as[String].head()
      got.clear()
      input.addData(Seq((999999L, evalText)))
      q.processAllAvailable()
      val hit = got.find(_._1 == 999999L)
      assert(hit.nonEmpty, "planted eval clone passed the gate unflagged")
      assert(hit.get._3 == 1.0)
    } finally q.stop()
  }
}

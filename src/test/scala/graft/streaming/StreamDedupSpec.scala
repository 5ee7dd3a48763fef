package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** Batch/stream equivalence of the incremental near-dup probe: the
  * ingest split streamed in two micro-batches must produce exactly the
  * pairs the one-shot batch probe (dd_incremental, oracle-checked)
  * produces — each pair exactly once.
  */
class StreamDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed micro-batch probes equal the batch incremental result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ingest = Dedup.corpus(spark, dir)
      .filter(col("doc_id") % 10 === 9)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(ingest.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[(Long, Long, Long, Double)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val pairs = StreamDedup.probeBatch(spark, dir, b)
      got ++= pairs.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.start()
    try {
      val (first, rest) = ingest.splitAt(ingest.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      val afterFirst = got.size
      input.addData(rest.toSeq)
      q.processAllAvailable()
      assert(afterFirst > 0 && got.size > afterFirst,
        "both micro-batches should surface pairs")

      val batch = Dedup.ddIncremental(spark, dir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got.size == got.toSet.size, "cross-batch duplicate pairs")
      assert(got.toSet == batch)
    } finally q.stop()
  }
}

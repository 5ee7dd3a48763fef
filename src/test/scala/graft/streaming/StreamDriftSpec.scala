package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Curation2

/** Batch/stream equivalence of the drift monitor: streaming exactly
  * the odd-doc_id half against the standing even-half reference must
  * reproduce the oracle-gated `cu_drift` rows, and a genuinely skewed
  * synthetic batch must light up its buckets while the balanced one
  * stays flat.
  */
class StreamDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private type DriftRow = (Long, Long, Long, Double, Double, Double)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[DriftRow] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq

  test("streaming the candidate half reproduces cu_drift exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val expected = rows(Curation2.cuDrift(spark, dir))
    val oddDocs = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    assert(oddDocs.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val batches = mutable.Buffer[Seq[DriftRow]]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val out = StreamDrift.driftBatch(spark, dir, b)
      batches += rows(out)
    }.start()
    try {
      // the monitor evaluates each micro-batch WHOLE (an admission
      // gate, not an accumulator) — so the full half arrives as one
      input.addData(oddDocs)
      q.processAllAvailable()
    } finally q.stop()

    assert(batches.size == 1)
    assert(batches.head == expected,
      "streamed drift rows must equal the oracle-gated cu_drift rows")
  }

  test("a skewed batch lights up; a reference-like batch stays flat") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // skewed: one invented token repeated — its bucket must show a
    // strongly negative log-ratio (candidate-heavy) and starve the rest
    val skewed = Seq((1L, Array.fill(500)("zqdriftword").mkString(" ")))
    val skewRows = rows(StreamDrift.driftBatch(spark, dir,
      skewed.toDF("doc_id", "text")))
    val minRatio = skewRows.map(_._6).min
    assert(minRatio < -2.0,
      s"the planted token's bucket should dominate, got $minRatio")
    // KL(ref || cand) = sum p_ref * log_ratio — large under skew
    val klSkew = skewRows.map(r => r._4 * r._6).sum
    assert(klSkew > 1.0, s"KL under skew was $klSkew")

    // reference-like: the even half streamed back is (near-)identical
    // to the reference → per-bucket ratios collapse toward zero
    val evenDocs = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val flatRows = rows(StreamDrift.driftBatch(spark, dir, evenDocs))
    val klFlat = flatRows.map(r => r._4 * r._6).sum
    assert(math.abs(klFlat) < 0.01, s"self-drift KL was $klFlat")
    assert(flatRows.map(r => math.abs(r._6)).max < 0.1,
      "no bucket should drift against itself")
  }
}

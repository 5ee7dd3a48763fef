package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Similarity

/** Batch/stream equivalence of the IVF probe: the fixture's 10 query
  * vectors streamed in two micro-batches must produce exactly the
  * oracle-checked sim_ivf_topk rows, each exactly once.
  */
class StreamAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streamed query vectors get the batch IVF top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val queries = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    assert(queries.length == 10)

    val input = MemoryStream[(Long, Array[Float])]
    val got = mutable.Buffer[(Long, Long, Long, Double)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("query_id", "embedding")) { (b, _) =>
      val hits = StreamAnn.probeBatch(spark, dir, b)
      got ++= hits.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.start()
    try {
      input.addData(queries.take(5).toSeq)
      q.processAllAvailable()
      assert(got.size == 25, "first batch should emit 5 queries x top-5")
      input.addData(queries.drop(5).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val batch = Similarity.simIvfTopk(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.size == got.toSet.size, "cross-batch duplicate rows")
    assert(got.toSet == batch)
  }

  test("streamed re-ingested clones flag against the standing index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // re-ingest exact copies of two corpus vectors under new ids plus
    // one genuine query vector (vec_id < 10, near-iid → no 0.95 match)
    val picks = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id").isin(97L, 194L, 3L))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val reingest = Seq(
      (2000097L, picks(97L)), (2000194L, picks(194L)), (2000003L, picks(3L)))

    val input = MemoryStream[(Long, Array[Float])]
    val got = mutable.Buffer[(Long, Long, Double)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("query_id", "embedding")) { (b, _) =>
      val hits = StreamAnn.dupBatch(spark, dir, b)
      got ++= hits.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.start()
    try {
      input.addData(reingest.take(2))
      q.processAllAvailable()
      input.addData(reingest.drop(2))
      q.processAllAvailable()
    } finally q.stop()

    // exact clones always flag their original at cosine 1.0 (identical
    // vectors share an assignment cell); the near-iid query flags
    // nothing — the check discriminates
    assert(got.exists(h => h._1 == 2000097L && h._2 == 97L && h._3 == 1.0))
    assert(got.exists(h => h._1 == 2000194L && h._2 == 194L && h._3 == 1.0))
    assert(!got.exists(_._1 == 2000003L), "near-iid vector wrongly flagged")

    // batch ≡ stream: the one-shot kernel over the same input matches
    val oneShot = StreamAnn.dupBatch(spark, dir,
        reingest.toDF("query_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == oneShot.toSet)
  }
}

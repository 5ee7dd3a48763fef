package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Batch/stream equivalence of the ingest curation pipeline: the same
  * documents streamed in two micro-batches must yield exactly the
  * curation decisions of a one-shot run, and the gates must actually
  * discriminate (some docs rejected, some flagged as near-dups).
  */
class StreamCurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6),
      r.getDouble(7), r.getBoolean(8)))

  test("streamed curation decisions equal the one-shot batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // crawl noise the quality gate must reject: too short / all punct
    val junk = Array(
      (900001L, "!!! ??? ### $$$ %%% &&& *** ((( ))) @@@"),
      (900002L, "too short"),
      (900003L, ""))
    val ingest = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 9)
      .select("doc_id", "text").as[(Long, String)].collect() ++ junk
    assert(ingest.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[(Long, String, Long, Double, Double, Long,
      Long, Double, Boolean)]()
    val q = StreamOps.eachBatch(
        input.toDF().toDF("doc_id", "text")) { (b, _) =>
      val decisions = StreamCuration.curateBatch(spark, dir, b)
      got ++= rows(decisions)
    }.start()
    try {
      val (first, rest) = ingest.splitAt(ingest.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(rest.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val oneShot = rows(StreamCuration.curateBatch(spark, dir,
      ingest.toSeq.toDF("doc_id", "text")))
    assert(got.size == got.map(_._1).distinct.size,
      "cross-batch duplicate decisions")
    assert(got.toSet == oneShot.toSet)

    // the pipeline must discriminate, not pass everything through
    assert(oneShot.length < ingest.length, "quality gate rejected nothing")
    assert(oneShot.exists(_._9), "no near-dup flagged")
    assert(oneShot.exists(!_._9), "everything flagged as near-dup")
  }

  test("curation decisions stream into the model store exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    import graft.api.{FalApi, Registry, RunLedger}

    val ingest = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 9)
      .select("doc_id", "text").as[(Long, String)].collect()
    val api = new FalApi(spark,
      new Registry(Files.createTempDirectory("graft-cur").toString),
      new RunLedger)
    val input = MemoryStream[(Long, String)]
    val q = StreamCuration.toModel(spark, dir,
      input.toDF().toDF("doc_id", "text"), api, "curated",
      Files.createTempDirectory("graft-cur-ckpt").toString)
    try {
      val (first, rest) = ingest.splitAt(ingest.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(rest.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val stored = rows(api.ref("curated")).toSet
    val oneShot = rows(StreamCuration.curateBatch(spark, dir,
      ingest.toSeq.toDF("doc_id", "text"))).toSet
    assert(stored == oneShot)

    // restart replay of a committed batch id must not duplicate rows
    val n = api.ref("curated").count()
    assert(!StreamIngest.applyBatch(api, "curated",
      StreamCuration.curateBatch(spark, dir,
        ingest.take(3).toSeq.toDF("doc_id", "text")), batchId = 0L))
    assert(api.ref("curated").count() == n)
  }

  test("watermarked front quarantines late documents instead of curating them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    import java.sql.Timestamp
    import graft.api.{FalApi, Registry, RunLedger}

    def ts(s: String) = Timestamp.valueOf(s)
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 9)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(docs.length >= 9)
    val api = new FalApi(spark,
      new Registry(Files.createTempDirectory("graft-wm").toString),
      new RunLedger)
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamCuration.toModelWatermarked(spark, dir,
      input.toDF().toDF("doc_id", "text", "event_ts"), api, "wm_curated",
      Files.createTempDirectory("graft-wm-ckpt").toString,
      delaySeconds = 600L)
    try {
      // batch 0: all at 10:00 — no watermark exists yet, nothing late
      val b0 = docs.take(4).map { case (id, t) =>
        (id, t, ts("2021-01-01 10:00:00")) }
      input.addData(b0.toSeq)
      q.processAllAvailable()
      // batch 1: watermark = 10:00 − 10 min = 09:50. One row at 09:40
      // (late → quarantine), one at 09:55 (inside the allowed lateness
      // → curated), rest at 10:05 (on time), plus one with NO event
      // time (null → on-time by definition, never silently dropped)
      val Array(d4, d5, d6, d7, d8) = docs.slice(4, 9)
      input.addData(Seq(
        (d4._1, d4._2, ts("2021-01-01 09:40:00")),
        (d5._1, d5._2, ts("2021-01-01 09:55:00")),
        (d6._1, d6._2, ts("2021-01-01 10:05:00")),
        (d7._1, d7._2, ts("2021-01-01 10:05:00")),
        (d8._1, d8._2, null)))
      q.processAllAvailable()
    } finally q.stop()

    // exactly the 09:40 straggler is quarantined, un-curated, stamped
    // with its batch id
    val quarantined = api.ref("wm_curated_quarantine")
      .select("doc_id", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(quarantined.toSeq == Seq((docs(4)._1, 1L)))
    // everything else (batch 0 + the on-time, allowed-late, and
    // null-ts batch-1 rows) went through curation — the curated model
    // holds exactly the gate survivors of those 8 docs, late one
    // excluded
    val expected = StreamCuration.curateBatch(spark, dir,
        (docs.take(4) ++ docs.slice(5, 9)).toSeq.toDF("doc_id", "text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stored = api.ref("wm_curated").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(stored == expected)
    assert(!stored.contains(docs(4)._1))

    // replaying a committed batch id changes nothing (restart safety)
    val (nQ, nC) = (api.ref("wm_curated_quarantine").count(),
      api.ref("wm_curated").count())
    StreamCuration.applyBatchWatermarked(spark, dir, api, "wm_curated",
      Seq((docs(4)._1, docs(4)._2, ts("2021-01-01 09:40:00")))
        .toDF("doc_id", "text", "event_ts"), batchId = 1L, 600L)
    assert(api.ref("wm_curated_quarantine").count() == nQ)
    assert(api.ref("wm_curated").count() == nC)
  }
}

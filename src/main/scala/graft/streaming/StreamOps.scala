package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

/** Structured Streaming shapes for the event operators (SURVEY.md §2e
  * E1–E4). The reference has no streaming surface; these are the
  * streaming twins of graft.operators.EventWindows — same expressions,
  * `readStream` instead of `read`, so a batch-verified query promotes to
  * a stream by swapping the source (the Spark unified-API contract).
  *
  * State scale: windowed aggregations keep one row of state per
  * (window × key) bounded by the watermark; sessionization via
  * `session_window` or explicit `flatMapGroupsWithState` keys state by
  * user — the state store partitions on the grouping key exactly like
  * the batch shuffle does.
  */
object StreamOps {

  /** The one micro-batch loop: `body` runs on every micro-batch of
    * `stream` with its batch id. The batch is persisted for the body's
    * scope and released in `finally`, so a body that reads it more than
    * once reads the source once, and a lost block recomputes from the
    * micro-batch's replayable source offsets instead of failing. Every
    * per-batch kernel (`StreamScrub.scrubBatch`, `StreamAnn.probeBatch`,
    * …) runs through here: `eachBatch(docs)((b, _) => sink(kernel(b)))`.
    * Caller adds checkpointing/trigger options and starts.
    */
  def eachBatch(stream: DataFrame)(body: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val b = batch.persist()
      try body(b, batchId) finally { b.unpersist(); () }
    }

  /** Normalize the events `ts` column to session-TZ TimestampType for
    * either source encoding (int64 nanos under nanosAsLong → µs
    * truncation; timestamp[µs] arrives TIMESTAMP_NTZ → cast). Pure
    * projection, so it works identically on batch and streaming frames
    * — the same branch `graft.Tables.load` applies.
    */
  def tsToTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class UserRunning(user_id: Long, n_events: Long,
      total_value: Double)

  /** E1 — tumbling-window counts with a 1h watermark. Works on a batch
    * or streaming DataFrame unchanged.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** E2 — native session windows (30 min gap). */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** E4 — stateful dedup on event_id within the watermark. */
  def dedupedByEventId(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state (the `mapGroupsWithState` surface the reference's
    * Python scripts approximate with pandas state, SURVEY.md §2e):
    * running per-user totals that survive across micro-batches.
    */
  def runningUserTotals(events: Dataset[Event])
      : Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event],
         state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val updated = batch.foldLeft(prev)((acc, e) =>
            UserRunning(userId, acc.n_events + 1, acc.total_value + e.value))
          state.update(updated)
          updated
      }
  }

  final case class SessionState(user_id: Long, n_events: Long,
      total_value: Double, last_ts_ms: Long)

  final case class ClosedSession(user_id: Long, n_events: Long,
      total_value: Double)

  /** Session closing via `flatMapGroupsWithState`: per-user state
    * accumulates until the event-time watermark passes the session's
    * gap deadline, then the operator EMITS the closed session and
    * clears state — zero output per invocation while a session is
    * live, one row when it closes (the flatMap shape;
    * `mapGroupsWithState` must emit exactly one row per invocation,
    * which can't express "emit only on close"). Event-time timeouts
    * make closing deterministic — driven by the data's own watermark,
    * not wall clocks — which is also what makes it replayable at
    * scale. State is one small record per active user, keyed and
    * partitioned like any grouped aggregation.
    */
  def closedSessions(events: Dataset[Event], gapMs: Long = 60000L)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(s.user_id, s.n_events, s.total_value))
          } else {
            val prev = state.getOption
              .getOrElse(SessionState(userId, 0L, 0.0, 0L))
            val updated = batch.foldLeft(prev)((acc, e) =>
              SessionState(userId, acc.n_events + 1,
                acc.total_value + e.value,
                math.max(acc.last_ts_ms, e.ts.getTime)))
            state.update(updated)
            state.setTimeoutTimestamp(updated.last_ts_ms + gapMs)
            Iterator.empty
          }
      }
  }

  /** Stream-stream join: clicks enriched with the impression that
    * preceded them by at most 20 minutes for the same user. Both sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so the state store can evict rows once the watermark
    * passes — the condition that keeps stream-stream join state finite
    * on an unbounded stream.
    */
  def clickImpressionJoin(clicks: DataFrame, impressions: DataFrame)
      : DataFrame = {
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val i = impressions.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
        col("ts").as("imp_ts"), col("value").as("imp_value"))
    c.join(i,
      col("user_id") === col("imp_user") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr("INTERVAL 20 MINUTES"))
      .select("click_id", "imp_id", "user_id", "click_ts", "imp_ts",
        "imp_value")
  }

  /** File-to-file pipeline: parquet source directory → stateful dedup →
    * parquet file sink with a checkpoint. This is the production layout
    * beyond the in-memory demo sink: the checkpoint makes restarts
    * resume exactly where they stopped, and the sink's _spark_metadata
    * commit log admits only committed files — together, exactly-once
    * output across failures (StreamOpsSpec drives a kill-and-restart).
    */
  def fileSinkPipeline(spark: SparkSession, sourceDir: String,
      sinkDir: String, checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    dedupedByEventId(stream)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Demo wiring: stream the events parquet as micro-batches into an
    * in-memory sink (usable from spark-shell; the specs drive the same
    * transforms through MemoryStream).
    */
  def demo(spark: SparkSession, sfDir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // file-source streaming wants a directory; glob-filter to the events
    // table (a production layout has a directory per table)
    val stream = tsToTimestamp(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
    val q = tumblingCounts(stream)
      .writeStream.format("memory").queryName("tumbling_demo")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
  }
}

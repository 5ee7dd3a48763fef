package graft.streaming

/** Runnable streaming surface (the specs drive the same transforms
  * through MemoryStream; this main shows them against the real testdata
  * as micro-batched file streams):
  *
  * {{{ sbt "runMain graft.streaming.StreamingDemo [sfDir]" }}}
  *
  * 1. events parquet → tumbling windowed counts → memory sink
  * 2. events parquet → stateful dedup → parquet file sink with
  *    checkpoint (the exactly-once production layout)
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftConf.session()

    // 1. windowed aggregation to a queryable in-memory sink
    StreamOps.demo(spark, sfDir)
    val windows = spark.table("tumbling_demo").count()
    println(s"STREAM_TUMBLING_WINDOWS=$windows")

    // 2. dedup into a checkpointed parquet sink; stage the events into
    // a directory-per-table layout with proper timestamps first (the
    // raw testdata stores ns-precision ts that only Tables.load maps)
    val out = java.nio.file.Files.createTempDirectory("graft-sink")
    val staged = out.resolve("source").toString
    graft.Tables.load(spark, sfDir, "events").write.parquet(staged)
    val q2 = StreamOps.fileSinkPipeline(spark, staged,
      out.resolve("data").toString, out.resolve("ckpt").toString,
      spark.read.parquet(staged).schema)
    q2.processAllAvailable(); q2.stop()
    val sunk = spark.read.parquet(out.resolve("data").toString).count()
    println(s"STREAM_SINK_ROWS=$sunk")
    spark.stop()
  }
}

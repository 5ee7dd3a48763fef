package graft

/** Dev smoke runner mirroring the driver's t1 check: `SparkEntry.entry`
  * on sf0.001 must return rows. Also prints the plan of the flagship so
  * plan regressions (lost broadcast, lost pushdown) are visible.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.session()
    val df = SparkEntry.entry(spark)
    if (args.contains("--explain")) df.explain("formatted")
    println(s"ENTRY_ROWS=${df.count()}")
    if (args.contains("--stream")) {
      graft.streaming.StreamOps.demo(spark, "/root/testdata/sf0.001")
      println(s"STREAM_ROWS=${spark.table("tumbling_demo").count()}")
    }
    spark.stop()
  }
}

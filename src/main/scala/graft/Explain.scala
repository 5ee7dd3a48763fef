package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `sbt "runMain graft.Explain <query> [sfDir]"` prints
  * the formatted physical plan of a SparkEntry query — the review loop
  * for pushdown/broadcast/codegen regressions (builder prompt: iterate
  * until it's the plan you'd want).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("c8_agg")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}

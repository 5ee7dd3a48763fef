package graft
import java.nio.file.{Files, Paths}
import graft.api.Json.{str => jsonString}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query-name filter
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftConf.tune(spark)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.put(name,
            s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(200))
        }
        // a query's caches live until its result is written (the
        // Bench/QueryTime rule)
        spark.sharedState.cacheManager.clearCache()
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failures are a first-class artifact: a missing result dir must
    // read as an ERROR, not silently vanish from the correctness record
    // (round 6 lost 21 rows that way). The final VERIFY_ERRORS line is
    // also a grep-able tail marker for the driver's captured output.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))
    println(s"VERIFY_ERRORS=${failed.size}")
    spark.stop()
  }

}

package graft
import java.nio.file.{Files, Paths}
import graft.api.Json.{str => jsonString}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py).
  *
  * An optional third argument (dev only) runs just the comma-separated
  * queries it names, and oracle_sql.json then holds just their oracles.
  * A name that is not a query fails the run before anything executes.
  * Tiled-fixture closure checks run through it:
  * {{{
  *   sbt "runMain graft.DataGen <sf0.1 dir> testdata/sf0.3 3"
  *   sbt "runMain graft.Verify testdata/sf0.3 /tmp/ms3 dd_simhash_resolve,dd_minhash_resolve,dd_minhash_hi_resolve"
  *   python3 scripts/check_resolve_midscale.py testdata/sf0.3 /tmp/ms3
  * }}}
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val all = SparkEntry.queries.keys.toSeq
    val names = args.drop(2).headOption.map(_.split(",").toSeq)
      .getOrElse(all)
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftConf.session()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { name =>
      try SparkEntry.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed.put(name,
          s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(200))
      }
    }
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
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

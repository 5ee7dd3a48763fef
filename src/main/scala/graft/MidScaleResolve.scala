package graft

/** Mid-scale EXACT-closure evidence for the bounded dedup resolves
  * (VERDICT r9 item #7): the sf1 tiling's giant component makes the
  * recursive-reach oracle infeasible (~2×10⁹ reach rows), so sf1 is
  * covered rows-only + property specs. This main fills the gap between
  * the last exact point (sf0.1) and sf1: tile the documents table
  * `copies`× from sf0.1 (same shift rule as the sf1 fixture, so clone
  * clusters DO cross copies), dump `dd_simhash_resolve` /
  * `dd_minhash_resolve` over the tiling, and emit the same
  * `oracle_sql.json` the driver gate consumes — then
  * `python3 scripts/check_oracle.py testdata/sf0.<copies> <outdir>`
  * replays the exact DuckDB closure there.
  *
  * {{{ sbt "runMain graft.MidScaleResolve 3 /tmp/midscale_out" }}}
  */
object MidScaleResolve {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(3)
    val out = if (args.length > 1) args(1) else "/tmp/midscale_out"
    // the tiling SOURCE is an argument with the driver-fixture default,
    // and the DESTINATION rides the same repo-local base ScalingProbe
    // reads (ADVICE r10: the hardcoded absolute source + CWD-relative
    // dest mixed path bases and broke runs from other directories)
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    // copies=10 lands on the standard sf1 tiling (shared with the
    // ScalingProbe / ApproxQualitySpec fixture)
    val dest = if (copies == 10) "testdata/sf1" else s"testdata/sf0.$copies"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConf.tune(spark)
    if (!new java.io.File(s"$dest/documents.parquet").exists())
      DataGen.tileDocuments(spark, src, dest, copies)
    val names = Seq("dd_simhash_resolve", "dd_minhash_resolve",
      "dd_minhash_hi_resolve")
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dest)
        .write.mode("overwrite").parquet(s"$out/$name")
      println(f"[midscale] $name $dest: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    import graft.api.Json.{str => jsonString}
    val json = names
      .map(n => jsonString(n) + ": " + jsonString(SparkEntry.oracleSql(n)))
      .mkString("{", ", ", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "oracle_sql.json"), json)
    println(s"WROTE=$out/oracle_sql.json")
    spark.stop()
  }
}

package graft

/** Dev micro-bench: time one or more named queries cold and warm.
  * Comma-separate names to amortize session spin-up over a list.
  *
  * The default sink is `count()`, the Bench metric. A fourth argument
  * `noop` writes to the noop sink instead, so the FULL plan runs —
  * `count()` lets Catalyst prune final projections (md5/filter stages),
  * which understates rewrite-heavy queries; this is the same
  * methodology ScalingProbe uses.
  *
  * After each run, one `[qt] build <model> <s>` line per standing model
  * that run built (its [[graft.operators.Shared.buildSeconds]] entry),
  * so a cold build is attributed to its model.
  *
  * {{{ sbt "runMain graft.QueryTime dd_ngram_jaccard /root/testdata/sf0.1 3" }}}
  * {{{ sbt "runMain graft.QueryTime q_rfm,q_sssp /root/testdata/sf0.1 3" }}}
  * {{{ sbt "runMain graft.QueryTime dd_substring_scrub testdata/sf1 3 noop" }}}
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val noop = args.length > 3 && args(3) == "noop"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftConf.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftConf.tune(spark)
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)")
      .collect()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        spark.sharedState.cacheManager.clearCache()
        val builtBefore = graft.operators.Shared.buildSeconds.toMap
        val t0 = System.nanoTime()
        val rows =
          if (noop) {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            "noop sink"
          } else s"${fn(spark, dir).count()} rows"
        println(f"[qt] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($rows)")
        graft.operators.Shared.buildSeconds.toSeq.sortBy(_._1)
          .filterNot { case (m, s) => builtBefore.get(m).contains(s) }
          .foreach { case (m, s) => println(f"[qt] build $m $s%.2f") }
      }
    }
    spark.stop()
  }
}

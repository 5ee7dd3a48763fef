package graft

/** Dev micro-bench: time one or more named queries cold and warm.
  * Comma-separate names to amortize session spin-up over a list.
  *
  * The fourth argument picks the sink. The default, `count`, is the
  * Bench metric. `noop` writes to the noop sink instead, so the FULL
  * plan runs — `count()` lets Catalyst prune final projections
  * (md5/filter stages), which understates rewrite-heavy queries; this is
  * the same methodology ScalingProbe uses. `explain` prints the
  * formatted physical plan — the review loop for pushdown, broadcast
  * and codegen regressions.
  *
  * After each run, one `[qt] build <model> <s>` line per standing model
  * that run built (its [[graft.operators.Shared.buildSeconds]] entry),
  * so a cold build is attributed to its model.
  *
  * {{{ sbt "runMain graft.QueryTime dd_ngram_jaccard /root/testdata/sf0.1 3" }}}
  * {{{ sbt "runMain graft.QueryTime q_rfm,q_sssp /root/testdata/sf0.1 3" }}}
  * {{{ sbt "runMain graft.QueryTime dd_substring_scrub testdata/sf1 3 noop" }}}
  * {{{ sbt "runMain graft.QueryTime c8_agg <sf0.01 dir> 1 explain" }}}
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val sink = if (args.length > 3) args(3) else "count"
    require(Set("count", "noop", "explain").contains(sink),
      s"sink must be count, noop or explain, got: $sink")
    val spark = GraftConf.session()
    SparkEntry.warmUp(spark)
    names.foreach { name =>
      (1 to reps).foreach { i =>
        val builtBefore = graft.operators.Shared.buildSeconds.toMap
        val (rows, sec) = SparkEntry.run(spark, name, dir) { df =>
          sink match {
            case "noop" =>
              df.write.format("noop").mode("overwrite").save()
              "noop sink"
            case "explain" =>
              df.explain("formatted")
              "plan"
            case _ => s"${df.count()} rows"
          }
        }
        println(f"[qt] $name run$i: $sec%.2f s ($rows)")
        graft.operators.Shared.buildSeconds.toSeq.sortBy(_._1)
          .filterNot { case (m, s) => builtBefore.get(m).contains(s) }
          .foreach { case (m, s) => println(f"[qt] build $m $s%.2f") }
      }
    }
    spark.stop()
  }
}

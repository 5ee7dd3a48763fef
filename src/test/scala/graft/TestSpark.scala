package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark session startup costs
  * seconds; specs share it the way the reference's tests share one dbt
  * profile).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The ids of the Spark jobs `run` starts on this thread, counted
    * under the job group `name`. */
  def jobsIn(name: String)(run: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try run finally sc.clearJobGroup()
    // the status store learns of jobs through the listener bus: a
    // marker job started after `run` is seen only once every job
    // `run` started has been recorded
    val marker = s"$name-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    sc.statusTracker.getJobIdsForGroup(name).toSeq
  }

  /** The plans (optimized + executed, as text) of every query `run`
    * executes on the shared session. */
  def plansIn(run: => Unit): Seq[String] = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = "plans-in-marker"
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.optimizedPlan.toString + qe.executedPlan.toString); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      // listener events arrive in order: once the marker query is seen,
      // every execution before it has been recorded
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker))
        .collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.toArray.exists(_.toString.contains(marker)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray.map(_.toString).toSeq
    assert(all.exists(_.contains(marker)),
      "the plan listener never saw the marker query")
    all.filterNot(_.contains(marker))
  }
}

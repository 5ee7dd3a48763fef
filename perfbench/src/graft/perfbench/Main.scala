package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftConf, SparkEntry}
import graft.api.{FalApi, ModelKind, Project, PyBridge, RunLedger}
import graft.plans.{Executor, ModelTask, NodeGraph, Plan, Runner,
  Scheduler, Selectors}

/** The benchmark's JVM side: runs one workload against the program's
  * public entry points and writes raw timings, output digests and (when
  * traced) spans and Spark job records to a JSON file. `run.py` turns
  * that file into metrics and checks the outputs.
  *
  * {{{
  *   graft.perfbench.Main <spec.properties> <result.json>
  * }}}
  *
  * Traced runs alternate traced and untraced repetitions, so the
  * tracing overhead is measured in the same process.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spec = new java.util.Properties()
    scala.util.Using.resource(Files.newBufferedReader(Paths.get(args(0))))(
      spec.load)
    def p(k: String): String = Option(spec.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"spec has no $k"))
    val threads = p("threads").toInt
    val spark = GraftConf.builder(s"local[$threads]", threads).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftConf.tune(spark)
    val bootDone = Clock.ms
    val traced = p("trace") == "1"
    val spans = new Spans
    val jobs = new JobLog
    if (traced) spark.sparkContext.addSparkListener(jobs)
    val run = new Run(spark, spans, threads, p("work"), p("seconds").toDouble,
      p("prep").toInt, traced)
    val body = p("workload") match {
      case "flow" => run.flow(p("project"), p("batches").split(",").toSeq)
      case "query" => run.query(p("queries").split(",").toSeq,
        p("corpora").split(",").toSeq)
      case other => throw new IllegalArgumentException(
        s"unknown workload kind: $other")
    }
    val control = run.control(p("control_dir"))
    val out = Json.obj(body ++ Seq(
      "boot_done_ms" -> Json.num(bootDone),
      "c1_scan_s" -> Json.arr(control.map(Json.num)),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "spans" -> (if (traced) spans.json else "[]"),
      "spark" -> (if (traced) jobs.json else "{}")))
    spark.stop()
    Files.writeString(Paths.get(args(1)), out)
    ()
  }

  /** Driver resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** CPU seconds used by this process and its waited-for children
    * (utime + stime + cutime + cstime of `/proc/self/stat`, 100 Hz).
    */
  def cpuSeconds: Double = {
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (11 to 14).map(i => f(i).toDouble).sum / 100.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      }
}

final class Run(spark: SparkSession, spans: Spans, threads: Int,
    work: String, seconds: Double, prepReps: Int, traced: Boolean) {
  import Main.{dirBytes, deleteTree}

  private def now: Double = Clock.ms
  private def secs(t0: Double): Double = (Clock.ms - t0) / 1000.0
  private def q(s: String) = Json.str(s)

  /** Timed repetitions fill the window and at least `minReps` run. The
    * JVM is still warming in a run this short, so a fixed count that
    * outlasts the window keeps every run's median at the same point of
    * the warm-up. Traced runs alternate traced (even) and untraced (odd)
    * repetitions.
    */
  private def window(minReps: Int)(f: (Int, Boolean) => Unit): Unit = {
    val start = now
    var i = 0
    while (i < minReps || secs(start) < seconds) {
      f(i, traced && i % 2 == 0)
      i += 1
    }
  }

  // ---- flows --------------------------------------------------------

  private final case class FlowRun(seconds: Double, cpu: Double,
      status: Int, api: FalApi)

  /** One `fal flow run` over `project` into storage `root`. Untraced, it
    * is exactly `graft.Cli`'s path: `Project.load` then `Runner.run`.
    * Traced, it composes Runner's public pieces with a timing wrapper
    * around each node task; Python models run through the same
    * `PyBridge.runModel` call inside a timed Scala model, which plans
    * as the same `FalModel` node.
    */
  private def flowRun(project: String, root: String, batch: String,
      trace: Option[String]): FlowRun = {
    val vars = Map("batch" -> batch)
    val t0 = now
    val c0 = Main.cpuSeconds
    val (status, api) = trace match {
      case None =>
        val api = new FalApi(spark, Project.load(project, root),
          new RunLedger)
        (Runner.run(api, Runner.RunConfig(threads = threads, vars = vars)),
          api)
      case Some(tr) => spans.span("flow.run", tr) {
        val reg = spans.span("api.load", tr) { Project.load(project, root) }
        reg.listModels.foreach { m =>
          m.kind match {
            case ModelKind.Python(py, env) =>
              val mode = m.meta.getOrElse("python_mode", "global")
              reg.register(m.copy(kind = ModelKind.Scala((_, a) =>
                spans.span("pybridge.call", tr,
                    attrs = Map("node" -> NodeGraph.modelId(m.name))) {
                  PyBridge.runModel(a, m.name, m.deps, py, env, mode)
                })))
            case _ =>
          }
        }
        val api = new FalApi(spark, reg, new RunLedger)
        val execId = spans.nextId()
        val scheduler = spans.span("plans.plan", tr) {
          val graph = NodeGraph.build(reg.listModels)
          val planned = Plan.scriptConnected(
            Plan.filtered(graph, Selectors.plan(graph, Nil)))
          Scheduler.fromGraph(planned, id => {
            val inner = Runner.modelTask(api, NodeGraph.modelName(id),
              vars = vars)
            ModelTask(id, a => {
              val sc = a.spark.sparkContext
              sc.setJobGroup(id, id)
              try spans.span("api.node", tr, parent = execId,
                  attrs = Map("node" -> id)) { inner.run(a) }
              finally sc.clearJobGroup()
            })
          })
        }
        (spans.span("plans.execute", tr, id = execId) {
          Executor.run(scheduler, api, threads)
        }, api)
      }
    }
    FlowRun(secs(t0), Main.cpuSeconds - c0, status, api)
  }

  private def statuses(r: FlowRun): String = Json.obj(
    r.api.listModelIds.toSeq.sorted.map { case (n, s) => n -> q(s) })

  /** Row count and order-independent checksum per model, read back
    * through `FalApi.ref`; the DuckDB side computes the same expression
    * (gen.checksum_sql).
    */
  private def checksums(api: FalApi): String = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = api.registry.listModels.map(_.name).map { n =>
        Future {
          try {
            val df = api.ref(n)
            val cat = df.columns.sorted
              .map(c => s"CAST(`$c` AS STRING)").mkString(", ")
            val r = df.selectExpr("count(1)",
              s"coalesce(sum(CAST(conv(substr(md5(concat_ws('|', $cat)), " +
                "1, 15), 16, 10) AS DECIMAL(38,0))), 0)").head()
            n -> Json.arr(Seq(q(r.getLong(0).toString),
              q(r.getDecimal(1).toBigInteger.toString)))
          } catch {
            case t: Throwable => n -> Json.arr(Seq(q("error"),
              q(String.valueOf(t.getMessage).take(200))))
          }
        }
      }
      Json.obj(Await.result(Future.sequence(fs), Duration.Inf).sorted)
    } finally pool.shutdown()
  }

  def flow(project: String, batches: Seq[String]): Seq[(String, String)] = {
    val Seq(b0, b1) = batches
    // set-up: cold full runs on fresh roots; the first also warms the JVM
    var state1 = "{}"
    var deps = "{}"
    val preps = (1 to prepReps).map { k =>
      val r = flowRun(project, s"$work/prep_$k", b0, None)
      if (k == prepReps) {
        state1 = checksums(r.api)
        deps = Json.obj(r.api.registry.listModels.map(m =>
          NodeGraph.modelId(m.name) ->
            Json.arr(m.deps.map(d => q(NodeGraph.modelId(d))))))
      }
      deleteTree(Paths.get(s"$work/prep_$k"))
      Json.obj(Seq("s" -> Json.num(r.seconds), "status" -> statuses(r)))
    }
    val reps = Seq.newBuilder[String]
    var last: Option[FlowRun] = None
    var lastRoot: Option[Path] = None
    window(3) { (i, tr) =>
      val root = s"$work/rep_$i"
      val trace = if (tr) Some(s"rep$i") else None
      val full = flowRun(project, root, b0, trace.map(_ + ".run"))
      val rerun = flowRun(project, root, b1, trace.map(_ + ".rerun"))
      reps += Json.obj(Seq("traced" -> tr.toString,
        "run_s" -> Json.num(full.seconds),
        "rerun_s" -> Json.num(rerun.seconds),
        "run_cpu_s" -> Json.num(full.cpu),
        "rerun_cpu_s" -> Json.num(rerun.cpu),
        "storage_bytes" -> dirBytes(Paths.get(root)).toString,
        "run_status" -> statuses(full), "rerun_status" -> statuses(rerun)))
      lastRoot.foreach(deleteTree)
      last = Some(rerun)
      lastRoot = Some(Paths.get(root))
    }
    val state2 = checksums(last.get.api)
    Seq("kind" -> q("flow"), "prep" -> Json.arr(preps), "reps" -> Json.arr(reps.result()),
      "deps" -> deps, "check" -> Json.obj(Seq(
        "state1" -> state1, "state2" -> state2)))
  }

  // ---- queries ------------------------------------------------------

  def query(names: Seq[String], corpora: Seq[String])
      : Seq[(String, String)] = {
    val fns = SparkEntry.queries
    val cache = spark.sharedState.cacheManager
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def attempt[T](what: String)(f: => T): Option[T] =
      try Some(f) catch { case t: Throwable =>
        errors.getOrElseUpdate(what,
          s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage)
            .take(200)}")
        None
      }
    // set-up: each round builds every query over a fresh corpus path and
    // standing root, so table loads and standing builds run cold
    val preps = corpora.zipWithIndex.map { case (dir, k) =>
      spark.conf.set("graft.standing.root", s"$work/standing_$k")
      val t0 = now
      names.foreach(n => attempt(s"prep$k:$n")(fns(n)(spark, dir)))
      cache.clearCache()
      Json.obj(Seq("s" -> Json.num(secs(t0))))
    }
    val dir = corpora.last
    val standingDir = Paths.get(s"$work/standing_${corpora.size - 1}")
    val built = graft.operators.Shared.buildSeconds.toSeq.sorted
    // warm-up, also the checked outputs: standing models resolve from the
    // durable catalog, as in a fresh process over an already-built root
    graft.operators.Shared.invalidate(dir)
    val t0 = now
    names.foreach { n =>
      attempt(s"out:$n")(fns(n)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(s"$work/out/$n"))
      cache.clearCache()
    }
    val warm = secs(t0)
    val resolved = graft.operators.Shared.resolveSeconds.toSeq.sorted
    val sc = spark.sparkContext
    val passes = Seq.newBuilder[String]
    window(5) { (i, tr) =>
      val tp = now
      val c0 = Main.cpuSeconds
      val steps = names.map { n =>
        val ts = now
        val count = attempt(s"pass$i:$n") {
          if (!tr) fns(n)(spark, dir).count()
          else {
            sc.setJobGroup(n, n)
            try spans.span("query", s"pass$i", attrs = Map("query" -> n)) {
              val df = spans.span("query.build", s"pass$i") {
                fns(n)(spark, dir)
              }
              val counted = df.groupBy().count()
              spans.span("query.plan", s"pass$i") {
                counted.queryExecution.executedPlan
              }
              spans.span("query.exec", s"pass$i") {
                counted.collect().head.getLong(0)
              }
            } finally sc.clearJobGroup()
          }
        }
        val s = secs(ts)
        val blocks = if (tr) sc.getRDDStorageInfo.map(_.numCachedPartitions)
          .sum else 0
        cache.clearCache()
        Json.obj(Seq("q" -> q(n), "s" -> Json.num(s),
          "count" -> count.map(_.toString).getOrElse("null"),
          "retained_blocks" -> blocks.toString))
      }
      passes += Json.obj(Seq("traced" -> tr.toString,
        "pass_s" -> Json.num(secs(tp)),
        "pass_cpu_s" -> Json.num(Main.cpuSeconds - c0),
        "steps" -> Json.arr(steps)))
    }
    def secsMap(kv: Seq[(String, Double)]) =
      Json.obj(kv.map { case (k, v) => k -> Json.num(v) })
    Seq("kind" -> q("query"), "prep" -> Json.arr(preps),
      "warm_s" -> Json.num(warm),
      "storage_bytes" -> dirBytes(standingDir).toString,
      "standing_built" -> secsMap(built),
      "standing_resolved" -> secsMap(resolved),
      "oracle" -> Json.obj(names.flatMap(n =>
        SparkEntry.oracleSql.get(n).map(sql => n -> q(sql)))),
      "reps" -> Json.arr(passes.result()),
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> q(v) }))
  }

  /** The `c1_scan` control query, timed three times once the workload
    * is done: a contended host shows up here, not only in the workload.
    */
  def control(dir: String): Seq[Double] = {
    val fn = SparkEntry.queries("c1_scan")
    (1 to 3).map { _ =>
      val t0 = now
      fn(spark, dir).count()
      secs(t0)
    }
  }
}

package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the listener's epoch-millisecond job times.
  */
object Clock {
  private val offsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ms: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** In-memory span recorder: name, start, end, parent and trace id per
  * span, kept until the run ends and written out with the result.
  */
final class Spans {
  final case class Span(id: Long, name: String, trace: String,
      parent: Long, start: Double, end: Double, attrs: Map[String, String])

  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  // innermost open span of this thread: the default parent
  private val open = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def nextId(): Long = ids.incrementAndGet()

  /** Time `f` as a span. `parent` < 0 nests it under the thread's
    * innermost open span; node tasks pass their parent explicitly
    * because they execute on pool threads. `id` > 0 uses an id taken
    * earlier from [[nextId]], so children can name the span up front.
    */
  def span[T](name: String, trace: String, parent: Long = -1L,
      attrs: Map[String, String] = Map.empty, id: Long = -1L)(f: => T): T = {
    val self = if (id > 0) id else nextId()
    val p = if (parent >= 0) parent else open.get().longValue
    val prev = open.get()
    open.set(self)
    val t0 = Clock.ms
    try f
    finally {
      buf.add(Span(self, name, trace, p, t0, Clock.ms, attrs))
      open.set(prev)
    }
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  def json: String = all.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "trace" -> Json.str(s.trace), "parent" -> s.parent.toString,
      "start" -> Json.num(s.start), "end" -> Json.num(s.end),
      "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) =>
        k -> Json.str(v) })))
  }.mkString("[", ",\n", "]")
}

/** Spark listener that keeps, per job, its job group, start and end, and
  * per completed stage its task count and summed task metrics. Jobs are
  * attributed to flow nodes and queries through the job group.
  */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long,
      val stages: Seq[Int]) { @volatile var end: Long = -1L }
  final case class Stage(id: Int, tasks: Int, runMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, written: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, group, e.time, e.stageIds))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.add(Stage(i.stageId, i.numTasks, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    ()
  }

  def json: String = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "group" -> Json.str(j.group),
        "start" -> j.start.toString, "end" -> j.end.toString,
        "stages" -> j.stages.mkString("[", ",", "]")))
    }
    val ss = stages.asScala.toSeq.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "tasks" -> s.tasks.toString,
        "run_ms" -> s.runMs.toString, "gc_ms" -> s.gcMs.toString,
        "shuffle_write" -> s.shuffleWrite.toString,
        "shuffle_read" -> s.shuffleRead.toString,
        "spill" -> s.spill.toString, "written" -> s.written.toString))
    }
    Json.obj(Seq("jobs" -> js.mkString("[", ",\n", "]"),
      "stages" -> ss.mkString("[", ",\n", "]")))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

package graft.plans

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api._

/** The warm Python path: every Python-model child is forked from one
  * long-lived server per interpreter ([[ForkServer]]), and each child
  * must still behave like a process of its own — deadline kill, crash
  * and signal isolation, no state carried between models — while the
  * server survives its children, is restarted when it dies, and scratch
  * dirs are reclaimed once the result is written.
  */
class ForkServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshApi(): FalApi = {
    val root = Files.createTempDirectory("graft-fork").toString
    new FalApi(spark, new Registry(root), new RunLedger)
  }

  private def base(rows: Int = 3, parts: Int = 1): ModelDef =
    ModelDef("base", ModelKind.Scala((s, _) => {
      import s.implicits._
      (1L to rows.toLong).map(i => (i, s"r$i")).toDF("id", "label")
        .repartition(parts)
    }))

  private def pyModel(dir: Path, name: String, body: String,
      deps: Seq[String] = Seq("base"),
      meta: Map[String, String] = Map.empty): ModelDef = {
    val f = dir.resolve(s"$name.py")
    Files.writeString(f, body.stripMargin)
    ModelDef(name, ModelKind.Python(f.toString), deps = deps, meta = meta)
  }

  private def failureDetail(api: FalApi, model: String): String =
    api.ledger.all.filter(r => r.node == NodeGraph.modelId(model) &&
      r.status == Status.Failure).map(_.detail).mkString("\n")

  private def withProp[T](k: String, v: String)(body: => T): T = {
    sys.props(k) = v
    try body finally sys.props.remove(k)
  }

  private def serverPid(): Long = {
    assert(PyBridge.available)
    ForkServer.serverPid("python3").getOrElse(fail("no python3 server"))
  }

  test("deadline: a hung child is killed by pid and the next model " +
      "runs on the same server") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val dir = Files.createTempDirectory("graft-fork-deadline")
    val pidFile = dir.resolve("sleeper.pid")
    val api = freshApi()
    api.registry.register(base())
    api.registry.register(pyModel(dir, "sleeper",
      s"""import os, time
         |
         |def model(dbt, fal):
         |    with open("$pidFile", "w") as f:
         |        f.write(str(os.getpid()))
         |    time.sleep(120)
         |"""))
    val server = serverPid()
    withProp("graft.step.timeout.sec", "2") {
      assert(Runner.run(api, Runner.RunConfig()) == 1)
    }
    assert(failureDetail(api, "sleeper").contains("timed out after 2s"),
      failureDetail(api, "sleeper"))
    val pid = Files.readString(pidFile).trim.toLong
    assert(!ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false),
      s"timed-out child $pid still running")

    val next = freshApi()
    next.registry.register(base())
    next.registry.register(pyModel(dir, "after",
      """def model(dbt, fal):
        |    return dbt.ref("base")
        |"""))
    assert(Runner.run(next, Runner.RunConfig()) == 0)
    assert(next.ref("after").count() == 3)
    assert(serverPid() == server, "the deadline must not cost the server")
  }

  test("interpreter state a model mutates does not leak into the next") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val dir = Files.createTempDirectory("graft-fork-leak")
    val api = freshApi()
    api.registry.register(base())
    api.registry.register(pyModel(dir, "mutate",
      """import json, os, sys
        |import pandas as pd
        |
        |def model(dbt, fal):
        |    json.GRAFT_LEAK = 1
        |    pd.set_option("display.max_rows", 7)
        |    sys.path.append("/graft_leak_probe")
        |    os.environ["GRAFT_LEAK"] = "1"
        |    return dbt.ref("base")
        |"""))
    api.registry.register(pyModel(dir, "probe",
      """import json, os, sys
        |import pandas as pd
        |
        |def model(dbt, fal):
        |    return pd.DataFrame({
        |        "module_global": [hasattr(json, "GRAFT_LEAK")],
        |        "max_rows": [pd.get_option("display.max_rows")],
        |        "sys_path": ["/graft_leak_probe" in sys.path],
        |        "environ": ["GRAFT_LEAK" in os.environ]})
        |""", deps = Seq("mutate")))
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val row = api.ref("probe").head
    assert(!row.getAs[Boolean]("module_global"))
    assert(row.getAs[Long]("max_rows") == 60L) // pandas' default
    assert(!row.getAs[Boolean]("sys_path"))
    assert(!row.getAs[Boolean]("environ"))
  }

  test("a child killed by a signal FAILs only its node, with its exit " +
      "code") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val dir = Files.createTempDirectory("graft-fork-signal")
    val api = freshApi()
    api.registry.register(base())
    api.registry.register(pyModel(dir, "selfkill",
      """import os, signal
        |
        |def model(dbt, fal):
        |    print("about to die", flush=True)
        |    os.kill(os.getpid(), signal.SIGKILL)
        |"""))
    api.registry.register(pyModel(dir, "sibling",
      """def model(dbt, fal):
        |    return dbt.ref("base")
        |"""))
    val server = serverPid()
    assert(Runner.run(api, Runner.RunConfig()) == 1)
    val detail = failureDetail(api, "selfkill")
    assert(detail.contains("exit 137") && detail.contains("about to die"),
      detail)
    assert(api.ledger.statusOf(NodeGraph.modelId("sibling"))
      .exists(_ != Status.Failure))
    assert(api.ref("sibling").count() == 3)
    assert(serverPid() == server)
  }

  test("a server killed from outside is restarted transparently") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val dir = Files.createTempDirectory("graft-fork-restart")
    val api = freshApi()
    api.registry.register(base())
    api.registry.register(pyModel(dir, "m",
      """def model(dbt, fal):
        |    return dbt.ref("base")
        |"""))
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val before = serverPid()
    val h = ProcessHandle.of(before).orElseThrow()
    h.destroyForcibly()
    h.onExit().get(10, java.util.concurrent.TimeUnit.SECONDS)
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    assert(api.ref("m").count() == 3)
    assert(serverPid() != before)
  }

  test("four partition workers and two global models run at once") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val dir = Files.createTempDirectory("graft-fork-concurrent")
    val api = freshApi()
    api.registry.register(base(rows = 80, parts = 8))
    val body =
      """import os, time
        |
        |def model(dbt, fal):
        |    df = dbt.ref("base")
        |    time.sleep(0.5)
        |    df["pid"] = os.getpid()
        |    return df
        |"""
    api.registry.register(pyModel(dir, "part", body,
      meta = Map("python_mode" -> "partition")))
    api.registry.register(pyModel(dir, "glob_a", body))
    api.registry.register(pyModel(dir, "glob_b", body))
    withProp("graft.py.workers", "4") {
      assert(Runner.run(api, Runner.RunConfig(threads = 3)) == 0)
    }
    import org.apache.spark.sql.functions.countDistinct
    for (m <- Seq("part", "glob_a", "glob_b"))
      assert(api.ref(m).count() == 80, m)
    assert(api.ref("part").select(countDistinct("pid")).head.getLong(0) == 4)
  }

  test("each call's scratch dir is reclaimed once its result is written") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val dir = Files.createTempDirectory("graft-fork-scratch")
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def scratchDirs(): Set[Path] = {
      val s = Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString
          .startsWith("graft_py_reclaim_")).toSet
      } finally s.close()
    }
    val before = scratchDirs()
    val api = freshApi()
    api.registry.register(base(rows = 20, parts = 4))
    val body =
      """def model(dbt, fal):
        |    return dbt.ref("base")
        |"""
    api.registry.register(pyModel(dir, "reclaim_global", body))
    api.registry.register(pyModel(dir, "reclaim_part", body,
      meta = Map("python_mode" -> "partition")))
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    assert(api.ref("reclaim_global").count() == 20)
    assert(api.ref("reclaim_part").count() == 20)
    assert(scratchDirs() == before)

    // a direct caller keeps the result readable until it releases it
    val df = PyBridge.runModel(api, "reclaim_direct", Seq("base"),
      dir.resolve("reclaim_global.py").toString)
    assert(df.count() == 20)
    assert(scratchDirs().size == before.size + 1)
    PyBridge.releaseScratch(api, "reclaim_direct")
    assert(scratchDirs() == before)
  }
}

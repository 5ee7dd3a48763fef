package graft.plans

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.api._

/** D1 flagship behavior: an actual `def model(dbt, fal)` Python file
  * running as a DAG node through PyBridge, reproducing the reference's
  * `simple_project/models/base/python/model_c.py` semantics (helper
  * import from the model dir + bool column + JSON column, round-tripped
  * through parquet back into the engine), and the reference's failure
  * semantics (`executor.py:97-104`): a crashing Python process FAILs
  * its node and transitively SKIPs dependants without harming the
  * session. Cancels (not fails) when no python3+pandas is on PATH.
  */
class PyBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshApi(): FalApi = {
    val root = Files.createTempDirectory("graft-py").toString
    new FalApi(spark, new Registry(root), new RunLedger)
  }

  private def baseModel: ModelDef =
    ModelDef("base_model", ModelKind.Scala((s, _) => {
      import s.implicits._
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "label")
    }))

  test("python model: bool + JSON columns round-trip through the bridge") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val api = freshApi()
    api.registry.register(baseModel)
    val proj = Files.createTempDirectory("graft-pyproj")
    Files.createDirectories(proj.resolve("helpers"))
    Files.writeString(proj.resolve("helpers").resolve("flags.py"),
      "def always_true():\n    return True\n")
    val pyFile = proj.resolve("enrich.py")
    Files.writeString(pyFile,
      """from helpers.flags import always_true
        |import json
        |
        |def model(dbt, fal):
        |    dbt.config(materialized="table")
        |    df = dbt.ref("base_model")
        |    df["my_bool"] = always_true()
        |    df["my_json"] = json.dumps({"a": 1, "b": 2})
        |    return df
        |""".stripMargin)
    api.registry.register(ModelDef("enrich",
      ModelKind.Python(pyFile.toString), deps = Seq("base_model")))

    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val out = api.ref("enrich")
    assert(out.count() == 3)
    assert(out.schema("my_bool").dataType ==
      org.apache.spark.sql.types.BooleanType)
    import org.apache.spark.sql.functions._
    val row = out.agg(
      sum(when(col("my_bool"), 1).otherwise(0)),
      sum(get_json_object(col("my_json"), "$.a").cast("long")),
      countDistinct(col("label"))).head
    assert(row.getLong(0) == 3) // every row kept the bool
    assert(row.getLong(1) == 3) // $.a == 1 parsed from every row
    assert(row.getLong(2) == 3) // original columns survived the hop
  }

  test("python model with declared environment runs in a cached venv") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    // Hand-build a pure-python wheel (a wheel is a zip + dist-info; no
    // build backend or index needed) — the offline stand-in for the
    // reference's `fal_environment` requirement sets.
    val wheelDir = Files.createTempDirectory("graft-wheel")
    val whl = wheelDir.resolve("graft_demo_pkg-0.1-py3-none-any.whl")
    val zos = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(whl))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("graft_demo_pkg/__init__.py",
      "def tag():\n    return \"from-venv\"\n")
    entry("graft_demo_pkg-0.1.dist-info/METADATA",
      "Metadata-Version: 2.1\nName: graft-demo-pkg\nVersion: 0.1\n")
    entry("graft_demo_pkg-0.1.dist-info/WHEEL",
      "Wheel-Version: 1.0\nGenerator: graft\nRoot-Is-Purelib: true\n" +
        "Tag: py3-none-any\n")
    entry("graft_demo_pkg-0.1.dist-info/RECORD",
      "graft_demo_pkg/__init__.py,,\n" +
        "graft_demo_pkg-0.1.dist-info/METADATA,,\n" +
        "graft_demo_pkg-0.1.dist-info/WHEEL,,\n" +
        "graft_demo_pkg-0.1.dist-info/RECORD,,\n")
    zos.close()

    val api = freshApi()
    api.registry.register(baseModel)
    val proj = Files.createTempDirectory("graft-pyenv")
    val pyFile = proj.resolve("enriched_env.py")
    Files.writeString(pyFile,
      """import graft_demo_pkg
        |
        |def model(dbt, fal):
        |    df = dbt.ref("base_model")
        |    df["origin"] = graft_demo_pkg.tag()
        |    return df
        |""".stripMargin)
    api.registry.register(ModelDef("enriched_env",
      ModelKind.Python(pyFile.toString, environment = Seq(whl.toString)),
      deps = Seq("base_model")))

    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val out = api.ref("enriched_env")
    assert(out.count() == 3)
    import org.apache.spark.sql.functions._
    assert(out.filter(col("origin") === "from-venv").count() == 3)
    // second resolution of the same requirement set hits the cache:
    // same interpreter path, and the venv dir carries the ok marker
    val py1 = PyBridge.pythonFor(Seq(whl.toString))
    val py2 = PyBridge.pythonFor(Seq(whl.toString))
    assert(py1 == py2 && py1 != "python3")
    assert(Files.exists(java.nio.file.Paths.get(py1).getParent
      .getParent.resolve(".graft_ok")))
  }

  test("conda environment flavor resolves through the get-or-create cache") {
    // the conda flavor of B12 (ref conda.py:33-90): a `conda`-headed
    // environment declaration resolves to a conda env created once and
    // keyed by the package hash. Skipped when no conda executable is
    // installed; the in-sandbox channel cache carries python itself,
    // so creation works offline.
    assume(PyBridge.condaExe.isDefined, "no conda executable installed")
    val py1 = PyBridge.pythonFor(Seq("conda"))
    assert(py1 != "python3" && py1.contains("conda_"),
      s"expected a conda-cache interpreter, got $py1")
    assert(Files.exists(java.nio.file.Paths.get(py1)),
      "conda env has no python binary")
    assert(Files.exists(java.nio.file.Paths.get(py1).getParent
      .getParent.resolve(".graft_ok")))
    // cache hit: same interpreter, no second create
    assert(PyBridge.pythonFor(Seq("conda")) == py1)
    // the interpreter actually runs
    val p = new ProcessBuilder(py1, "-c", "print(6*7)")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes).trim
    assert(p.waitFor() == 0 && out.endsWith("42"))
  }

  test("crashing python model FAILs, downstream SKIPs, session survives") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val api = freshApi()
    api.registry.register(baseModel)
    val proj = Files.createTempDirectory("graft-pyboom")
    val pyFile = proj.resolve("boom.py")
    Files.writeString(pyFile,
      """def model(dbt, fal):
        |    raise RuntimeError("synthetic python-model crash")
        |""".stripMargin)
    api.registry.register(ModelDef("boom",
      ModelKind.Python(pyFile.toString), deps = Seq("base_model")))
    api.registry.register(ModelDef("down",
      ModelKind.Scala((_, a) => a.ref("boom")), deps = Seq("boom")))

    assert(Runner.run(api, Runner.RunConfig()) == 1)
    assert(api.registry.relationExists("base_model"))
    assert(!api.registry.relationExists("boom"))
    assert(!api.registry.relationExists("down")) // transitive SKIP
    // the crash stayed in the child process — driver session unharmed
    assert(spark.range(5).count() == 5)
    assert(api.ledger.statusOf(NodeGraph.modelId("boom"))
      .contains(Status.Failure))
  }

  test("partition mode: same results as global, >1 worker observed") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    // pin the pool: the default min(8, cores) collapses to 1 on a
    // single-core runner and the >1-worker assertion below becomes an
    // environment flake (ADVICE r11)
    sys.props("graft.py.workers") = "3"
    try partitionModeBody()
    finally sys.props.remove("graft.py.workers")
  }

  private def partitionModeBody(): Unit = {
    val api = freshApi()
    // 6 part files so partition mode has real fan-out material, plus a
    // small side dep to prove broadcast inputs reach every worker
    api.registry.register(ModelDef("wide_base",
      ModelKind.Scala((s, _) => {
        import s.implicits._
        (1L to 60L).map(i => (i, i % 7)).toDF("id", "grp").repartition(6)
      })))
    api.registry.register(ModelDef("side_dim",
      ModelKind.Scala((s, _) => {
        import s.implicits._
        Seq((0L, "even"), (1L, "odd")).toDF("parity", "parity_name")
      })))
    val proj = Files.createTempDirectory("graft-pypart")
    val pyFile = proj.resolve("featurize.py")
    // a per-row transform (the partition-safe class) + os.getpid() so
    // the test can OBSERVE the fan-out; pid is projected out of the
    // equality compare below
    Files.writeString(pyFile,
      """import os
        |
        |def model(dbt, fal):
        |    df = dbt.ref("wide_base")
        |    dim = dbt.ref("side_dim")
        |    df["id_sq"] = df["id"] * df["id"]
        |    df["parity"] = df["id"] % 2
        |    df = df.merge(dim, on="parity").drop(columns=["parity"])
        |    df["worker_pid"] = os.getpid()
        |    return df
        |""".stripMargin)
    api.registry.register(ModelDef("feat_global",
      ModelKind.Python(pyFile.toString),
      deps = Seq("wide_base", "side_dim")))
    api.registry.register(ModelDef("feat_part",
      ModelKind.Python(pyFile.toString),
      deps = Seq("wide_base", "side_dim"),
      meta = Map("python_mode" -> "partition")))

    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val g = api.ref("feat_global")
    val p = api.ref("feat_part")
    // identical results modulo the observability column
    val cols = g.columns.filterNot(_ == "worker_pid").sorted.toSeq
    import org.apache.spark.sql.functions._
    assert(p.count() == 60 && g.count() == 60)
    assert(p.select(cols.map(col): _*).exceptAll(
      g.select(cols.map(col): _*)).isEmpty)
    assert(g.select(cols.map(col): _*).exceptAll(
      p.select(cols.map(col): _*)).isEmpty)
    // the fan-out is real: several interpreter processes, vs exactly
    // one in global mode
    val pidsPart = p.select(countDistinct("worker_pid")).head.getLong(0)
    val pidsGlobal = g.select(countDistinct("worker_pid")).head.getLong(0)
    info(s"partition-mode workers: $pidsPart (global: $pidsGlobal)")
    assert(pidsGlobal == 1)
    assert(pidsPart > 1,
      "partition mode ran in a single worker despite 6 input part files")
    // every worker child ran inside its own Spark task (VERDICT r12
    // #2) — the report is recorded FROM TaskContext on the task side,
    // so partition ids 0..w-1 prove the Python stage's parallelism
    // follows the cluster scheduler, not a driver-host thread pool
    val report = PyBridge.lastExecutorReport
    assert(report.map(_._1).sorted == Seq(0, 1, 2),
      s"expected 3 task-hosted workers, got $report")
    assert(report.map(_._2).sorted == Seq(0, 1, 2),
      s"each worker must run in its own Spark task: $report")
  }

  test("executor-lane partition mode: a crashing worker drains the " +
      "fleet and fails with the child's error, session unharmed") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    sys.props("graft.py.workers") = "3"
    try {
      val api = freshApi()
      api.registry.register(ModelDef("el_base",
        ModelKind.Scala((s, _) => {
          import s.implicits._
          (1L to 30L).map(i => (i, i * 3)).toDF("id", "v").repartition(3)
        })))
      val proj = Files.createTempDirectory("graft-pyexecboom")
      val pyFile = proj.resolve("boom_part.py")
      Files.writeString(pyFile,
        """def model(dbt, fal):
          |    raise RuntimeError("synthetic partition-worker crash")
          |""".stripMargin)
      assert(Runner.run(api, Runner.RunConfig()) == 0)
      val e = intercept[RuntimeException] {
        PyBridge.runModel(api, "el_boom", Seq("el_base"),
          pyFile.toString, mode = "partition")
      }
      // the failure carries the child's log tail, not a Spark task
      // stack — the child error returned through the drained report
      assert(e.getMessage.contains("synthetic partition-worker crash"),
        s"expected the child's error, got: ${e.getMessage}")
      // the crash stayed in child processes — the session still works
      assert(spark.range(7).count() == 7)
    } finally sys.props.remove("graft.py.workers")
  }

  test("partition mode rejects an over-cap secondary dep with an " +
      "actionable error (VERDICT r11 #6)") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val api = freshApi()
    api.registry.register(ModelDef("part_base",
      ModelKind.Scala((s, _) => {
        import s.implicits._
        (1L to 20L).map(i => (i, i * 2)).toDF("id", "v").repartition(2)
      })))
    // a "corpus-sized" secondary dep relative to a tiny test cap
    api.registry.register(ModelDef("big_side",
      ModelKind.Scala((s, _) => {
        import s.implicits._
        (1L to 5000L).map(i => (i, s"payload_$i" * 10)).toDF("k", "pay")
      })))
    val proj = Files.createTempDirectory("graft-pycap")
    val pyFile = proj.resolve("m.py")
    Files.writeString(pyFile,
      """def model(dbt, fal):
        |    return dbt.ref("part_base")
        |""".stripMargin)
    // materialize the deps first; the capped model itself is invoked
    // directly so the failure surfaces as the thrown error, not a
    // node FAIL
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    sys.props("graft.py.sideDepMaxBytes") = "1024"
    try {
      val e = intercept[IllegalArgumentException] {
        PyBridge.runModel(api, "capped", Seq("part_base", "big_side"),
          pyFile.toString, mode = "partition")
      }
      assert(e.getMessage.contains("big_side") &&
        e.getMessage.contains("every worker") &&
        e.getMessage.contains("graft.py.sideDepMaxBytes"),
        s"error must name the dep and the remedy: ${e.getMessage}")
    } finally sys.props.remove("graft.py.sideDepMaxBytes")
    // under the default cap the same dep is fine (dimension-sized)
    assert(PyBridge.runModel(api, "capped",
      Seq("part_base", "big_side"), pyFile.toString,
      mode = "partition").count() == 20)
  }

  test("a failed handoff deletes its scratch dir") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def scratchDirs(): Set[java.nio.file.Path] = {
      val s = Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString
          .startsWith("graft_py_leak_probe")).toSet
      } finally s.close()
    }
    val before = scratchDirs()
    val api = freshApi()
    // the dep's ref() fails before any child starts, in both modes
    for (mode <- Seq("global", "partition")) {
      intercept[IllegalStateException] {
        PyBridge.runModel(api, "leak_probe", Seq("not_there"),
          "unused.py", mode = mode)
      }
      assert(scratchDirs() == before, s"$mode mode leaked its scratch dir")
    }
  }

  test("conda python-pin detection matches interpreter specs only") {
    // ADVICE r8: `python3` / `python==3.11` must count as pins (no
    // second bare `python` appended → no conflicting interpreter),
    // while `python-dateutil` must NOT
    import graft.api.PyBridge.pinsPythonInterpreter
    for (pin <- Seq("python", "python=3.11", "python==3.11", "python3",
        "Python>=3", "python3.11"))
      assert(pinsPythonInterpreter(pin), pin)
    for (pkg <- Seq("python-dateutil", "pythonnet=3", "numpy", "pandas>=2"))
      assert(!pinsPythonInterpreter(pkg), pkg)
  }
  /** Every file under `root`, relative path -> bytes. */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    scala.util.Using.resource(Files.walk(r)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => r.relativize(f).toString -> Files.readAllBytes(f).toSeq)
        .toMap
    }
  }

  test("python models read ref()'s rows and dtypes over a chain, a " +
      "partitioned and a deferred dep, and leave every dep file in place") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val stateRoot = Files.createTempDirectory("graft-py-state").toString
    new FalApi(spark, new Registry(stateRoot), new RunLedger).writeToModel(
      Seq((7L, "x"), (8L, "y")).toDF("id", "label"), "deferred_dep")
    val root = Files.createTempDirectory("graft-py").toString
    val api = new FalApi(spark, new Registry(root), new RunLedger,
      defer = Some(new Registry(stateRoot)))
    // a schema-evolved chain: the old rows' new column is null
    api.writeToModel(Seq((1L, "a"), (2L, "b")).toDF("id", "label"),
      "chain_dep")
    api.writeToModel(Seq((3L, "c", "new")).toDF("id", "label", "extra"),
      "chain_dep", mode = "append")
    api.registry.register(ModelDef("part_dep", ModelKind.Sql("unused"),
      meta = Map("partition_by" -> "region")))
    api.writeToModel(Seq((1L, "eu"), (2L, "us"), (3L, "eu"))
      .toDF("id", "region"), "part_dep")
    api.writeToModel((1L to 40L).map(i => (i, s"p$i")).toDF("id", "label")
      .repartition(4), "plain_dep")
    val before = (tree(root), tree(stateRoot))

    val proj = Files.createTempDirectory("graft-pyfallback")
    val pandasType = Map[DataType, String](
      LongType -> "int64", StringType -> "object")
    def readThrough(dep: String, mode: String): Unit = {
      val py = proj.resolve(s"read_$dep.py")
      Files.writeString(py,
        s"""def model(dbt, fal):
           |    df = dbt.ref("$dep")
           |    df["dtypes"] = ",".join(
           |        "%s:%s" % (c, t) for c, t in df.dtypes.items())
           |    return df
           |""".stripMargin)
      val name = s"read_${dep}_$mode"
      try {
        val want = api.ref(dep)
        val got = PyBridge.runModel(api, name, Seq(dep), py.toString,
          mode = mode)
        val wantDtypes = want.schema.fields
          .map(f => s"${f.name}:${pandasType(f.dataType)}").sorted.toSeq
        val gotDtypes = got.select("dtypes").distinct().collect()
          .map(_.getString(0).split(",").sorted.toSeq).toSeq
        assert(gotDtypes.nonEmpty && gotDtypes.forall(_ == wantDtypes),
          s"$dep: python saw $gotDtypes, ref() has $wantDtypes")
        val rows = got.select(want.columns.toSeq.map(col): _*)
        assert(rows.count() == want.count(), dep)
        assert(rows.exceptAll(want).isEmpty && want.exceptAll(rows).isEmpty,
          s"$dep: python read different rows than ref()")
      } finally PyBridge.releaseScratch(api, name)
    }
    Seq("chain_dep", "part_dep", "deferred_dep", "plain_dep")
      .foreach(readThrough(_, "global"))
    sys.props("graft.py.workers") = "2"
    try readThrough("plain_dep", "partition")
    finally sys.props.remove("graft.py.workers")
    assert((tree(root), tree(stateRoot)) == before,
      "a handoff changed, moved or added a file under a storage root")
  }

  test("a global python model over a plain dep runs no Spark job " +
      "before its child starts") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    val api = freshApi()
    api.registry.register(baseModel)
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val proj = Files.createTempDirectory("graft-pyjobs")
    val stamp = proj.resolve("child_started_ms")
    val pyFile = proj.resolve("stamped.py")
    Files.writeString(pyFile,
      s"""import time
         |
         |def model(dbt, fal):
         |    with open("$stamp", "w") as f:
         |        f.write(str(int(time.time() * 1000)))
         |    return dbt.ref("base_model")
         |""".stripMargin)
    try {
      val jobs = TestSpark.jobsIn("py-handoff") {
        assert(PyBridge.runModel(api, "stamped", Seq("base_model"),
          pyFile.toString).count() == 3)
      }
      val childStart = Files.readString(stamp).trim.toLong
      val tracker = spark.sparkContext.statusTracker
      val before = jobs.filter { j =>
        tracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)
          .flatMap(tracker.getStageInfo(_)).map(_.submissionTime)
          .exists(t => t > 0 && t < childStart)
      }
      assert(before.isEmpty,
        s"jobs $before ran before the child started (of $jobs)")
    } finally PyBridge.releaseScratch(api, "stamped")
  }

  test("python outputs' schemas come from their footers: no Spark job " +
      "runs between the children exiting and runModel returning") {
    assume(PyBridge.available, "python3 with pandas+pyarrow not on PATH")
    import scala.jdk.CollectionConverters._
    val api = freshApi()
    api.registry.register(ModelDef("typed_base",
      ModelKind.Scala((s, _) => {
        import s.implicits._
        (1L to 8L).map(i => (i, s"l$i")).toDF("id", "label").repartition(2)
      })))
    assert(Runner.run(api, Runner.RunConfig()) == 0)
    val proj = Files.createTempDirectory("graft-pyfooter")
    val stamps = Files.createDirectories(proj.resolve("stamps"))
    val pyFile = proj.resolve("typed.py")
    // the bool + JSON fixture plus a float column; each child stamps
    // the time its model returns, before it writes its output and exits
    Files.writeString(pyFile,
      s"""import json, os, time
         |
         |def model(dbt, fal):
         |    df = dbt.ref("typed_base")
         |    df["my_bool"] = True
         |    df["my_json"] = json.dumps({"a": 1, "b": 2})
         |    df["ratio"] = df["id"] / 2.0
         |    with open(os.path.join("$stamps", str(os.getpid())), "w") as f:
         |        f.write(str(int(time.time() * 1000)))
         |    return df
         |""".stripMargin)
    val tracker = spark.sparkContext.statusTracker
    sys.props("graft.py.workers") = "2"
    try for (mode <- Seq("global", "partition")) {
      val name = s"typed_$mode"
      Files.list(stamps).iterator().asScala.foreach(Files.delete)
      try {
        var out: org.apache.spark.sql.DataFrame = null
        val jobs = TestSpark.jobsIn(s"py-footer-$mode") {
          out = PyBridge.runModel(api, name, Seq("typed_base"),
            pyFile.toString, mode = mode)
        }
        val ends = Files.list(stamps).iterator().asScala
          .map(f => Files.readString(f).trim.toLong).toSeq
        assert(ends.size == (if (mode == "global") 1 else 2), mode)
        val after = jobs.filter { j =>
          tracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)
            .flatMap(tracker.getStageInfo(_)).map(_.submissionTime)
            .exists(_ >= ends.max)
        }
        assert(after.isEmpty,
          s"$mode: jobs $after ran after the children exited (of $jobs)")
        assert(out.count() == 8)
        assert(out.schema("my_bool").dataType ==
          org.apache.spark.sql.types.BooleanType)
        for (f <- out.inputFiles)
          assert(PyBridge.footerSchema(spark, f) ==
            spark.read.parquet(f).schema, s"$mode: $f")
      } finally PyBridge.releaseScratch(api, name)
    } finally sys.props.remove("graft.py.workers")
  }
}

package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** D1 for real: run a reference-style Python model — a `.py` file
  * defining `def model(dbt, fal)` over pandas DataFrames — as a DAG
  * node, in its own interpreter process.
  *
  * This is the reference's teleport execution shape
  * (`/root/reference/projects/adapter/src/dbt/adapters/fal_experimental/
  * teleport.py:43-56` + `utils/environments.py`): instead of sharing a
  * connection, the parent materializes every `ref()` input to parquet,
  * the child reads them with pandas, runs the user function, writes its
  * result parquet, and the parent loads that back through the normal
  * `writeToModel` path. Nothing crosses the boundary except parquet
  * files and a JSON manifest, so a crashing or memory-bombing model
  * cannot harm the driver JVM (the fault-isolation half of B12), and
  * the child needs no Spark — just `pandas` + `pyarrow`.
  *
  * Scale note: the reference runs every Python model in ONE pandas
  * process over the whole materialized input
  * (`impl.py:65-137`) — its #1 scalability limit. The rebuild keeps
  * that shape only as the DEFAULT (`python_mode=global`, for genuinely
  * global models like a prophet fit over an already-reduced
  * aggregate), and adds a partition-parallel mode
  * (`python_mode=partition`, [[runModelPartitioned]]) for the per-row/
  * per-partition majority: the primary input's part files fan out to N
  * worker interpreters — the `mapInPandas` execution shape expressed
  * over the same parquet-handoff child contract — so the model's
  * memory bound is one PARTITION, not the relation, and wall-clock
  * divides by the worker count. At cluster scale the same declaration
  * maps to executor-side Arrow workers; the handoff stays O(inputs +
  * output) parquet either way.
  *
  * Process lifecycle: no call starts an interpreter of its own. Each
  * interpreter path ([[pythonFor]]: `python3`, or a cached venv/conda
  * env) gets one [[ForkServer]] per JVM, started on first use, which
  * imports pandas + pyarrow once and forks one child per model call
  * (global) or per worker (partition, in either lane — an executor-lane
  * task uses the server of the JVM it runs in). A child is the same
  * process boundary as before: its own address space, its own log,
  * its exit code, the `graft.step.timeout.sec` deadline (the server
  * SIGKILLs it by pid); the server outlives it and is restarted if
  * found dead. Scratch dirs are reclaimed once the result is written
  * ([[releaseScratch]]).
  */
object PyBridge {

  /** Interpreter + deps probe, memoized: the bridge needs a `python3`
    * with pandas and pyarrow on PATH (specs cancel when absent). Read
    * from the `python3` fork-server's ready line, so the probe also
    * warms the server the first model call uses.
    */
  lazy val available: Boolean = ForkServer.importsOk("python3")

  private[api] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Hung-child deadline for external steps (a child that never exits
    * would otherwise pin an executor thread forever; the reference's
    * process boundary lets its scheduler keep serving other branches).
    */
  private[api] def stepTimeoutSec: Long =
    sys.props.get("graft.step.timeout.sec")
      .orElse(sys.env.get("GRAFT_STEP_TIMEOUT_SEC"))
      .map(_.toLong).getOrElse(600L)

  /** Run a child with stdout+stderr streamed to `logFile` (NOT buffered
    * in driver memory — a stdout-flooding step otherwise pressures the
    * JVM it was isolated from), a hard deadline, and only the log TAIL
    * read back for error messages.
    */
  private[api] def runLogged(pb: ProcessBuilder,
      logFile: java.nio.file.Path, what: String): Unit = {
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile.toFile)
    val proc = pb.start()
    val deadline = stepTimeoutSec
    val finished =
      proc.waitFor(deadline, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      proc.destroyForcibly()
      proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      throw new RuntimeException(
        s"$what timed out after ${deadline}s (killed):\n${tailOf(logFile)}")
    }
    val code = proc.exitValue()
    if (code != 0)
      throw new RuntimeException(
        s"$what failed (exit $code):\n${tailOf(logFile)}")
  }

  /** Last ~2000 bytes of a (possibly huge) log file, without loading it. */
  private[api] def tailOf(p: java.nio.file.Path, n: Int = 2000): String =
    try {
      val raf = new java.io.RandomAccessFile(p.toFile, "r")
      try {
        val len = raf.length()
        raf.seek(math.max(0L, len - n))
        val buf = new Array[Byte](math.min(n.toLong, len).toInt)
        raf.readFully(buf)
        new String(buf, UTF_8)
      } finally raf.close()
    } catch { case _: Exception => "(no output captured)" }

  /** Recursive delete, best-effort (scratch-dir reclamation). */
  private[api] def deleteRec(p: java.nio.file.Path): Unit =
    try {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    } catch { case _: Exception => () }

  private val envCache =
    scala.collection.concurrent.TrieMap.empty[List[String], String]

  /** B12's dependency-environment half: the interpreter for a model's
    * declared requirement set — a venv cached by the hash of the sorted
    * requirements, the reference's `get_or_create` idea
    * (`/root/reference/projects/fal/src/fal/packages/environments/
    * virtual_env.py:35-60` keys a reusable venv dir on the dependency
    * hash). `--system-site-packages` keeps the bridge's own
    * pandas+pyarrow handoff importable; requirements that are local
    * files/dirs (wheels) install with `--no-index` so declared-offline
    * sets never touch a package index. A `.graft_ok` marker validates
    * the cache across processes; a failed build leaves no marker and is
    * rebuilt on next touch.
    */
  /** Conda executable, resolved like the reference (`conda.py:25-28`:
    * $CONDA_EXE, else `conda` on PATH); None when absent so callers
    * can skip gracefully. */
  private[graft] lazy val condaExe: Option[String] =
    sys.env.get("CONDA_EXE").filter(p => Files.exists(
        java.nio.file.Paths.get(p)))
      .orElse {
        val fromPath = sys.env.getOrElse("PATH", "").split(":")
          .map(d => java.nio.file.Paths.get(d, "conda"))
          .find(Files.exists(_)).map(_.toString)
        fromPath.orElse(Seq(
          sys.props.getOrElse("user.home", "/root") + "/miniconda/bin/conda")
          .find(p => Files.exists(java.nio.file.Paths.get(p))))
      }

  /** B12's conda flavor (ref `conda.py:33-90`): packages key the env by
    * their SHA-256 (the reference's `key` property) and
    * `_get_or_create` materializes `conda create --yes --prefix
    * <cache>/conda_<digest> <packages…>` exactly once, reused across
    * models and processes via the `.graft_ok` marker. Divergences,
    * both deliberate: a bare `python` is appended when the declaration
    * doesn't pin one (the reference pins the host's exact version for
    * pickle compatibility; our handoff is parquet, so any interpreter
    * works), and `--offline` is passed unless GRAFT_CONDA_ONLINE=1 so
    * a zero-egress sandbox draws on the local package cache instead of
    * hanging on a channel fetch.
    */
  /** True when a conda spec's NAME token pins python-the-interpreter:
    * `python`, `python=3.11`, `python==3.11`, `python3`, `Python>=3`…
    * — but not a package that merely starts with the word
    * (`python-dateutil`), hence the name-token regex rather than a
    * bare startsWith.
    */
  private[graft] def pinsPythonInterpreter(spec: String): Boolean =
    spec.takeWhile(c => c != '=' && c != '<' && c != '>').trim
      .toLowerCase(java.util.Locale.ROOT)
      .matches("python[0-9.]*")

  private def condaFor(packages: Seq[String]): String = {
    val conda = condaExe.getOrElse(throw new IllegalStateException(
      "model declares a conda environment but no conda executable found"))
    val pkgs0 = packages.sorted
    val pkgs =
      if (pkgs0.exists(pinsPythonInterpreter)) pkgs0
      else pkgs0 :+ "python"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(pkgs.mkString(" ").getBytes(UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.env.cache",
        sys.props("java.io.tmpdir") + "/graft_envs"))
    Files.createDirectories(base)
    val envDir = base.resolve(s"conda_$digest")
    val marker = envDir.resolve(".graft_ok")
    if (!Files.exists(marker)) {
      deleteRec(envDir)
      val offline =
        if (sys.env.get("GRAFT_CONDA_ONLINE").contains("1")) Nil
        else Seq("--offline")
      val cmd = Seq(conda, "create", "--yes") ++ offline ++
        Seq("--prefix", envDir.toString) ++ pkgs
      runLogged(new ProcessBuilder(cmd: _*),
        base.resolve(s"conda_$digest.create.log"),
        s"conda create $digest")
      Files.writeString(marker, pkgs.mkString("\n"))
    }
    envDir.resolve("bin").resolve("python").toString
  }

  // cache keys are flavor-namespaced: a pip requirement list that
  // happens to sort to List("conda", ...) must never share an entry
  // with the conda declaration of the same elements
  def pythonFor(requirements: Seq[String]): String =
    if (requirements.isEmpty) "python3"
    else if (requirements.head == "conda")
      envCache.getOrElseUpdate(
        "flavor:conda" :: requirements.tail.sorted.toList,
        condaFor(requirements.tail))
    else envCache.getOrElseUpdate(
      "flavor:venv" :: requirements.sorted.toList, {
      val reqs = requirements.sorted
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(reqs.mkString("\n").getBytes(UTF_8))
        .map("%02x".format(_)).mkString.take(16)
      val base = java.nio.file.Paths.get(
        sys.props.getOrElse("graft.env.cache",
          sys.props("java.io.tmpdir") + "/graft_envs"))
      Files.createDirectories(base)
      val envDir = base.resolve(s"env_$digest")
      val py = envDir.resolve("bin").resolve("python").toString
      val marker = envDir.resolve(".graft_ok")
      if (!Files.exists(marker)) {
        deleteRec(envDir) // half-built leftovers from a failed attempt
        runLogged(
          new ProcessBuilder("python3", "-m", "venv",
            "--system-site-packages", envDir.toString),
          base.resolve(s"env_$digest.venv.log"), s"venv create $digest")
        val allLocal = requirements.forall(r =>
          Files.exists(java.nio.file.Paths.get(r)))
        val pip = envDir.resolve("bin").resolve("pip").toString
        val cmd = Seq(pip, "install", "--no-input") ++
          (if (allLocal) Seq("--no-index") else Nil) ++ requirements
        runLogged(new ProcessBuilder(cmd: _*),
          base.resolve(s"env_$digest.pip.log"), s"pip install $digest")
        Files.writeString(marker, reqs.mkString("\n"))
      }
      py
    })

  /** Parquet-format sources hand their paths over directly — the
    * relations already ARE parquet (the A8/A9 teleport property).
    */
  private def sourcePaths(a: FalApi): Seq[(String, String)] =
    a.registry.listSources
      .filter(s => s.format == "parquet" && s.path.nonEmpty)
      .map(s => s"${s.sourceName}.${s.tableName}" -> s.path)

  private def jobj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ", ", "}")

  private def writeManifest(path: java.nio.file.Path, name: String,
      pyFile: String, outPath: String, inputs: Seq[(String, String)],
      sources: Seq[(String, String)]): Unit = {
    Files.writeString(path,
      s"""{"model_name": ${jstr(name)}, "model_file": ${jstr(pyFile)},""" +
        s""" "output": ${jstr(outPath)}, "inputs": ${jobj(inputs)},""" +
        s""" "sources": ${jobj(sources)}}""")
    ()
  }

  /** Scratch dirs whose output parquet a returned DataFrame still reads,
    * keyed by (api, model): reclaimed by [[releaseScratch]] once the
    * caller has written the result ([[graft.plans.Runner]] does so right
    * after `writeToModel`), by the next call for the same model, or by
    * one JVM-exit hook for whatever a direct caller never released.
    */
  private val scratch = new java.util.concurrent.ConcurrentHashMap[
    (FalApi, String), java.nio.file.Path]

  private lazy val scratchHook: Unit =
    sys.addShutdownHook(scratch.values.forEach(deleteRec(_)))

  private def holdScratch(a: FalApi, name: String,
      tmp: java.nio.file.Path): Unit = {
    scratchHook
    Option(scratch.put((a, name), tmp)).foreach(deleteRec)
  }

  /** Delete the scratch dir of `a`'s last call for model `name`; the
    * DataFrame that call returned is unreadable afterwards. */
  def releaseScratch(a: FalApi, name: String): Unit =
    Option(scratch.remove((a, name))).foreach(deleteRec)

  /** Materialize `deps` refs to parquet, run the Python model in
    * forked child(ren) of the interpreter's [[ForkServer]], and return
    * its result as a DataFrame (the caller writes it back with
    * `writeToModel`, so versioning / bucketing / tests apply
    * identically to Scala and SQL models, then calls [[releaseScratch]]).
    * Non-zero exit or a missing output file → exception → the node
    * FAILs and downstream nodes SKIP, the reference's task semantics.
    *
    * `mode` is the model's declared `python_mode` meta: `global` (the
    * reference's one-process contract) or `partition`
    * ([[runModelPartitioned]]).
    */
  def runModel(a: FalApi, name: String, deps: Seq[String],
      pyFile: String, requirements: Seq[String] = Nil,
      mode: String = "global"): DataFrame = mode match {
    case "global" => runModelGlobal(a, name, deps, pyFile, requirements)
    case "partition" =>
      runModelPartitioned(a, name, deps, pyFile, requirements)
    case other => throw new IllegalArgumentException(
      s"model $name: unknown python_mode '$other' " +
        "(expected 'global' or 'partition')")
  }

  private def runModelGlobal(a: FalApi, name: String, deps: Seq[String],
      pyFile: String, requirements: Seq[String]): DataFrame = {
    require(available,
      "python3 with pandas+pyarrow not found; Python models need it")
    val python = pythonFor(requirements)
    val tmp = Files.createTempDirectory(s"graft_py_$name")
    val inputs = deps.map { d =>
      val p = tmp.resolve(s"in_$d").toString
      a.ref(d).write.mode("overwrite").parquet(p)
      d -> p
    }
    val outPath = tmp.resolve("out.parquet").toString
    val manifest = tmp.resolve("manifest.json")
    writeManifest(manifest, name, pyFile, outPath, inputs, sourcePaths(a))
    val logFile = tmp.resolve("model.log")
    try ForkServer.run(python, manifest, logFile, s"python model $name")
    catch { case t: Throwable => deleteRec(tmp); throw t }
    // Handoff complete: reclaim the input copies now. out.parquet must
    // outlive this call (the returned DataFrame reads it lazily until
    // writeToModel materializes it).
    inputs.foreach { case (_, p) => deleteRec(java.nio.file.Paths.get(p)) }
    Files.deleteIfExists(manifest)
    Files.deleteIfExists(logFile)
    holdScratch(a, name, tmp)
    a.spark.read.parquet(outPath)
  }

  /** Worker fan-out for partition-mode models: declared via sysprop
    * `graft.py.workers` / env `GRAFT_PY_WORKERS`, else min(8, cores).
    */
  private[api] def workerCount: Int =
    sys.props.get("graft.py.workers")
      .orElse(sys.env.get("GRAFT_PY_WORKERS"))
      .map(_.toInt)
      .getOrElse(math.min(8, Runtime.getRuntime.availableProcessors()))

  /** Size cap for partition-mode SECONDARY deps (VERDICT r11 item #6):
    * every dep after the first is broadcast-style — materialized once
    * and read by EVERY worker — so a corpus-sized secondary dep would
    * silently multiply into W in-memory pandas copies at 100× scale.
    * Enforced at the write (bytes on disk), configurable via sysprop
    * `graft.py.sideDepMaxBytes` / env `GRAFT_PY_SIDEDEP_MAX_BYTES`;
    * default 256 MB (a dimension table, not a relation).
    */
  private[api] def sideDepMaxBytes: Long =
    sys.props.get("graft.py.sideDepMaxBytes")
      .orElse(sys.env.get("GRAFT_PY_SIDEDEP_MAX_BYTES"))
      .map(_.toLong)
      .getOrElse(256L << 20)

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    } finally s.close()
  }

  /** Which host set runs partition-mode children: `executor`
    * (default — each worker child spawns inside a Spark task, so the
    * Python stage scales with the cluster) or `driver` (the pre-r13
    * bounded thread pool on the driver host). Sysprop `graft.py.lane`
    * or session conf `graft.py.lane`. */
  private[api] def lane(a: FalApi): String =
    sys.props.getOrElse("graft.py.lane",
      a.spark.conf.get("graft.py.lane", "executor"))

  /** Diagnostics from the most recent executor-lane run: one
    * `(worker, taskPartitionId)` per child, recorded FROM the Spark
    * task that hosted it — the spec's evidence that partition-mode
    * children really execute inside executor tasks (parallelism
    * follows the cluster), not on the driver host. */
  @volatile private[graft] var lastExecutorReport: Seq[(Int, Int)] = Nil

  /** Partition-parallel Python model (VERDICT r10 item #2): the
    * distributed answer to the reference's single-pandas-process
    * contract, for models the user declares per-partition-safe
    * (`python_mode=partition` meta — row-wise transforms, per-record
    * featurization; anything where `model(shard)` over each shard
    * unioned equals `model(whole)`).
    *
    * Dataflow: the FIRST dep is the partitioned input — its
    * already-written part files are round-robined into per-worker
    * split directories with zero copies and zero shuffle (file moves
    * within one temp dir), preserving whatever partitioning the
    * upstream relation carries. Remaining deps are broadcast-style:
    * materialized once, every worker's manifest points at the same
    * read-only path. N children run concurrently, each over the SAME
    * child contract as global mode (same runner, same manifest shape —
    * a model file cannot tell which mode it runs under), and the
    * parent unions the N output parquets. Memory bound per child is
    * one split, not the relation; a crash in any worker fails the node
    * after the stragglers drain, same task semantics as global.
    *
    * EXECUTOR LANE (VERDICT r12 item #2, the default): the W children
    * spawn inside a W-task Spark job (`sc.parallelize(0 until w, w)`),
    * one child per task — on a cluster the scheduler spreads the tasks
    * across executors, so the Python stage's parallelism follows the
    * CLUSTER, not one host's cores, while the child contract, the
    * secondary-dep size cap, and the per-worker schema validation are
    * byte-identical to the driver lane (same manifests, same runner).
    * Requirements for a real cluster: the scratch dir and the
    * interpreter (plus any requirements venv) must be reachable on the
    * executor hosts at the same paths (shared scratch / uniform
    * images — the standard Spark Python posture); a failed child fails
    * its task, and a task RETRY re-runs the child idempotently (the
    * worker's output parquet is overwritten). `graft.py.lane=driver`
    * restores the driver-host thread pool for setups without shared
    * scratch.
    */
  def runModelPartitioned(a: FalApi, name: String, deps: Seq[String],
      pyFile: String, requirements: Seq[String] = Nil): DataFrame = {
    require(available,
      "python3 with pandas+pyarrow not found; Python models need it")
    require(deps.nonEmpty,
      s"model $name: python_mode=partition needs at least one dep " +
        "(the first dep is the partitioned input)")
    val python = pythonFor(requirements)
    val tmp = Files.createTempDirectory(s"graft_py_$name")
    val primary = deps.head
    val primaryDir = tmp.resolve(s"in_$primary")
    a.ref(primary).write.mode("overwrite").parquet(primaryDir.toString)
    val sideInputs = deps.tail.map { d =>
      val p = tmp.resolve(s"in_$d")
      a.ref(d).write.mode("overwrite").parquet(p.toString)
      val bytes = dirBytes(p)
      if (bytes > sideDepMaxBytes) {
        deleteRec(tmp)
        throw new IllegalArgumentException(
          s"model $name: partition-mode secondary dep '$d' is $bytes " +
            s"bytes on disk (cap $sideDepMaxBytes) — secondary deps " +
            "are broadcast-style and read IN FULL by every worker. " +
            s"Make '$d' the FIRST dep if it is the relation to " +
            "partition over, pre-aggregate it to dimension size, or " +
            "raise graft.py.sideDepMaxBytes / GRAFT_PY_SIDEDEP_MAX_BYTES")
      }
      d -> p.toString
    }
    val sources = sourcePaths(a)
    val parts = {
      val s = Files.list(primaryDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally s.close()
    }
    require(parts.nonEmpty,
      s"model $name: partitioned input '$primary' wrote no parquet parts")
    // parallelism follows the input's file-level partitioning: W =
    // min(workers, part files); a single-file input degrades to one
    // worker (repartition the upstream model to raise it)
    val w = math.max(1, math.min(workerCount, parts.size))
    val splits = (0 until w).map { i =>
      Files.createDirectories(tmp.resolve(s"split_$i"))
    }
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.move(f, splits(i % w).resolve(f.getFileName)); ()
    }
    val outPaths = (0 until w).map(i => tmp.resolve(s"out_$i.parquet"))
    (0 until w).foreach { i =>
      writeManifest(tmp.resolve(s"manifest_$i.json"), name, pyFile,
        outPaths(i).toString,
        (primary -> splits(i).toString) +: sideInputs, sources)
    }
    if (lane(a) == "executor") {
      // one Spark task per worker child — executors host the Python
      // stage (closure captures STRINGS only; Path is not serializable).
      // A failing CHILD returns its error instead of failing the task:
      // the job always drains every worker (the driver lane's
      // fail-only-after-every-worker-exits invariant — a thrown task
      // would abort the job and delete the shared scratch under
      // still-running sibling interpreters), and a deterministic model
      // bug runs ONCE instead of spark.task.maxFailures timeout-kill
      // cycles. Speculative execution would race duplicate children on
      // one output path — the stage assumes spark.speculation=false
      // (the default), as any external-side-effect task does.
      val jobs = (0 until w).map { i =>
        (i, tmp.resolve(s"manifest_$i.json").toString,
          tmp.resolve(s"model_$i.log").toString)
      }
      val (py, nm) = (python, name)
      val report =
        try a.spark.sparkContext.parallelize(jobs, w)
          .map { case (i, manifest, log) =>
            val err =
              try {
                ForkServer.run(py, java.nio.file.Paths.get(manifest),
                  java.nio.file.Paths.get(log),
                  s"python model $nm [executor worker $i/$w]")
                None
              } catch { case t: Throwable => Some(t.getMessage) }
            (i, Option(org.apache.spark.TaskContext.get())
              .map(_.partitionId()).getOrElse(-1), err)
          }.collect().toSeq
        catch { case t: Throwable => deleteRec(tmp); throw t }
      val failures = report.flatMap(_._3)
      if (failures.nonEmpty) {
        deleteRec(tmp)
        throw new RuntimeException(failures.head)
      }
      lastExecutorReport = report.map(r => (r._1, r._2))
    } else {
      // driver lane: bounded child pool on this host; failures collect
      // and the node FAILs after every worker has exited (no orphaned
      // interpreters)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(w)
      val futures = (0 until w).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] =
            try {
              ForkServer.run(python, tmp.resolve(s"manifest_$i.json"),
                tmp.resolve(s"model_$i.log"),
                s"python model $name [worker $i/$w]")
              None
            } catch { case t: Throwable => Some(t) }
        })
      }
      pool.shutdown()
      val failures = futures.flatMap(_.get())
      if (failures.nonEmpty) { deleteRec(tmp); throw failures.head }
    }
    // reclaim the split + side-input copies; the out_*.parquet files
    // must outlive this call (lazy read until writeToModel)
    splits.foreach(deleteRec)
    sideInputs.foreach { case (_, p) =>
      deleteRec(java.nio.file.Paths.get(p))
    }
    deleteRec(primaryDir)
    holdScratch(a, name, tmp)
    // Per-worker schema drift (ADVICE r11): a split whose pandas frame
    // infers an atypical dtype (the classic case: an all-null column
    // becoming float64/object) yields per-file schemas that a naive
    // multi-path read either fails on LATE or silently widens — unlike
    // global mode's single file. Validate every worker's output
    // against worker 0 up front and fail naming the worker, then read
    // through the agreed schema.
    val schemas = outPaths.map(p =>
      a.spark.read.parquet(p.toString).schema)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq.sortBy(_._1)
    val ref = shape(schemas.head)
    schemas.zipWithIndex.drop(1).foreach { case (s, i) =>
      if (shape(s) != ref)
        throw new IllegalStateException(
          s"model $name: worker $i produced schema ${s.simpleString} " +
            s"but worker 0 produced ${schemas.head.simpleString} — " +
            "per-split dtype drift (often an all-null column pandas " +
            "types differently); cast the column explicitly in the " +
            "model so every split agrees")
    }
    a.spark.read.schema(schemas.head)
      .parquet(outPaths.map(_.toString): _*)
  }
}

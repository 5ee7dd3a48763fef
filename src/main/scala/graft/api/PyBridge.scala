package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** D1 for real: run a reference-style Python model — a `.py` file
  * defining `def model(dbt, fal)` over pandas DataFrames — as a DAG
  * node, in its own interpreter process.
  *
  * This is the reference's teleport execution shape
  * (`/root/reference/projects/adapter/src/dbt/adapters/fal_experimental/
  * teleport.py:43-56` + `utils/environments.py`): instead of sharing a
  * connection, the parent hands every `ref()` input over as parquet
  * files — a plain model's own part files in place, since the relation
  * already is parquet (A8/A9), and a copy only for a model whose files
  * alone do not read as its relation ([[inputFiles]]) — the child reads
  * them with pandas, runs the user function, writes its result parquet,
  * and the parent loads that back through the normal
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
  * (`python_mode=partition`) for the per-row/per-partition majority:
  * the primary input's part files fan out to N worker interpreters,
  * one per Spark task — the `mapInPandas` execution shape expressed
  * over the same parquet-handoff child contract — so the model's
  * memory bound is one PARTITION, not the relation, and wall-clock
  * divides by the worker count. Both modes are one handoff
  * ([[runModel]]): global is the single-worker case.
  *
  * Process lifecycle: no call starts an interpreter of its own. Each
  * interpreter path ([[pythonFor]]: `python3`, or a cached venv/conda
  * env) gets one [[ForkServer]] per JVM, started on first use, which
  * imports pandas + pyarrow once and forks one child per model call
  * (global) or per worker (partition — a task uses the server of the
  * JVM it runs in). A child is the same
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
    * rebuilt on next touch. No requirements means `python3`; a
    * `conda`-headed list goes to [[condaFor]]. Cache keys are
    * flavor-namespaced: a pip requirement list that happens to sort to
    * `List("conda", ...)` must never share an entry with the conda
    * declaration of the same elements.
    */
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
    kv.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}")

  /** The child's manifest: `inputs` maps each dep to the list of
    * parquet files `pd.read_parquet` reads as its relation. */
  private def writeManifest(path: java.nio.file.Path, name: String,
      pyFile: String, outPath: String, inputs: Seq[(String, Seq[String])],
      sources: Seq[(String, String)]): Unit = {
    val ins = inputs.map { case (d, files) =>
      s"${Json.str(d)}: ${files.map(Json.str).mkString("[", ", ", "]")}"
    }.mkString("{", ", ", "}")
    Files.writeString(path,
      s"""{"model_name": ${Json.str(name)}, "model_file": ${Json.str(pyFile)},""" +
        s""" "output": ${Json.str(outPath)}, "inputs": $ins,""" +
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

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Diagnostics from the most recent partition-mode run: one
    * `(worker, taskPartitionId)` per child, recorded FROM the Spark
    * task that hosted it — the spec's evidence that partition-mode
    * children really execute inside Spark tasks (parallelism follows
    * the cluster), not on the driver host. */
  @volatile private[graft] var lastExecutorReport: Seq[(Int, Int)] = Nil

  /** Hand `deps` over as parquet ([[inputFiles]]), run the Python model in
    * forked child(ren) of the interpreter's [[ForkServer]], and return
    * its result as a DataFrame (the caller writes it back with
    * `writeToModel`, so versioning / bucketing / tests apply
    * identically to Scala and SQL models, then calls [[releaseScratch]]).
    * Non-zero exit or a missing output file → exception → the node
    * FAILs and downstream nodes SKIP, the reference's task semantics.
    *
    * `mode` is the model's declared `python_mode` meta, and both modes
    * are this one handoff: every dep becomes one list of parquet files,
    * each worker gets a manifest over its inputs and writes `out_<i>`, and
    * the parent reads the outputs back through one agreed schema. A
    * model file cannot tell which mode it runs under.
    *  - `global` (the reference's one-process contract): a single
    *    worker reads every input; its child runs on the calling thread.
    *  - `partition` (VERDICT r10 item #2): for models the user declares
    *    per-partition-safe — row-wise transforms, per-record
    *    featurization; anything where `model(shard)` over each shard
    *    unioned equals `model(whole)`. The FIRST dep's part files are
    *    round-robined into W file lists ([[splitInputs]]) and the W
    *    children run one per Spark task ([[runInTasks]]).
    *
    * Any failure — a missing dep, a failed child, schema drift —
    * deletes the call's scratch dir before it propagates.
    */
  def runModel(a: FalApi, name: String, deps: Seq[String],
      pyFile: String, requirements: Seq[String] = Nil,
      mode: String = "global"): DataFrame = {
    val partition = mode match {
      case "global" => false
      case "partition" => true
      case other => throw new IllegalArgumentException(
        s"model $name: unknown python_mode '$other' " +
          "(expected 'global' or 'partition')")
    }
    require(available,
      "python3 with pandas+pyarrow not found; Python models need it")
    require(!partition || deps.nonEmpty,
      s"model $name: python_mode=partition needs at least one dep " +
        "(the first dep is the partitioned input)")
    val python = pythonFor(requirements)
    val tmp = Files.createTempDirectory(s"graft_py_$name")
    try {
      val inputs = deps.map(d => d -> inputFiles(a, d, tmp))
      val perWorker =
        if (partition) splitInputs(name, inputs) else Seq(inputs)
      val sources = sourcePaths(a)
      val outPaths = perWorker.indices.map(i =>
        tmp.resolve(s"out_$i.parquet").toString)
      val jobs = perWorker.zip(outPaths).zipWithIndex.map {
        case ((ins, out), i) =>
          val manifest = tmp.resolve(s"manifest_$i.json")
          writeManifest(manifest, name, pyFile, out, ins, sources)
          (i, manifest.toString, tmp.resolve(s"model_$i.log").toString)
      }
      if (partition) runInTasks(a, python, name, jobs)
      else ForkServer.run(python, Paths.get(jobs.head._2),
        Paths.get(jobs.head._3), s"python model $name")
      // Handoff complete: reclaim the input copies, manifests and
      // logs now. The outputs must outlive this call (the returned
      // DataFrame reads them lazily until writeToModel materializes it).
      listDir(tmp).filterNot(_.getFileName.toString.startsWith("out_"))
        .foreach(deleteRec)
      // Per-worker schema drift (ADVICE r11): a split whose pandas
      // frame infers an atypical dtype (the classic case: an all-null
      // column becoming float64/object) yields per-file schemas that a
      // naive multi-path read either fails on LATE or silently widens.
      // Validate every worker's output against worker 0 up front and
      // fail naming the worker, then read through the agreed schema.
      val schemas = outPaths.map(footerSchema(a.spark, _))
      def shape(s: StructType) =
        s.fields.map(f => (f.name, f.dataType)).toSeq.sortBy(_._1)
      schemas.zipWithIndex.drop(1).foreach { case (s, i) =>
        if (shape(s) != shape(schemas.head))
          throw new IllegalStateException(
            s"model $name: worker $i produced schema ${s.simpleString} " +
              s"but worker 0 produced ${schemas.head.simpleString} — " +
              "per-split dtype drift (often an all-null column pandas " +
              "types differently); cast the column explicitly in the " +
              "model so every split agrees")
      }
      val df = a.spark.read.schema(schemas.head).parquet(outPaths: _*)
      holdScratch(a, name, tmp)
      df
    } catch { case t: Throwable => deleteRec(tmp); throw t }
  }

  /** The Spark schema of one parquet file, read from its footer on the
    * driver (no Spark job) and converted with the session's parquet
    * settings. A child's output is one file pandas wrote through
    * pyarrow: it carries no Spark schema of its own and every column is
    * optional, so the conversion is the whole of what a parquet read
    * infers.
    */
  private[graft] def footerSchema(spark: org.apache.spark.sql.SparkSession,
      file: String): StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file),
      spark.sessionState.newHadoopConf())
    val parquet = scala.util.Using.resource(ParquetFileReader.open(in))(
      _.getFooter.getFileMetaData.getSchema)
    new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(parquet)
  }

  /** A dep's relation as the parquet files the child reads, with the
    * dep's live version resolved as [[FalApi.ref]] resolves it (the
    * deferred state included). One plain version dir — no
    * `_prev_version` chain link, no subdirectories (`partition_by`'s
    * hive dirs), on the local filesystem — hands over its own part
    * files in place: no Spark job, no copy, nothing moved or written
    * inside it. Any other dep is copied through `ref()` into `tmp`
    * once: a chain's files alone miss its older links and its merged
    * schema, a partitioned model's files miss the partition column, and
    * the child cannot open a remote scheme's path. A dep with no part
    * file is copied too, so the child always gets a non-empty list that
    * carries the schema.
    */
  private def inputFiles(a: FalApi, dep: String, tmp: Path): Seq[String] = {
    def parts(entries: Seq[Path]): Seq[Path] = entries.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)
    val live = new org.apache.hadoop.fs.Path(a.livePath(dep)).toUri
    val own =
      if (Option(live.getScheme).exists(_ != "file")) Nil
      else {
        val entries = listDir(Paths.get(live.getPath))
        if (entries.exists(e => Files.isDirectory(e) ||
            e.getFileName.toString == "_prev_version")) Nil
        else parts(entries)
      }
    val files = if (own.nonEmpty) own else {
      val copy = tmp.resolve(s"in_$dep")
      a.ref(dep).write.mode("overwrite").parquet(copy.toString)
      parts(listDir(copy))
    }
    require(files.nonEmpty, s"dep '$dep' has no parquet part file")
    files.map(_.toString)
  }

  /** Partition mode's inputs per worker. The first dep is the
    * partitioned input: its part files are round-robined into W
    * per-worker file lists — no copy, no shuffle, and no file moved —
    * preserving whatever partitioning the upstream relation carries.
    * W = min(workers, part files); a single-file input degrades to one
    * worker (repartition the upstream model to raise it). Every other
    * dep is broadcast-style: each worker's manifest lists the same
    * read-only files, under the [[sideDepMaxBytes]] cap.
    */
  private def splitInputs(name: String, inputs: Seq[(String, Seq[String])])
      : Seq[Seq[(String, Seq[String])]] = {
    val (primary, parts) = inputs.head
    val side = inputs.tail.map { case (d, files) =>
      val bytes = files.map(f => Files.size(Paths.get(f))).sum
      if (bytes > sideDepMaxBytes)
        throw new IllegalArgumentException(
          s"model $name: partition-mode secondary dep '$d' is $bytes " +
            s"bytes on disk (cap $sideDepMaxBytes) — secondary deps " +
            "are broadcast-style and read IN FULL by every worker. " +
            s"Make '$d' the FIRST dep if it is the relation to " +
            "partition over, pre-aggregate it to dimension size, or " +
            "raise graft.py.sideDepMaxBytes / GRAFT_PY_SIDEDEP_MAX_BYTES")
      d -> files
    }
    val w = math.max(1, math.min(workerCount, parts.size))
    (0 until w).map(i =>
      (primary -> parts.zipWithIndex.collect { case (f, j) if j % w == i => f })
        +: side)
  }

  /** Partition mode's W children, one per task of a W-task Spark job
    * (`sc.parallelize(jobs, w)`): on a cluster the scheduler spreads
    * the tasks across executors, so the Python stage's parallelism
    * follows the CLUSTER, not one host's cores. The closure captures
    * strings only (`Path` is not serializable).
    *
    * A failing CHILD returns its error instead of failing the task:
    * the job always drains every worker (a thrown task would abort the
    * job and the caller would delete the shared scratch under
    * still-running sibling interpreters), and a deterministic model bug
    * runs ONCE instead of spark.task.maxFailures timeout-kill cycles.
    * Speculative execution would race duplicate children on one output
    * path — the stage assumes spark.speculation=false (the default), as
    * any external-side-effect task does.
    *
    * Requirements for a real cluster: the scratch dir and the
    * interpreter (plus any requirements venv) must be reachable on the
    * executor hosts at the same paths (shared scratch / uniform images —
    * the standard Spark Python posture); a task RETRY re-runs the child
    * idempotently (the worker's output parquet is overwritten).
    */
  private def runInTasks(a: FalApi, python: String, name: String,
      jobs: Seq[(Int, String, String)]): Unit = {
    val w = jobs.size
    val report = a.spark.sparkContext.parallelize(jobs, w)
      .map { case (i, manifest, log) =>
        val err =
          try {
            ForkServer.run(python, Paths.get(manifest), Paths.get(log),
              s"python model $name [worker $i/$w]")
            None
          } catch { case t: Throwable => Some(t.getMessage) }
        (i, Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1),
          err)
      }.collect().toSeq
    report.flatMap(_._3).headOption.foreach(e =>
      throw new RuntimeException(e))
    lastExecutorReport = report.map(r => (r._1, r._2))
  }
}

package graft

import graft.api.{FalApi, Project, Registry, RunLedger}
import graft.plans.{NodeGraph, Runner}

/** The `fal flow run` / `fal run` CLI analogue (ref: `cli()`,
  * `/root/reference/projects/adapter/src/fal/dbt/cli/cli.py:14`, routing
  * to `fal_flow_run` (`flow_runner.py:49`) or `fal_run`
  * (`fal_runner.py:34`)):
  *
  * {{{
  *   sbt "runMain graft.Cli <projectDir> [--select|-s|--models|-m S]...
  *        [--exclude X]... [--selector NAME] [--threads N]
  *        [--storage DIR] [--target NAME] [--chunk]
  *        [--vars k=v[,k=v]...] [--full-refresh] [--defer --state DIR]
  *        [--run-scripts before|after] [--globals] [--all]
  *        [--scripts f1.sql[,f2.sql]...]"
  * }}}
  *
  * Default mode runs the project's model DAG, prints per-node statuses,
  * writes `run_results.json` under the storage root, exits non-zero on
  * any failure (ref `executor.py:177-178`). `--run-scripts` is the
  * standalone `fal run` analogue: no model rebuilds; scripts/hooks
  * execute over the PREVIOUS run's ledger statuses. `--defer --state
  * DIR` resolves refs of unbuilt models from a prior run's storage
  * root (ref `args.py:70-73`, `test_cli.py:132-147`).
  *
  * Scripts are SQL files under `<project>/scripts/`, attached via model
  * meta `scripts_before=a.sql,…` / `scripts_after=…` — the Spark-native
  * stand-in for the reference's attached Python scripts (B8/B10
  * by-design collapse: SQL runs in-process on the session).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Cli <projectDir> [flags]")
    val projectDir = args.head
    var select = Vector.empty[String]
    var exclude = Vector.empty[String]
    var threadsFlag: Option[Int] = None
    var storageFlag: Option[String] = None
    var target: Option[String] = None
    var chunk = false
    var vars = Map.empty[String, String]
    var fullRefresh = false
    var deferToState = false
    var stateDir: Option[String] = None
    var runScriptsTiming: Option[String] = None
    var runGlobals = false
    var allModels = false
    var scriptsOnly = Vector.empty[String]
    var selectorName: Option[String] = None
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--defer" => deferToState = true; i += 1
        case "--state" => stateDir = Some(args(i + 1)); i += 2
        case "--run-scripts" =>
          val t = args(i + 1)
          require(t == "before" || t == "after",
            s"--run-scripts expects before|after, got: $t")
          runScriptsTiming = Some(t); i += 2
        // the reference's `fal run --before` spelling (args.py:160-165)
        case "--before" => runScriptsTiming = Some("before"); i += 1
        case "--globals" => runGlobals = true; i += 1
        // -s/--select/-m/--models are interchangeable in the reference
        // (`_build_dbt_selectors`, args.py:122-134 — both dest=select)
        // and take nargs="+" (args.py:123-141): greedily consume every
        // following token up to the next -flag, so the reference-style
        // `-s model_a model_b` spelling parses as two selectors
        case "--select" | "-s" | "--models" | "-m" =>
          val vals = args.drop(i + 1).takeWhile(!_.startsWith("-"))
          require(vals.nonEmpty, s"${args(i)} expects at least one value")
          select ++= vals; i += 1 + vals.length
        // named selector from <project>/selectors.conf (the
        // selectors.yml analogue; ref args.py:134-137)
        case "--selector" => selectorName = Some(args(i + 1)); i += 2
        case "--exclude" => // nargs="+" like --select (args.py:129-133)
          val vals = args.drop(i + 1).takeWhile(!_.startsWith("-"))
          require(vals.nonEmpty, "--exclude expects at least one value")
          exclude ++= vals; i += 1 + vals.length
        case "--all" => allModels = true; i += 1
        case "--scripts" => // comma-separated (ref args.py --scripts)
          scriptsOnly ++= args(i + 1).split(",").map(_.trim)
            .filter(_.nonEmpty)
          i += 2
        case "--threads" => threadsFlag = Some(args(i + 1).toInt); i += 2
        case "--storage" => storageFlag = Some(args(i + 1)); i += 2
        // named execution target from project.meta's targets block
        // (ref args.py:85-93 + load_db_profile.py:40-81)
        case "--target" => target = Some(args(i + 1)); i += 2
        case "--chunk" => chunk = true; i += 1
        case "--vars" => // k=v[,k=v]... (repeatable; ref args.py --vars)
          vars ++= args(i + 1).split(",").iterator.filter(_.nonEmpty)
            .map { kv =>
              kv.split("=", 2) match {
                case Array(k, v) => k.trim -> v.trim
                case _ => throw new IllegalArgumentException(
                  s"--vars expects k=v pairs, got: $kv")
              }
            }
          i += 2
        case "--full-refresh" => fullRefresh = true; i += 1
        case other => throw new IllegalArgumentException(
          s"unknown flag: $other")
      }
    }

    val resolved = resolveTarget(projectDir, target, storageFlag,
      threadsFlag)
    val storage = resolved.storage
    val threads = resolved.threads

    val spark = GraftConf.session()
    // target-declared session confs (shuffle partitions, AQE knobs…),
    // applied after the tuned defaults so the target's settings win —
    // runtime confs only; a static conf here fails loudly, like a bad
    // profile would in the reference
    resolved.sparkConf.foreach { case (k, v) => spark.conf.set(k, v) }

    val registry = Project.load(projectDir, storage)
    if (deferToState) require(stateDir.isDefined,
      "--defer requires --state DIR (ref args.py:70-83)")
    // --all/--scripts exist only on the `fal run` subcommand in the
    // reference (args.py:151-166) — rejecting them here matches its
    // argparse error instead of silently running a full flow
    require(runScriptsTiming.isDefined || (!allModels && scriptsOnly.isEmpty),
      "--all/--scripts require --run-scripts before|after " +
        "(`fal run`-only flags, ref args.py:151-166)")
    // --selector NAME expands to its expression list from
    // <project>/selectors.conf before the selection algebra runs
    selectorName.foreach { n =>
      val defs = Project.loadSelectors(projectDir)
      select ++= defs.getOrElse(n, throw new IllegalArgumentException(
        s"unknown selector '$n' — defined: ${defs.keys.toSeq.sorted
          .mkString(", ")}"))
    }
    val api = new FalApi(spark, registry, new RunLedger,
      defer = if (deferToState) stateDir.map(new Registry(_)) else None)
    val tags = registry.listModels.map(m => m.name -> m.tags).toMap
    val (scripts, scriptFns) = scriptConfig(registry, projectDir)
    val (gBefore, gAfter, gFns) = globalScriptConfig(projectDir)

    // B12 analogue: model meta `pool=<name>` → FAIR scheduler pool for
    // that model's jobs (the per-step resource-isolation knob)
    val pools = registry.listModels
      .flatMap(m => m.meta.get("pool").map(m.name -> _)).toMap

    val config = Runner.RunConfig(
      select = select, exclude = exclude, threads = threads,
      enableChunking = chunk, scripts = scripts,
      scriptFns = scriptFns ++ gFns,
      pools = pools, tags = tags, vars = vars, fullRefresh = fullRefresh,
      globalScriptsBefore = gBefore, globalScriptsAfter = gAfter,
      runGlobals = runGlobals, allModels = allModels,
      scriptsOnly = scriptsOnly)
    val status = runScriptsTiming match {
      case Some(timing) =>
        // standalone `fal run`: scripts over the prior run's statuses
        Runner.runScripts(api, config, before = timing == "before",
          priorStatuses = RunLedger.loadStatuses(
            s"$storage/run_results.json"))
      case None => Runner.run(api, config)
    }

    api.listModelIds.toSeq.sortBy(_._1).foreach { case (name, st) =>
      println(f"$name%-30s $st")
    }
    // `fal run` (--run-scripts) only READS run_results.json — rewriting
    // it here with script-only records would make a second consecutive
    // `fal run` observe Pending instead of the last model run's
    // statuses. Script timings get their own artifact instead.
    if (runScriptsTiming.isDefined)
      api.ledger.writeJson(s"$storage/script_results.json")
    else api.ledger.writeJson(s"$storage/run_results.json")
    println(s"RUN_STATUS=$status")
    spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** The effective run placement after `--target` resolution. */
  final case class TargetConfig(storage: String, threads: Int,
      sparkConf: Map[String, String], name: Option[String])

  /** Resolve `--target` against the project's targets block (ref:
    * `load_db_profile.py:40-81` picks the named output, erroring on an
    * unknown name; `args.py:85-93`). Explicit CLI flags WIN over the
    * chosen target's values (dbt's flag-over-profile precedence);
    * absent both, the defaults are the historical CLI defaults. With
    * no `--target` the project's `target.default` applies, and a
    * project with no targets block behaves exactly as before.
    */
  def resolveTarget(projectDir: String, targetFlag: Option[String],
      storageFlag: Option[String], threadsFlag: Option[Int])
      : TargetConfig = {
    val targets = Project.loadTargets(projectDir)
    val chosen = targetFlag.orElse(Project.defaultTarget(projectDir))
    val conf: Map[String, String] = chosen match {
      case Some(n) => targets.getOrElse(n,
        throw new IllegalArgumentException(
          s"unknown target '$n' — defined: " +
            (if (targets.isEmpty) "(no targets block in project.meta)"
             else targets.keys.toSeq.sorted.mkString(", "))))
      case None => Map.empty
    }
    // a typoed key (target.prod.thread=16) must fail loudly like an
    // unknown target name does, not silently fall back to defaults
    val unknown = conf.keys.filterNot(k =>
      k == "storage" || k == "threads" || k.startsWith("spark."))
    require(unknown.isEmpty,
      s"target '${chosen.getOrElse("")}' has unrecognized key(s): " +
        s"${unknown.toSeq.sorted.mkString(", ")} " +
        "(expected storage, threads, or spark.<conf>)")
    TargetConfig(
      storage = storageFlag.orElse(conf.get("storage"))
        .getOrElse(sys.props("java.io.tmpdir") + "/graft-cli"),
      threads = threadsFlag
        .orElse(conf.get("threads").map(_.toInt)).getOrElse(4),
      sparkConf = conf.collect {
        case (k, v) if k.startsWith("spark.") => k -> v
      },
      name = chosen)
  }

  /** Script attachments + executable fns from model meta
    * (`scripts_before` / `scripts_after` name SQL files under
    * `<project>/scripts/`). Factored out of `main` so project-level
    * tests can drive the same wiring without a CLI process.
    */
  def scriptConfig(registry: graft.api.Registry, projectDir: String)
      : (Seq[NodeGraph.ScriptAttachment],
         Map[String, (FalApi, Map[String, String]) => Unit]) = {
    val scripts = registry.listModels.flatMap { m =>
      def files(key: String): Seq[String] = m.meta.get(key).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      files("scripts_before").map(f =>
        NodeGraph.ScriptAttachment(m.name, f, before = true)) ++
        files("scripts_after").map(f =>
          NodeGraph.ScriptAttachment(m.name, f, before = false))
    }
    val fns = scripts.map { s =>
      val id = if (s.before) NodeGraph.beforeScriptId(s.model, s.file)
        else NodeGraph.afterScriptId(s.model, s.file)
      id -> scriptRunner(projectDir, s.file)
    }.toMap
    (scripts, fns)
  }

  /** Project-level GLOBAL scripts from `<project>/project.meta`
    * (`scripts_before` / `scripts_after` — the reference's project
    * `fal: scripts:` block): the file lists plus their executable fns
    * keyed `script.GLOBAL.BEFORE/AFTER.<file>`.
    */
  def globalScriptConfig(projectDir: String)
      : (Seq[String], Seq[String],
         Map[String, (FalApi, Map[String, String]) => Unit]) = {
    val meta = graft.api.Project.projectMeta(projectDir)
    def files(key: String): Seq[String] = meta.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val (before, after) = (files("scripts_before"), files("scripts_after"))
    val fns = (before.map(f => s"script.GLOBAL.BEFORE.$f" ->
        scriptRunner(projectDir, f)) ++
      after.map(f => s"script.GLOBAL.AFTER.$f" ->
        scriptRunner(projectDir, f))).toMap
    (before, after, fns)
  }

  /** Execute one script file: .sql = one statement; .ipynb = its code
    * cells in order, magic lines stripped (graft.api.Notebook, the
    * reference's _process_ipynb port). Files resolve against the
    * project's scripts dir — `<project>/scripts` unless relocated by
    * the `fal-scripts-path` project.meta key (ref parse.py:143-152).
    */
  private def scriptRunner(projectDir: String, file: String)
      : (FalApi, Map[String, String]) => Unit =
    (a, _) => {
      graft.api.Notebook.statementsFromFile(
        graft.api.Project.scriptsDir(projectDir).resolve(file))
        .foreach(sql => a.executeSql(sql).count())
      ()
    }
}

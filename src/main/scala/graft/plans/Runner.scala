package graft.plans

import graft.api.{FalApi, ModelKind, Status}

/** The `fal flow run` lifecycle (SURVEY.md §3.1), Spark-native: registry
  * definitions → DAG (B1) → selection (B2) → filter + script rewiring
  * (B3) → optional SQL chunking (B4) → schedule (B5/B6) → parallel
  * execute (B7). The reference disables chunking for flow runs
  * (`flow_runner.py:42-44`); we expose it as a flag with the same
  * default.
  */
object Runner {

  final case class RunConfig(
      select: Seq[String] = Nil,
      exclude: Seq[String] = Nil,
      threads: Int = 4,
      enableChunking: Boolean = false,
      scripts: Seq[NodeGraph.ScriptAttachment] = Nil,
      scriptFns: Map[String, (FalApi, Map[String, String]) => Unit] =
        Map.empty,
      preHooks: Map[String, Seq[String]] = Map.empty,
      postHooks: Map[String, Seq[String]] = Map.empty,
      hookFns: Map[String, (FalApi, Map[String, String]) => Unit] =
        Map.empty,
      tags: Map[String, Set[String]] = Map.empty,
      /** B12 analogue — per-model FAIR scheduler pool (the reference
        * ran steps in isolated envs with machine sizes; on Spark the
        * resource-isolation knob is the scheduler pool the step's jobs
        * submit into, `spark.scheduler.pool`).
        */
      pools: Map[String, String] = Map.empty,
      /** `--vars` (ref `args.py` / `test_cli.py --vars`): values for
        * `{{ var('name'[, 'default']) }}` placeholders in SQL models.
        */
      vars: Map[String, String] = Map.empty,
      /** `--full-refresh` (ref `args.py:94-100`, forwarded to dbt at
        * `dbt_runner.py:73-74`): rebuild incremental models from
        * scratch instead of applying their incremental strategy.
        */
      fullRefresh: Boolean = false,
      /** Project-level GLOBAL scripts (ref `_global_script_paths`,
        * `project.py:549`; run by `fal run` at `fal_runner.py:47-62`):
        * script files not attached to any model, keyed in `scriptFns`
        * as `script.GLOBAL.BEFORE/AFTER.<file>`.
        */
      globalScriptsBefore: Seq[String] = Nil,
      globalScriptsAfter: Seq[String] = Nil,
      /** `--globals` (ref `args.py` / `_handle_global_scripts`): run
        * global scripts even when a selector narrows the run —
        * without it, globals run only on unselected runs.
        */
      runGlobals: Boolean = false,
      /** `--all` (ref `args.py` "Run scripts for all models" /
        * `fal_runner._get_filtered_models`): standalone `fal run` over
        * EVERY model instead of the default "models that ran in the
        * last dbt run"; mutually exclusive with selection flags.
        */
      allModels: Boolean = false,
      /** `--scripts f1 f2 …` (ref `args.py` "overrides schema.yml" /
        * `fal_runner._select_scripts`): restrict the standalone run to
        * the named script files (model-attached and global alike).
        */
      scriptsOnly: Seq[String] = Nil)

  private val varPat =
    raw"\{\{\s*var\(\s*'([^']+)'\s*(?:,\s*'([^']*)'\s*)?\)\s*\}\}".r
  private val incrBlockPat =
    raw"(?s)\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)\{%\s*endif\s*%\}".r
  private val thisPat = raw"\{\{\s*this\s*\}\}".r

  /** The dbt incremental-model jinja surface (ref: `is_incremental()` /
    * `{{ this }}` in model SQL — the pattern every dbt incremental
    * model uses to read only new rows): `{% if is_incremental() %}…{%
    * endif %}` blocks are kept on incremental applications and stripped
    * on first runs / `--full-refresh`; `{{ this }}` resolves to a view
    * over the model's own current relation.
    */
  private[plans] def renderIncremental(sql: String, isIncremental: Boolean,
      name: String, a: FalApi): String = {
    val afterBlocks = incrBlockPat.replaceAllIn(sql, m =>
      if (isIncremental)
        scala.util.matching.Regex.quoteReplacement(m.group(1))
      else "")
    if (thisPat.findFirstIn(afterBlocks).isEmpty) afterBlocks
    else {
      if (!a.registry.relationExists(name))
        throw new IllegalStateException(
          s"{{ this }} referenced but model $name is not materialized " +
            "(guard it with {% if is_incremental() %})")
      val view = s"__graft_this_$name"
      a.ref(name).createOrReplaceTempView(view)
      thisPat.replaceAllIn(afterBlocks, view)
    }
  }

  /** Substitute `{{ var('k') }}` / `{{ var('k', 'default') }}` in a SQL
    * model's text — the rebuild of dbt's vars jinja context, as a
    * template pass like ref substitution (SURVEY.md §4: no custom Rule).
    */
  private[plans] def substituteVars(sql: String,
      vars: Map[String, String]): String =
    varPat.replaceAllIn(sql, m => {
      val value = vars.get(m.group(1)).orElse(Option(m.group(2)))
        .getOrElse(throw new IllegalArgumentException(
          s"undefined var with no default: ${m.group(1)}"))
      scala.util.matching.Regex.quoteReplacement(value)
    })

  def modelTask(api: FalApi, name: String,
      pool: Option[String] = None,
      vars: Map[String, String] = Map.empty,
      fullRefresh: Boolean = false): ModelTask = {
    val m = api.registry.model(name)
    ModelTask(NodeGraph.modelId(name), a => {
      pool.foreach(p =>
        a.spark.sparkContext.setLocalProperty("spark.scheduler.pool", p))
      try runModel(a, m, name, vars, fullRefresh)
      finally pool.foreach(_ =>
        a.spark.sparkContext.setLocalProperty("spark.scheduler.pool", null))
    })
  }

  private def runModel(a: FalApi, m: graft.api.ModelDef,
      name: String, vars: Map[String, String],
      fullRefresh: Boolean): Unit = {
    // a Python model's result is read lazily from its scratch dir until
    // the write below materializes it; reclaim the dir when the node ends
    try {
      val isIncremental = m.incremental && !fullRefresh &&
        a.registry.relationExists(name)
      val out = m.kind match {
        case ModelKind.Sql(sql) => a.executeSql(renderIncremental(
          substituteVars(sql, vars), isIncremental, name, a))
        case ModelKind.Scala(fn) => fn(a.spark, a)
        // D1's flagship: the user's actual Python file, run isolated in
        // forked interpreter child(ren) with parquet handoff (PyBridge); the
        // result re-enters the exact same write/test path as Scala/SQL.
        // `python_mode=partition` meta fans the primary input out to a
        // worker pool instead of the reference's one-process contract.
        case ModelKind.Python(py, env) =>
          graft.api.PyBridge.runModel(a, name, m.deps, py, env,
            mode = m.meta.getOrElse("python_mode", "global"))
        // seeds re-load their CSV each run (dbt semantics: `dbt seed`
        // refreshes from the checked-in file); header + inferSchema
        // give typed columns, as dbt's agate-based type inference does
        case ModelKind.Seed(csv) => a.spark.read
          .option("header", "true").option("inferSchema", "true").csv(csv)
      }
      // C20 — strategy from meta (ref: strategy list
      // `A/dbt/fal/adapters/python/impl.py:256-291`); full refresh when
      // the relation doesn't exist yet or --full-refresh forces it
      if (isIncremental) {
        m.meta.getOrElse("incremental_strategy", "append") match {
          case "append" => a.writeToModel(out, name, "append")
          case "merge" => a.writeToModelMerge(out, name,
            m.meta("unique_key").split(",").toSeq.map(_.trim))
          case "insert_overwrite" =>
            a.writeToModelInsertOverwrite(out, name, m.meta("partition_by"))
          case other => throw new IllegalArgumentException(
            s"unknown incremental_strategy: $other")
        }
      } else if (m.meta.get("materialized").contains("snapshot")) {
        // C23 — snapshot materialization: every run is an SCD2 refresh
        // keyed by unique_key, comparing check_cols (dbt check strategy);
        // snapshot_at meta pins the refresh timestamp for reproducible
        // runs (defaults to wall clock, as dbt does)
        a.writeToModelSnapshot(out, name,
          m.meta("unique_key").split(",").toSeq.map(_.trim),
          m.meta("check_cols").split(",").toSeq.map(_.trim),
          new java.sql.Timestamp(
            m.meta.get("snapshot_at").map(java.sql.Timestamp.valueOf(_)
              .getTime).getOrElse(System.currentTimeMillis())))
      } else a.writeToModel(out, name)
      // C22 — run the model's declared tests; clean run promotes the
      // status to "tested" (ref project.py:176-188), any violation
      // fails the node (downstream then SKIPs via the scheduler)
      val results = a.registry.testsFor(name)
        .map(td => td -> td.violations(a))
      results.foreach { case (td, v) =>
        a.ledger.record(td.name,
          if (v == 0) graft.api.Status.Success else graft.api.Status.Failure,
          s"violations=$v")
      }
      val bad = results.filter(_._2 > 0)
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"data tests failed: ${bad.map(_._1.name).mkString(", ")}")
      if (results.nonEmpty)
        a.registry.setStatus(name, graft.api.Status.Tested)
      ()
    } finally graft.api.PyBridge.releaseScratch(a, name)
  }

  /** Build and run the selected pipeline; returns exit status (0 ok). */
  def run(api: FalApi, config: RunConfig = RunConfig()): Int = {
    val graph = NodeGraph.build(api.registry.listModels, config.scripts,
      preHooks = config.preHooks, postHooks = config.postHooks)
    val selected = Selectors.plan(graph, config.select, config.exclude,
      config.tags)
    val planned0 = Plan.scriptConnected(Plan.filtered(graph, selected))
    val planned = if (config.enableChunking) Plan.chunked(planned0)
      else planned0

    def taskFor(id: String): Task = {
      val props = planned.nodes(id)
      if (props.members.nonEmpty)
        ChunkTask(id, props.members.map { m =>
          val n = NodeGraph.modelName(m)
          modelTask(api, n, config.pools.get(n), config.vars,
            config.fullRefresh)
        })
      else if (props.kind == NodeKind.FalScript)
        HookTask(id, config.scriptFns.getOrElse(id,
          (_, _) => throw new IllegalStateException(s"no script fn: $id")))
      else {
        val n = NodeGraph.modelName(id)
        modelTask(api, n, config.pools.get(n), config.vars,
          config.fullRefresh)
      }
    }

    def hooksFor(id: String): (Seq[Task], Seq[Task]) = {
      val props = planned.nodes(id)
      def hookTask(h: String, phase: String) =
        HookTask(s"hook.$id.$phase.$h", config.hookFns.getOrElse(h,
          (_, _) => ()))
      (props.preHook.map(hookTask(_, "PRE")),
        props.postHook.map(hookTask(_, "POST")))
    }

    val scheduler = Scheduler.fromGraph(planned, taskFor, hooksFor)
    Executor.run(scheduler, api, config.threads)
  }

  /** The standalone `fal run` entry point (ref: `cli.py:14` routes
    * `fal run` to `fal_runner.fal_run`, `fal_runner.py:34-62`): execute
    * scripts WITHOUT rebuilding any model, against the PREVIOUS run's
    * statuses. `--before` runs each selected model's pre-hooks then its
    * before scripts; the default (after) runs after scripts then
    * post-hooks — the reference's exact phase order. `priorStatuses`
    * (typically `RunLedger.loadStatuses(run_results.json)`) seeds the
    * registry so scripts observe `current_model.status` from the prior
    * run, exactly as the reference's `FalScript` does via the parsed
    * run-results artifact.
    */
  def runScripts(api: FalApi, config: RunConfig, before: Boolean,
      priorStatuses: Map[String, String] = Map.empty): Int = {
    priorStatuses.foreach { case (n, s) => api.registry.setStatus(n, s) }
    val selectorFlags = config.select.nonEmpty || config.exclude.nonEmpty
    // ref `fal_run` (fal_runner.py:37-41): --all with selection flags
    // is an error, not a silent union
    require(!(config.allModels && selectorFlags),
      "Cannot pass --all flag alongside selection flags " +
        "(--select/--models, --exclude, --selector)")
    val graph = NodeGraph.build(api.registry.listModels, config.scripts,
      preHooks = config.preHooks, postHooks = config.postHooks)
    val selected = Selectors.plan(graph, config.select, config.exclude,
      config.tags)
    // model filter, the reference's `_get_filtered_models` ladder:
    // selectors win; else before-mode keeps script-bearing models; else
    // --all keeps everything; else "models that ran in the last dbt
    // run" = prior status recorded and not skipped — and having NO
    // prior artifact in that default mode is an error (ref
    // fal_runner.py:128-158). Hooks deliberately follow the SAME
    // filtered list (ref `_get_hooks_for_model(models, …)`,
    // fal_runner.py:52/61): a hook-only model is dropped in before
    // mode, and a --scripts narrowing filters scripts but NOT the
    // surviving models' hooks — both exactly as the reference behaves.
    // default mode with no prior artifact errors BEFORE filtering (ref
    // raises FalParseError unconditionally, fal_runner.py:146-158) — a
    // lazy in-filter check would silently succeed on an empty model
    // registry or when every model takes an earlier ladder branch
    require(selectorFlags || before || config.allModels ||
        priorStatuses.nonEmpty,
      "Cannot define models to run without selection flags or a " +
        "prior run_results artifact or --run-scripts before " +
        "(ref fal_runner.py:148-151)")
    val models = api.registry.listModels.map(_.name).filter { n =>
      if (selectorFlags) selected.contains(NodeGraph.modelId(n))
      else if (before)
        config.scripts.exists(s => s.before && s.model == n)
      else if (config.allModels) true
      else priorStatuses.get(n).exists(_ != Status.Skipped)
    }
    // --scripts narrows to the named files (ref _select_scripts)
    def wantFile(f: String): Boolean =
      config.scriptsOnly.isEmpty || config.scriptsOnly.contains(f)
    def scriptTasks(b: Boolean): Seq[Task] =
      config.scripts.filter(s => s.before == b && models.contains(s.model)
          && wantFile(s.file))
        .map { s =>
          val id = if (b) NodeGraph.beforeScriptId(s.model, s.file)
            else NodeGraph.afterScriptId(s.model, s.file)
          HookTask(id, config.scriptFns.getOrElse(id,
            (_, _) => throw new IllegalStateException(s"no script fn: $id")))
        }
    def hookTasks(hooks: Map[String, Seq[String]], phase: String): Seq[Task] =
      models.flatMap(m => hooks.getOrElse(m, Nil).map(h =>
        HookTask(s"hook.${NodeGraph.modelId(m)}.$phase.$h",
          config.hookFns.getOrElse(h, (_, _) => ()))))
    // globals run on unselected, un-script-narrowed invocations, or
    // under --globals (ref `_handle_global_scripts`, fal_runner.py:
    // 66-79 — a --scripts flag suppresses globals exactly like a
    // selector does); a --scripts list also narrows WHICH globals run
    val globalsOn =
      (!selectorFlags && config.scriptsOnly.isEmpty) || config.runGlobals
    def globalTasks(files: Seq[String], phase: String): Seq[Task] =
      if (!globalsOn) Nil
      else files.filter(wantFile).map { f =>
        val id = s"script.GLOBAL.$phase.$f"
        HookTask(id, config.scriptFns.getOrElse(id, (_, _) => ()))
      }
    // phase order is the reference's: before → globals, pre-hooks,
    // before scripts; after → scripts, post-hooks, globals
    val phases =
      if (before) Seq(globalTasks(config.globalScriptsBefore, "BEFORE"),
        hookTasks(config.preHooks, "PRE"), scriptTasks(true))
      else Seq(scriptTasks(false), hookTasks(config.postHooks, "POST"),
        globalTasks(config.globalScriptsAfter, "AFTER"))
    phases.flatten.foldLeft(0)((st, t) => st | t.execute(api))
  }
}

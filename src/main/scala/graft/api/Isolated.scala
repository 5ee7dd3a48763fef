package graft.api

import java.nio.file.Files

/** B12's fault-isolation half: run a hook / script step as an external
  * OS process with parquet handoff, so a crashing or memory-bombing
  * user step cannot take down the driver JVM.
  *
  * The reference ran every Python step in an isolated environment
  * (`/root/reference/projects/fal/src/fal/packages/environments/
  * base.py:43-260` — subprocess + grpc/dill handoff); its useful
  * property at 100 TB is not venv management but the process boundary:
  * a step that segfaults or OOMs turns into a nonzero exit code, which
  * the scheduler converts into FAILED + transitive SKIPPED
  * (`executor.py:97-104`) while the session keeps serving every other
  * DAG branch. This object provides exactly that boundary for the
  * engine's hook/script surface (models already have it via
  * [[PyBridge]]):
  *
  *   - declared `ref()` inputs are materialized to parquet and handed
  *     over in a JSON manifest (the A8/A9 teleport property — nothing
  *     crosses the boundary except files),
  *   - the step's `with:` arguments (D4) ride the same manifest,
  *   - the child is ANY argv (a python script, a shell tool); exit 0 is
  *     success, anything else raises — which [[graft.plans.Scheduler]]
  *     records as task Failure and the executor's group state machine
  *     turns into main-task skip (pre-hook) or group failure.
  *
  * Scale note: the handoff cost is O(inputs), so external steps belong
  * on REDUCED relations (aggregates, samples) — the same contract the
  * reference imposes on teleported steps.
  */
object Isolated {

  /** A hook/script function (`RunConfig.hookFns` / `scriptFns` shape)
    * that runs `command` in a child process. `deps` name the models to
    * materialize and hand over; the manifest path is appended as the
    * last argv element.
    */
  def step(command: Seq[String], deps: Seq[String] = Nil)
      : (FalApi, Map[String, String]) => Unit = { (a, args) =>
    val tmp = Files.createTempDirectory("graft_isolated")
    try {
      val inputs = deps.map { d =>
        val p = tmp.resolve(s"in_$d").toString
        a.ref(d).write.mode("overwrite").parquet(p)
        d -> p
      }
      def obj(kv: Seq[(String, String)]): String =
        kv.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
          .mkString("{", ", ", "}")
      val manifest = tmp.resolve("manifest.json")
      Files.writeString(manifest,
        s"""{"inputs": ${obj(inputs)}, "args": ${obj(args.toSeq.sortBy(_._1))},""" +
          s""" "scratch": ${Json.str(tmp.toString)}}""")
      // Child output streams to a file (never driver memory), with a
      // hard deadline — a hung or stdout-flooding step turns into a
      // task failure, not a wedged executor thread (PyBridge.runLogged).
      PyBridge.runLogged(
        new ProcessBuilder((command :+ manifest.toString): _*),
        tmp.resolve("step.log"),
        s"isolated step ${command.headOption.getOrElse("?")}")
    } finally PyBridge.deleteRec(tmp)
  }
}

package graft.api

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable

/** Execution ledger — the rebuild of the reference's merged
  * `run_results.json` / `fal_results.json` artifacts
  * (`A/fal/dbt/cli/flow_runner.py:86-133`, result classes
  * `A/fal/dbt/planner/tasks.py:98-148`): one record per node execution
  * with status + timing, dumped as JSON at the end of a run.
  */
final class RunLedger {
  final case class Record(node: String, status: String, detail: String,
      atEpochMs: Long)

  private val records = mutable.ArrayBuffer.empty[Record]

  def record(node: String, status: String, detail: String = ""): Unit =
    records.synchronized {
      records += Record(node, status, detail, Instant.now.toEpochMilli); ()
    }

  def all: Seq[Record] = records.synchronized(records.toSeq)

  def statusOf(node: String): Option[String] =
    records.synchronized(records.reverseIterator
      .find(_.node == node).map(_.status))

  /** Dump dbt-ish run results JSON (ref format: status, node id, timing). */
  def writeJson(path: String): Unit = {
    val body = all.map(r =>
      s"""{"node":${Json.str(r.node)},"status":${Json.str(r.status)},""" +
        s""""detail":${Json.str(r.detail)},"at_epoch_ms":${r.atEpochMs}}""")
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(path), s"""{"results":$body}""")
    ()
  }
}

object RunLedger {
  /** Load a previous run's `run_results.json` into node → last status —
    * what the standalone script runner (`fal run`) seeds the registry
    * with so scripts observe the PRIOR run's model statuses (ref:
    * `FalDbt` parses `run_results.json` at `integration/parse.py:177-186`
    * and scripts read `context.current_model.status` from it).
    */
  def loadStatuses(path: String): Map[String, String] = {
    if (!Files.exists(Paths.get(path))) return Map.empty
    // later records win: the ledger is append-ordered, so the last
    // status per node is the run's final word on it
    Json.results(Files.readString(Paths.get(path)), "node")
  }
}

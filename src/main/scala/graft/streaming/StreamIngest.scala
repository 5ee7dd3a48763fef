package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.FalApi

/** Streaming → A-layer ingest: sink a stream into a registered model
  * through [[StreamOps.eachBatch]] + the metadata-only append chain.
  * This is the continual-ingest shape the reference's users run as
  * externally fed incremental models: each micro-batch lands as ONE new version
  * directory holding only the increment (O(batch) write cost no matter
  * how large the accumulated model gets), readers always see a
  * consistent pointer, and `compactModel` folds long chains on
  * maintenance windows.
  *
  * Exactly-once: `foreachBatch` replays the in-flight batch after a
  * restart, so the sink keeps its own commit log (the canonical
  * idempotent-foreachBatch recipe) — the last applied batch id rides
  * the model's pointer METADATA (`Registry.pointerMeta`), which the
  * pointer swap writes in the same ATOMIC_MOVE as the version flip.
  * Data and commit record therefore change in one atomic step: a
  * crash before the swap leaves old pointer + old batch id (the
  * replay re-appends into a fresh version dir; the orphan is
  * vacuumed), a crash after it leaves both committed and the replay
  * no-ops. There is no marker-file window — the r8-documented
  * "crash between swapPointer and the commit write duplicates the
  * batch" corner no longer exists, and maintenance rewrites
  * (compaction, overwrite) carry the meta forward.
  */
object StreamIngest {

  /** Key under `Registry.pointerMeta` recording the last applied
    * streaming batch id for a model. */
  val BatchMetaKey = "stream_batch"

  /** Last committed streaming batch id for `name`, -1 if none. Falls
    * back to the pre-pointer-meta `_stream_commit` marker file so
    * state written before the atomic-commit change keeps its record (a
    * lost record would make a restart replay duplicate the in-flight
    * batch); the next applyBatch writes pointer meta and the legacy
    * file is never consulted again for ids below it.
    */
  def lastCommitted(api: FalApi, name: String): Long =
    api.registry.pointerMeta(name).get(BatchMetaKey)
      .map(_.toLong)
      .orElse {
        val legacy = java.nio.file.Paths.get(
          api.registry.root, name, "_stream_commit")
        if (java.nio.file.Files.exists(legacy))
          Some(java.nio.file.Files.readString(legacy).trim.toLong)
        else None
      }
      .getOrElse(-1L)

  /** Apply one micro-batch idempotently; returns true if appended,
    * false if `batchId` was already committed (a restart replay).
    */
  def applyBatch(api: FalApi, name: String, batch: DataFrame,
      batchId: Long): Boolean = {
    if (batchId <= lastCommitted(api, name)) false
    else {
      api.writeToModel(batch, name, mode = "append",
        pointerMeta = Map(BatchMetaKey -> batchId.toString))
      true
    }
  }

  /** Start the ingest query: every micro-batch appends to `name`
    * through [[applyBatch]].
    */
  def toModel(stream: DataFrame, api: FalApi, name: String,
      checkpointDir: String): StreamingQuery =
    StreamOps.eachBatch(stream) { (batch, batchId) =>
      applyBatch(api, name, batch, batchId); ()
    }.option("checkpointLocation", checkpointDir).start()
}

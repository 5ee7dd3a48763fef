package graft.api

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The engine API a model/script/hook sees — the rebuild of the globals
  * the reference injects into user code (`ref`, `source`,
  * `write_to_model`, `write_to_source`, `execute_sql`, `list_*`;
  * `A/fal/dbt/fal_script.py:258-299`) and of the adapter data-movement
  * operators (SURVEY.md §2a A1–A10).
  *
  * One Spark session replaces the reference's entire per-warehouse
  * read/write matrix (A3/A6): every relation is a parquet directory
  * resolved through the [[Registry]], every read is
  * `spark.read.parquet`, every write a parquet job with a commit
  * protocol. Teleport (A8/A9) is the identity: relations already live
  * as parquet.
  *
  * `allowWrites=false` reproduces hook semantics — hooks may read but
  * not write models (`fal_script.py:279-296`,
  * `_not_allowed_function_maker:419-428`).
  *
  * `defer` is the `--defer --state DIR` surface (ref: arg parsing
  * `cli/args.py:70-73`, end-to-end `tests/test_cli.py:132-147`): a
  * read-only registry over a PREVIOUS run's storage root; `ref()` of a
  * model not materialized in this run falls back to the deferred
  * state instead of failing, so a selected subgraph can build against
  * upstreams produced elsewhere without rebuilding them.
  */
final class FalApi(
    val spark: SparkSession,
    val registry: Registry,
    val ledger: RunLedger,
    allowWrites: Boolean = true,
    defer: Option[Registry] = None) {

  /** A1 — relation scan: resolve a model name, return its live data.
    * Lazy: downstream filters/projections push into the parquet scan.
    * Bucketed versions resolve through their catalog table so joins on
    * the bucket key keep the no-shuffle co-location guarantee (a plain
    * path read would discard the bucketing metadata). Unmaterialized
    * models fall back to the deferred state root when one is set.
    */
  def ref(name: String): DataFrame = readResolved(name, livePath(name))

  /** The version dir [[ref]] reads: this run's pointer, else the
    * deferred state's. */
  private[api] def livePath(name: String): String =
    registry.currentPath(name)
      .orElse(defer.flatMap(_.currentPath(name)))
      .getOrElse(throw new IllegalStateException(
        s"model not materialized: $name" +
          (if (defer.isDefined) " (also absent from the deferred state)"
           else "")))

  /** Time-travel read: a model AT a specific retained version ("v3"),
    * including that version's append chain. The overwrite protocol
    * already guarantees old versions stay intact until [[vacuumModel]]
    * drops them — this makes the guarantee usable: audits, A/B-ing a
    * curation change against yesterday's corpus, or reproducing a
    * training run pin the exact relation a past pointer served.
    */
  def refVersion(name: String, version: String): DataFrame = {
    val dir = registry.listVersions(name)
      .find(FsIO.fileName(_) == version)
      .getOrElse(throw new NoSuchElementException(
        s"model $name has no retained version '$version' " +
          s"(have: ${registry.listVersions(name)
            .map(FsIO.fileName).mkString(", ")})"))
    readResolved(name, dir)
  }

  /** Row-level diff between two retained versions of a model: every
    * row `to` added and every row it removed relative to `from`, tagged
    * by a `change` column — the audit companion of [[refVersion]]
    * (what did yesterday's overwrite actually change?). `exceptAll`
    * keeps multiplicity: a row appearing twice in `to` and once in
    * `from` reports exactly one added copy.
    *
    * Scale: both directions plan as one hash aggregation keyed on the
    * full row (Spark rewrites exceptAll to a count-tagged union +
    * aggregate + replicate), so the diff shuffles each side once on
    * the row key — no join explosion, output bounded by the true
    * change set.
    *
    * Schema drift (ADVICE r10): append-chain evolution means two
    * retained versions can legitimately differ in column set/order,
    * and `exceptAll` resolves POSITIONALLY — so both sides are first
    * aligned by NAME onto their union schema (null-filled where a
    * version lacks a column, one canonical column order), reusing the
    * same merge rule the append chain itself applies. Type conflicts
    * between the versions fail loudly here, as they do at the write.
    */
  def diffVersions(name: String, from: String, to: String): DataFrame = {
    val a = refVersion(name, from)
    val b = refVersion(name, to)
    val unioned = mergeChainSchema(a.schema, b.schema)
    def align(df: DataFrame): DataFrame =
      df.select(unioned.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    val (af, bf) = (align(a), align(b))
    bf.exceptAll(af).withColumn("change", lit("added"))
      .unionByName(af.exceptAll(bf).withColumn("change", lit("removed")))
  }

  /** Read a resolved version directory: through the bucketed catalog
    * table when the version was written clustered, else a (chain-aware)
    * plain parquet read.
    */
  private def readResolved(name: String, path: String): DataFrame =
    FalApi.bucketMarker(path) match {
      case None => readVersion(path)
      case Some((tbl, _)) if spark.catalog.tableExists(tbl) =>
        spark.table(tbl)
      case Some((tbl, recorded)) =>
        // The default in-memory catalog forgets tables across JVM
        // restarts while the pointer + parquet data persist on disk —
        // re-register from the marker's recorded spec (falling back to
        // the model's meta for pre-spec markers) so a materialized
        // bucketed model stays readable (and keeps its no-shuffle joins).
        recorded.orElse(bucketSpec(name)) match {
          case Some((n, cols)) =>
            val schemaDdl = spark.read.parquet(path).schema.toDDL
            val colList = cols.map(c => s"`$c`").mkString(", ")
            spark.sql(s"CREATE TABLE `$tbl` ($schemaDdl) USING parquet " +
              s"CLUSTERED BY ($colList) SORTED BY ($colList) " +
              s"INTO $n BUCKETS LOCATION '$path'")
            spark.table(tbl)
          case None =>
            // bucket meta was removed since the write: data is still
            // valid parquet, so degrade to a plain (unbucketed) read
            ledger.record(name, Status.Success,
              s"warn: bucketed table $tbl lost and model no longer " +
                "declares bucket_by; reading as plain parquet")
            spark.read.parquet(path)
        }
    }

  /** The version directories an append chain is made of: each
    * metadata-only append records its predecessor in `_prev_version`,
    * so a version's full content = its own files plus the chain behind
    * it. Oldest first.
    */
  private def chainPaths(path: String): Seq[String] = {
    val prev = FsIO.child(path, "_prev_version")
    if (FsIO.exists(prev))
      chainPaths(FsIO.child(FsIO.parent(path),
        FsIO.readString(prev).trim)) :+ path
    else Seq(path)
  }

  /** Plain (non-bucketed) version read — the whole append chain in one
    * multi-path scan. Reads through the schema recorded at write time
    * when present: partition-column type inference over directory names
    * would otherwise retype values on every read (string '01' → int 1 —
    * lossy for zero-padded or mixed-format keys).
    */
  private def readVersion(path: String): DataFrame = {
    val paths = chainPaths(path)
    val schemaFile = FsIO.child(path, "_schema.ddl")
    val reader =
      if (FsIO.exists(schemaFile))
        spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          FsIO.readString(schemaFile)))
      else spark.read
    reader.parquet(paths: _*)
  }

  /** Bucketing config from the model's meta (`bucket_by` = comma-joined
    * columns, `buckets` = count, default 8) — the analogue of dbt's
    * bucketed-table config. Paying one clustered write makes every
    * later model-to-model join on the bucket key shuffle-free
    * (BucketedJoinSpec proves the plan property; BucketedWriteSpec
    * proves this wiring).
    */
  private def bucketSpec(name: String): Option[(Int, Seq[String])] =
    registry.modelOpt(name).flatMap { m =>
      m.meta.get("bucket_by").map { cols =>
        (m.meta.get("buckets").flatMap(_.toIntOption).getOrElse(8),
          FalApi.splitCols(cols))
      }
    }

  /** Materialize to a version dir: plain parquet; directory-partitioned
    * parquet when the model declares `partition_by` (readers with a
    * filter on the partition column scan only matching directories —
    * partition pruning, the first lever against a 100 TB full scan); or
    * — when the model declares bucketing — a bucketed external table
    * named after the version (old versions keep their table until
    * dropped, so readers of a stale pointer stay consistent). Returns
    * the rows written, counted by the write job itself.
    */
  private def materialize(df0: DataFrame, name: String, target: String,
      explicitSpec: Option[(Int, Seq[String])] = None): Long = {
    val (df, rows) = FalApi.countingRows(df0)
    explicitSpec.orElse(bucketSpec(name)) match {
      case Some((n, cols)) =>
        // the catalog is session-global while registries are per-storage-
        // root: two roots materializing the same model name would both
        // claim `graft_<name>_v1` and the second write would silently
        // repoint the first root's readers. A storage-root hash in the
        // name keeps every materialization's table distinct; readers
        // never reconstruct the name — they read it from the marker.
        val root = FsIO.parent(FsIO.parent(target))
        val uniq = Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(root))
        val tbl = s"graft_${name}_${FsIO.fileName(target)}_h$uniq"
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        df.write.mode("overwrite")
          .bucketBy(n, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .option("path", target).saveAsTable(tbl)
        // record the spec the FILES were written with, so a catalog-loss
        // re-registration can never claim a different bucketing than the
        // data has (the model's meta may change between write and read)
        FsIO.writeString(FsIO.child(target, FalApi.BucketMarker),
          s"$tbl\n$n\n${cols.mkString(",")}")
      case None =>
        val partCols = registry.modelOpt(name)
          .flatMap(_.meta.get("partition_by")).map(FalApi.splitCols)
          .getOrElse(Seq.empty)
        if (partCols.nonEmpty)
          df.write.mode("overwrite").partitionBy(partCols: _*).parquet(target)
        else df.write.mode("overwrite").parquet(target)
        // record the written schema: a later maintenance read must not
        // re-infer partition-column types from directory names (string
        // '01' would silently become int 1 on rewrite)
        FsIO.writeString(FsIO.child(target, "_schema.ddl"), df.schema.toDDL)
    }
    rows()
  }

  /** Output-layout skew report from the written files' sizes — free
    * (filesystem metadata only) and enough to make salting/bucket-count
    * decisions data-driven: a max/min byte ratio far from 1 means a
    * skewed write partitioning.
    */
  private def fileSkew(target: String): String = {
    val sizes = FsIO.parquetSizes(target)
    if (sizes.isEmpty) ""
    else s" files=${sizes.size} maxBytes=${sizes.max} minBytes=${sizes.min}"
  }

  /** A2/A3 — source scan through the declared format (one DataSource
    * code path instead of the reference's per-warehouse readers).
    * Path-less formats (jdbc) read purely from options.
    */
  def source(sourceName: String, tableName: String): DataFrame = {
    val src = registry.source(sourceName, tableName)
    val reader = spark.read.format(src.format).options(src.options)
    if (src.path.nonEmpty) reader.load(src.path) else reader.load()
  }

  /** Write-time schema override (ref `write_to_model`/`write_to_source`
    * forward a partial `dtype` map to the warehouse writer,
    * `project.py:757-801`, `lib.py:620-666`): listed columns are cast
    * to the declared type before materialization, unlisted columns
    * pass through — the "assist in data type definitions" semantics of
    * the reference's partial schema. A name that isn't in the frame
    * fails loudly (a silent typo would ship the wrong physical type to
    * every downstream reader).
    */
  private def applySchema(df: DataFrame,
      schema: Map[String, org.apache.spark.sql.types.DataType])
      : DataFrame =
    if (schema.isEmpty) df
    else {
      val missing = schema.keySet -- df.columns.toSet
      require(missing.isEmpty,
        s"schema override names absent columns: ${missing.mkString(", ")}")
      df.select(df.columns.map { c =>
        schema.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
      }: _*)
    }

  /** The schema governing a version's chain read: its recorded
    * `_schema.ddl` when present, else the inferred parquet schema.
    */
  private def versionSchema(path: String)
      : org.apache.spark.sql.types.StructType = {
    val schemaFile = FsIO.child(path, "_schema.ddl")
    if (FsIO.exists(schemaFile))
      org.apache.spark.sql.types.StructType.fromDDL(
        FsIO.readString(schemaFile))
    else spark.read.parquet(path).schema
  }

  /** Union-by-name schema evolution for a metadata-only append: keep
    * every chain column (order-stable), add the batch's new columns at
    * the end, and make any column absent from one side nullable (its
    * missing files null-fill on read). A same-name type conflict is an
    * error — the caller casts explicitly (the `schema` override) rather
    * than discovering a broken chain at read time.
    */
  private def mergeChainSchema(
      prior: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val conflicts = prior.fields.flatMap { pf =>
      batch.fields.find(_.name == pf.name).collect {
        case bf if bf.dataType != pf.dataType =>
          s"${pf.name}: chain ${pf.dataType.simpleString} vs " +
            s"batch ${bf.dataType.simpleString}"
      }
    }
    require(conflicts.isEmpty,
      "append batch schema conflicts with the model's chain " +
        s"(cast explicitly via the schema override): " +
        conflicts.mkString("; "))
    val batchByName = batch.fields.map(f => f.name -> f).toMap
    org.apache.spark.sql.types.StructType(
      prior.fields.map { pf =>
        batchByName.get(pf.name) match {
          case Some(bf) => pf.copy(nullable = pf.nullable || bf.nullable)
          case None     => pf.copy(nullable = true)
        }
      } ++
        batch.fields.filterNot(bf => prior.fieldNames.contains(bf.name))
          .map(_.copy(nullable = true)))
  }

  /** A4/A5 — write a DataFrame as a model relation.
    *
    * Overwrite writes a fresh version directory then atomically swaps
    * the catalog pointer (never in-place — concurrent readers keep the
    * old version; ref `overwrite_target lib.py:286-329`). Append on a
    * plain model is METADATA-ONLY: the new version holds just the
    * increment plus a `_prev_version` link, and reads scan the whole
    * chain — O(increment) write cost, prior versions' files untouched
    * (the behavior a daily 100 TB append pipeline needs; compaction
    * collapses long chains). Models with a declared clustered layout
    * (bucket_by / partition_by) keep the rewrite-through-layout path —
    * an appended stray dir would silently void the bucketed-join and
    * partition-pruning guarantees their readers rely on.
    */
  def writeToModel(df0: DataFrame, name: String,
      mode: String = "overwrite",
      schema: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty,
      pointerMeta: Map[String, String] = Map.empty): WriteResult = {
    val df = applySchema(df0, schema)
    val clustered = bucketSpec(name).isDefined ||
      registry.modelOpt(name).exists(_.meta.contains("partition_by"))
    (mode, registry.currentPath(name)) match {
      case ("overwrite", _) | ("append", None) =>
        commitVersion(df, name, mode, pointerMeta)
      case ("append", Some(cur)) if clustered =>
        commitVersion(readVersion(cur)
          .unionByName(df, allowMissingColumns = true), name, mode,
          pointerMeta)
      case ("append", Some(cur)) =>
        commitVersion(df, name, mode, pointerMeta, link = Some(target => {
          // schema evolution across the chain: the head version's
          // _schema.ddl governs the whole multi-path read, so it must
          // be the UNION of the chain's schema and this batch's — a
          // narrower batch would otherwise hide older columns, and
          // files missing a column null-fill only if the column is
          // declared nullable. Type conflicts fail here, at the
          // write, not at some later read.
          FsIO.writeString(FsIO.child(target, "_schema.ddl"),
            mergeChainSchema(versionSchema(cur), df.schema).toDDL)
          FsIO.writeString(FsIO.child(target, "_prev_version"),
            FsIO.fileName(cur))
        }))
      case (other, _) => throw new IllegalArgumentException(
        s"unknown write mode: $other")
    }
  }

  /** The one versioned commit every model rewrite ends in (overwrite,
    * both append paths, merge, insert_overwrite, snapshot): materialize
    * `df` into a fresh version dir, run `link` on it (the metadata-only
    * append's chain link), then swap the pointer. Data + `pointerMeta`
    * commit in ONE atomic pointer move: a crash anywhere before it
    * leaves the old pointer (and old meta) — the orphaned version dir
    * is harmless and vacuumed later.
    *
    * The write counts its own rows, so a commit is one Spark job. A
    * chain link's version serves its whole chain, which is what it
    * reports: that one re-reads the chain to count it.
    */
  private def commitVersion(df: DataFrame, name: String, mode: String,
      pointerMeta: Map[String, String] = Map.empty,
      link: Option[String => Unit] = None): WriteResult = {
    require(allowWrites,
      "write_to_model is not allowed in hooks (ref fal_script.py:290-296)")
    val target = registry.nextVersionDir(name)
    val written = materialize(df, name, target)
    link.foreach(_(target))
    registry.swapPointer(name, target, pointerMeta)
    val rows =
      if (link.isDefined) readVersion(target).count() else written
    val res = recordVersion(name, target, mode, s"write $mode", rows)
    registry.setStatus(name, Status.Success)
    res
  }

  /** Record a just-swapped version's write in the ledger as
    * `<label> rows=<rows><detail>` plus the file-skew report. `rows`
    * comes from the caller (the write's own count), so this runs no
    * Spark job. */
  private def recordVersion(name: String, target: String, mode: String,
      label: String, rows: Long, detail: String = ""): WriteResult = {
    ledger.record(name, Status.Success,
      s"$label rows=$rows$detail${fileSkew(target)}")
    WriteResult(name, rows, mode)
  }

  /** The in-place commit of the bucketed append and delete paths: the
    * live bucketed version (`cur`, its catalog table `tbl` and recorded
    * bucket spec, and the frame it resolves to — the catalog table is
    * re-registered from the marker when this session, e.g. a fresh
    * process, has not seen it yet) goes to `mutate`, which writes into
    * it and returns `(rows, ledger detail)`.
    *
    * The commit is version-checked: a concurrent REWRITE (compaction,
    * overwrite) of this model between our read and this commit would
    * mean the files just written landed in a version dir that is no
    * longer live — surface that as a conflict (caller re-runs against
    * the new current, e.g. via Registry.retrySwap) instead of silently
    * re-pointing readers at the superseded dir. `append_seq` makes
    * EVERY in-place write visible in the pointer CONTENT (ADVICE r12):
    * it keeps the version name, so a concurrent compaction's
    * content-pinned swap can only detect it through a meta change —
    * which a meta-less write would otherwise not make.
    */
  private def commitInPlace(name: String, mode: String,
      pointerMeta: Map[String, String])(
      mutate: (String, String, Option[(Int, Seq[String])], DataFrame) =>
        (Long, String)): WriteResult = {
    require(allowWrites, "write_to_model is not allowed in hooks")
    val cur = registry.currentPath(name).getOrElse(
      throw new IllegalStateException(s"model not materialized: $name"))
    val baseVersion = registry.currentVersion(name)
    val (tbl, spec) = FalApi.bucketMarker(cur).getOrElse(
      throw new IllegalArgumentException(
        s"$mode: $name's current version is not bucketed (plain " +
          "models append through writeToModel mode=append)"))
    val (rows, detail) = mutate(cur, tbl, spec, readResolved(name, cur))
    val seq = registry.pointerMeta(name)
      .get("append_seq").map(_.toLong).getOrElse(0L) + 1L
    registry.swapPointer(name, cur,
      pointerMeta + ("append_seq" -> seq.toString),
      expectedVersion = baseVersion)
    ledger.record(name, Status.Success, s"$mode $detail")
    registry.setStatus(name, Status.Success)
    WriteResult(name, rows, mode)
  }

  /** O(increment) bucket-aligned APPEND into a bucketed model's
    * CURRENT version: the increment is `insertInto`'d the catalog
    * table, so Spark writes it as additional bucket-id-suffixed files
    * inside the same bucket layout (verified: the post-append scan
    * stays `Bucketed: true` — multiple files per bucket concatenate
    * into one bucket partition — and bucket-keyed joins/aggregations
    * remain exchange-free). This is the third write mode the standing
    * corpus-derived models need (VERDICT r11 item #1): `writeToModel
    * append` on a clustered model re-materializes the whole relation
    * to preserve its layout — correct for arbitrary relations, but a
    * full corpus rewrite per ingest batch at 100 TB — while this path
    * costs O(batch) no matter how large the accumulated model is.
    *
    * The trade is explicit: the current version directory is mutated
    * in place, so snapshot isolation ([[refVersion]] immutability) is
    * waived for this model — appropriate for standing DERIVED state
    * (an index maintained alongside its corpus), not for user-facing
    * history. Readers concurrent with the append may see a partial
    * increment (single-writer ingest, the registry's documented
    * cross-JVM invariant). `pointerMeta` (e.g. the corpus fingerprint
    * advance) commits via the pointer swap AFTER the files land: a
    * crash in between leaves a stale fingerprint, which the next
    * resolve treats as a miss and rebuilds — self-healing, never
    * silently wrong.
    */
  def appendToBucketedModel(df: DataFrame, name: String,
      pointerMeta: Map[String, String] = Map.empty): WriteResult =
    commitInPlace(name, "append_bucketed", pointerMeta) {
      (cur, tbl, _, resolved) =>
        val cols = resolved.columns
        require(df.columns.toSet == cols.toSet,
          s"append increment columns ${df.columns.mkString(",")} != model " +
            s"columns ${cols.mkString(",")}")
        // O(increment) accounting: the insert counts the increment as
        // it writes it, so the plan runs once; a post-append count of
        // the TABLE would scan the whole accumulated model per ingest
        // batch, breaking this path's O(increment) contract.
        // insertInto resolves POSITIONALLY — align to the table's order
        val (inc, counted) =
          FalApi.countingRows(df.select(cols.map(col).toIndexedSeq: _*))
        inc.write.insertInto(tbl)
        val rows = counted()
        // insertInto refreshes the WRITING session's relation cache only;
        // when the increment frame rides a cloned session (a foreachBatch
        // micro-batch), THIS api's session would otherwise keep serving
        // the pre-append file listing — refresh it explicitly so readers
        // through this session see the appended buckets
        spark.catalog.refreshTable(tbl)
        (rows, s"appendedRows=$rows${fileSkew(cur)}")
    }

  /** Bucket id a file name was written under by Spark's bucketed
    * write (`part-00000-<uuid>_00003.c000.snappy.parquet` → 3) — the
    * same `.*_(\d+)(\..*)?` convention BucketingUtils parses. None for
    * non-bucket files. */
  private val BucketFilePattern = """.*_(\d+)(?:\..*)?$""".r
  private def bucketIdOf(fileName: String): Option[Int] =
    fileName match {
      case BucketFilePattern(id) => id.toIntOption
      case _ => None
    }

  /** O(affected-buckets) physical DELETE from a bucketed model's
    * current version — the retraction dual of
    * [[appendToBucketedModel]], for models BUCKETED BY the deletion
    * key (an opt-out / takedown request names doc ids; the doc-id-
    * bucketed models hold each doc's rows in exactly one bucket, so
    * only those buckets rewrite and the rest of the model is never
    * read or written). Steps: map the keys to bucket ids with the same
    * Murmur3+pmod the bucketed write used, read ONLY the affected
    * bucket files, `insertInto` their surviving rows back (bucket-
    * aligned, like the append path), drop the originals, and commit
    * the caller's pointer meta (the fingerprint advance) in a
    * version-checked swap.
    *
    * Same in-place trade as the append path: snapshot isolation is
    * waived for this model, and the WHOLE retraction flow is
    * single-use-capture crash-safe rather than replayable — a crash
    * between the insert and the commit leaves duplicated survivor
    * rows under a STALE fingerprint, so the next resolve rebuilds
    * (self-healing, never silently wrong); re-running with the same
    * pre-crash capture would re-insert survivors, which is why
    * [[graft.operators.StandingRetract]] documents captures as
    * single-use. The key-list cap keeps the literal `isin` filter and
    * the driver-held id set honest — a deletion REQUEST is bounded;
    * corpus-scale deletions are a rebuild, not a retraction.
    */
  def deleteFromBucketedModel(keys: Seq[Long], keyCol: String,
      name: String,
      pointerMeta: Map[String, String] = Map.empty): WriteResult = {
    require(keys.nonEmpty, "deleteFromBucketedModel: empty key list")
    require(keys.size <= 100000,
      s"deleteFromBucketedModel: ${keys.size} keys exceeds the 100k " +
        "request bound — a corpus-scale deletion should rebuild the " +
        "model from the rewritten corpus instead")
    commitInPlace(name, "delete_bucketed", pointerMeta) {
      (cur, tbl, spec, resolved) =>
        val (buckets, bCols) = spec.getOrElse(
          throw new IllegalStateException(
            s"$name's bucket marker lacks a bucket spec"))
        require(bCols == Seq(keyCol),
          s"deleteFromBucketedModel: key $keyCol != bucket key " +
            s"${bCols.mkString(",")} — a scattered key needs the tombstone " +
            "path, not a bucket-pruned rewrite")
        // the bucket-id probe below hashes LongType values; a model
        // bucketed on any other key type would hash to the WRONG bucket
        // ids — the affected set misses the real files, rows survive
        // physically, yet the fingerprint advances and the model serves
        // retracted rows as current (ADVICE r13). Fail loudly instead.
        val keyType = resolved.schema(keyCol).dataType
        require(keyType == org.apache.spark.sql.types.LongType,
          s"deleteFromBucketedModel: $name's bucket key $keyCol is " +
            s"$keyType, not LongType — the Seq[Long] key probe would hash " +
            "to wrong bucket ids and silently miss rows; add a typed key " +
            "path before using this on non-long keys")
        // the keys' bucket ids, via the same hash the bucketed write used
        // (functions.hash IS bucketing's Murmur3, seed 42)
        import spark.implicits._
        val ids = keys.toDF(keyCol)
          .select(pmod(hash(col(keyCol)), lit(buckets)).cast("int"))
          .as[Int].collect().toSet
        val affected = FsIO.parquetFiles(cur)
          .filter(f => bucketIdOf(FsIO.fileName(f)).exists(ids.contains))
        val kept = if (affected.isEmpty) 0L else {
          // survivors of the affected buckets, counted by the insert
          // that writes them back; the originals are deleted only after
          // that job returns, so no plan reads a dropped file
          // null-safe: `!isin` alone is NULL (dropped) for null keys —
          // a null-keyed row was never requested for deletion and must
          // survive the rewrite
          val (survivors, counted) = FalApi.countingRows(
            spark.read.schema(resolved.schema)
              .parquet(affected: _*)
              .filter(col(keyCol).isNull || !col(keyCol).isin(keys: _*))
              .select(resolved.columns.map(col).toIndexedSeq: _*))
          survivors.write.insertInto(tbl)
          val n = counted()
          affected.foreach(FsIO.deleteFile)
          spark.catalog.refreshTable(tbl)
          n
        }
        (kept,
          s"keys=${keys.size} bucketsTouched=${ids.size} survivors=$kept")
    }
  }

  /** C20 — incremental `merge` strategy (ref: strategy list
    * `A/dbt/fal/adapters/python/impl.py:256-291`): upsert by key —
    * existing rows whose key appears in the increment are replaced.
    */
  def writeToModelMerge(df: DataFrame, name: String,
      keys: Seq[String]): WriteResult =
    replaceByKey(df, name, keys, "merge")

  /** C20 — `insert_overwrite` strategy: replace exactly the partitions
    * present in the increment, keep the rest — merge keyed on the
    * partition columns (`partitionCol` is the model's comma-joined
    * `partition_by`, split the way the write splits it).
    */
  def writeToModelInsertOverwrite(df: DataFrame, name: String,
      partitionCol: String): WriteResult =
    replaceByKey(df, name, FalApi.splitCols(partitionCol),
      "insert_overwrite")

  /** Rows of the current version whose `keys` appear in `df` are
    * replaced by `df`'s rows; the rest are kept. One shuffle on the key
    * for the anti join; at warehouse scale this is the same hash join a
    * MERGE INTO executes, and on a partitioned catalog partition
    * pruning keeps it proportional to the touched partitions.
    */
  private def replaceByKey(df: DataFrame, name: String, keys: Seq[String],
      mode: String): WriteResult = {
    val merged = registry.currentPath(name) match {
      case Some(cur) =>
        readVersion(cur)
          .join(df.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(df, allowMissingColumns = true)
      case None => df
    }
    commitVersion(merged, name, mode)
  }

  /** C23 — snapshot materialization (dbt's SCD2 snapshot; the
    * reference's jaffle project declares `snapshot-paths` at
    * `projects/adapter/cli_tests/projects/002_jaffle_shop/
    * dbt_project.yml:8`): maintain a type-2 history of `df` keyed by
    * `keys`, comparing `checkCols` (dbt's check strategy). The first
    * write opens every row at `asOf`; each refresh closes changed
    * current rows (`dbt_valid_to = asOf`) and opens rows for new keys
    * and new versions. Keys absent from the refresh stay open (dbt's
    * default hard-delete behavior).
    *
    * Scale: one full-outer shuffle join keyed on the snapshot key per
    * refresh — the closed history never re-joins, so refresh cost
    * tracks the CURRENT set, not accumulated history; bucketing the
    * snapshot model on the key makes the join co-located.
    */
  def writeToModelSnapshot(df: DataFrame, name: String, keys: Seq[String],
      checkCols: Seq[String], asOf: java.sql.Timestamp): WriteResult = {
    val vf = lit(asOf)
    val nullTs = lit(null).cast("timestamp")
    val dataCols = df.columns.toSeq
    val out = registry.currentPath(name) match {
      case None =>
        df.withColumn("dbt_valid_from", vf)
          .withColumn("dbt_valid_to", nullTs)
      case Some(cur) =>
        val snap = readVersion(cur)
        val hist = snap.filter(col("dbt_valid_to").isNotNull)
        val current = snap.filter(col("dbt_valid_to").isNull)
        val n = df.select(dataCols.map(c => col(c).as(s"__n_$c")): _*)
        val j = current.join(n,
          keys.map(k => col(k) === col(s"__n_$k")).reduce(_ && _),
          "full_outer")
        val changed = checkCols.map(c => !(col(c) <=> col(s"__n_$c")))
          .reduce(_ || _)
        val leftKey = col(keys.head)
        val rightKey = col(s"__n_${keys.head}")
        val keepOpen = j
          .filter(leftKey.isNotNull && (rightKey.isNull || !changed))
          .select(snap.columns.toSeq.map(col): _*)
        val closed = j
          .filter(leftKey.isNotNull && rightKey.isNotNull && changed)
          .select(dataCols.map(col) :+ col("dbt_valid_from"): _*)
          .withColumn("dbt_valid_to", vf)
        val opened = j
          .filter(rightKey.isNotNull && (leftKey.isNull || changed))
          .select(dataCols.map(c => col(s"__n_$c").as(c)): _*)
          .withColumn("dbt_valid_from", vf)
          .withColumn("dbt_valid_to", nullTs)
        hist.unionByName(keepOpen).unionByName(closed).unionByName(opened)
    }
    commitVersion(out, name, "snapshot")
  }

  /** Maintenance — small-file compaction (the OPTIMIZE/rewrite op every
    * long-lived table store needs): rewrite the model's current version
    * into files sized near `targetBytes`, then swap the pointer. Many
    * small files are the chronic failure mode of incremental/append
    * pipelines at scale — each parquet footer is a driver-side listing
    * + open cost, and tiny row groups defeat column-chunk skipping.
    * The rewrite preserves content (same rows, fresh layout) and routes
    * through [[materialize]], so declared bucketing/partitioning
    * survives; plain models coalesce to ceil(bytes/targetBytes) files.
    *
    * Scale: one read + one write of the model, no shuffle for plain
    * models (coalesce narrows), and concurrent readers keep the old
    * version until the pointer swap — same atomicity story as
    * [[writeToModel]].
    */
  def compactModel(name: String,
      targetBytes: Long = 128L << 20,
      transform: DataFrame => DataFrame = identity): WriteResult = {
    require(allowWrites, "compact_model is not allowed in hooks")
    val cur = registry.currentPath(name).getOrElse(
      throw new IllegalStateException(s"model not materialized: $name"))
    // content-pinned commit (ADVICE r12): an appendToBucketedModel
    // landing between this read and the swap would be SILENTLY DROPPED
    // by an unconditional swap (the compacted snapshot predates the
    // increment, yet the pointer would repoint readers at it). A
    // VERSION check cannot see that race — an in-place append keeps
    // the version name — so the swap pins the full pointer CONTENT
    // (version + meta; every append changes it via the fingerprint
    // advance or `append_seq`) and raises SwapConflictException when
    // the content moved; the caller re-compacts from the advanced
    // state (compactStanding skips to the next sweep) and the
    // orphaned compacted dir is vacuumed later. Same coverage caveat
    // as every optimistic swap here (see Registry.verifyCommit): the
    // in-JVM lock fully serializes same-process writers, while
    // cross-JVM the unconditional store leaves the documented
    // narrowest-honest-window between check and commit — single
    // maintenance process per root remains the deployment contract.
    val baseContent = registry.pointerContent(name)
    // readVersion: the rewrite must not re-infer partition-column types
    // (string '01' would come back — and be rewritten — as int 1).
    // `transform` is the tombstone sweep hook: a compaction of a
    // tombstone-filtered standing model rewrites the LOGICAL content
    // (retracted rows physically dropped); the tombstone set itself
    // stays, its anti-join a no-op afterwards, so the carried-forward
    // fingerprint (which salts in the tombstone state) remains valid.
    val df = transform(readVersion(cur))
    val target = registry.nextVersionDir(name)
    // bucketed models re-materialize through their declared layout (the
    // bucket count fixes the file count — no byte scan needed); plain
    // models coalesce to ceil(bytes / targetBytes) files. The layout
    // falls back to the CURRENT version's `_bucketed_table` marker
    // when no ModelDef is registered (a fresh maintenance process):
    // compacting a bucketed relation must never silently rewrite it
    // plain and void its readers' no-shuffle guarantee.
    val spec =
      bucketSpec(name).orElse(FalApi.bucketMarker(cur).flatMap(_._2))
    val (rows, detail) = spec match {
      case Some((n, _)) =>
        (materialize(df, name, target, explicitSpec = spec), s"buckets=$n")
      case None =>
        // sum the whole append chain: compaction collapses it into one
        // fresh version, so sizing must see every live byte
        val bytes = chainPaths(cur).map(FsIO.parquetSizes(_).sum).sum
        val nFiles =
          math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        (materialize(df.coalesce(nFiles), name, target), s"files<=$nFiles")
    }
    registry.swapPointer(name, target, expectedContent = baseContent)
    recordVersion(name, target, "compact", "compact", rows, s" $detail")
  }

  /** Maintenance — version retention (VACUUM): delete all but the
    * newest `keep` version directories of a model. Overwrite/compact
    * leave every prior version on disk for snapshot-isolated readers;
    * without retention a frequently-refreshed model's storage grows
    * without bound. The current version is always kept regardless of
    * `keep`. Returns the number of versions removed.
    *
    * Scale: pure driver-side directory walk — no Spark job; the
    * deleted bytes are the win (at 100 TB a daily-refreshed model
    * holds its full size per retained version).
    */
  def vacuumModel(name: String, keep: Int = 2): Int = {
    require(allowWrites, "vacuum_model is not allowed in hooks")
    require(keep >= 1, "keep must be >= 1")
    val versions = registry.listVersions(name)
    val current = registry.currentPath(name)
    // every member of the live append chain is part of the CURRENT
    // data — deleting one would corrupt the relation, so the chain is
    // as untouchable as the pointer target itself
    val live = current.toSeq.flatMap(chainPaths).toSet
    val victims = versions.dropRight(keep)
      .filterNot(v => live.contains(v))
    victims.foreach { v =>
      // a bucketed version registered a catalog table pointing at this
      // directory — drop it too, or the catalog accumulates entries
      // whose LOCATION no longer exists
      FalApi.bucketMarker(v).foreach { case (tbl, _) =>
        spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      }
      FsIO.deleteTree(v)
    }
    ledger.record(name, Status.Success,
      s"vacuum removed=${victims.size} kept=${versions.size - victims.size}")
    victims.size
  }

  /** Feature-store listing (ref `Feature`, `A/fal/dbt/feature_store/
    * feature.py:6-17`; discovery `project.py:642-673`): models whose
    * meta declares `feature_store.entity_column` expose every other
    * materialized column as a feature.
    */
  def listFeatures: Seq[(String, String, String, Option[String])] =
    registry.listModels.flatMap { m =>
      m.meta.get("feature_store.entity_column").toSeq.flatMap { entity =>
        val ts = m.meta.get("feature_store.timestamp_column")
        registry.currentPath(m.name).toSeq.flatMap { path =>
          spark.read.parquet(path).schema.fieldNames.toSeq
            .filterNot(f => f == entity || ts.contains(f))
            .map(f => (m.name, f, entity, ts))
        }
      }
    }

  /** A4 variant for sources (ref `write_to_source project.py:757-801`):
    * sources are externally-owned paths, so writes go directly (append
    * creates the path if absent). Reports the rows the write job itself
    * counted, not the target's total.
    */
  def writeToSource(df0: DataFrame, sourceName: String, tableName: String,
      mode: String = "append",
      schema: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty): WriteResult = {
    require(allowWrites, "write_to_source is not allowed in hooks")
    val (df, counted) = FalApi.countingRows(applySchema(df0, schema))
    val src = registry.source(sourceName, tableName)
    val writer = df.write.format(src.format).options(src.options).mode(mode)
    // path-less formats (jdbc) carry the target in options, same as the
    // read side in `source`
    if (src.path.nonEmpty) writer.save(src.path) else writer.save()
    // an `ignore` write over an existing target runs no job, so nothing
    // delivers its count: report the target's rows as before
    val rows =
      if (mode.equalsIgnoreCase("ignore")) source(sourceName, tableName).count()
      else counted()
    WriteResult(s"$sourceName.$tableName", rows, mode)
  }

  /** A7 — execute SQL with `{{ ref('x') }}` / `{{ source('a','b') }}`
    * substitution: each placeholder resolves to a registered temp view
    * over the relation's live parquet, then Catalyst takes the whole
    * statement (parse→optimize→codegen). Mirrors the reference's
    * compile-then-execute (`lib.py:177-235`) with a template pass
    * instead of Jinja (SURVEY.md §4: no custom Rule warranted).
    */
  def executeSql(sql: String): DataFrame = {
    val refPat = raw"\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}".r
    val srcPat = raw"\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}".r
    var out = refPat.replaceAllIn(sql, m => {
      val name = m.group(1)
      val view = s"__graft_ref_$name"
      ref(name).createOrReplaceTempView(view)
      view
    })
    out = srcPat.replaceAllIn(out, m => {
      val (s0, t0) = (m.group(1), m.group(2))
      val view = s"__graft_src_${s0}_$t0"
      source(s0, t0).createOrReplaceTempView(view)
      view
    })
    spark.sql(out)
  }

  /** B13 — source freshness: max(loaded_at) lag vs now, seconds. */
  def sourceFreshnessSeconds(sourceName: String, tableName: String): Long = {
    val src = registry.source(sourceName, tableName)
    val field = src.loadedAtField.getOrElse(throw new IllegalStateException(
      s"source $sourceName.$tableName has no loaded_at field"))
    val maxTs = source(sourceName, tableName)
      .agg(max(col(field)).cast("long").as("t")).head().getLong(0)
    java.time.Instant.now().getEpochSecond - maxTs
  }

  /** B14 — listing surface. */
  def listModels: Seq[String] = registry.listModels.map(_.name)
  def listModelIds: Map[String, String] = registry.listModelIds
  def listSources: Seq[(String, String)] =
    registry.listSources.map(s => (s.sourceName, s.tableName))

  /** Hook-scoped view of the API with writes blocked (B11). */
  def forHook: FalApi = new FalApi(spark, registry, ledger,
    allowWrites = false, defer = defer)

  /** B13 — emit the dbt-format source-freshness artifact
    * (`sources.json`, the `FreshnessExecutionResultArtifact` shape the
    * reference parses at `integration/parse.py:161-173` and attaches to
    * sources as `FreshnessNodeOutput`, `project.py:193`): one result
    * per source that declares a `loaded_at` field, with pass/warn/error
    * judged against the thresholds. Each result is also recorded in the
    * run ledger.
    */
  def writeFreshnessArtifact(path: String,
      warnAfterSeconds: Long = 24 * 3600,
      errorAfterSeconds: Long = 48 * 3600): Unit = {
    val now = java.time.Instant.now()
    def iso(i: java.time.Instant): String =
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        i.truncatedTo(java.time.temporal.ChronoUnit.MICROS))
    val results = registry.listSources
      .filter(_.loadedAtField.isDefined)
      .map { src =>
        val secs = sourceFreshnessSeconds(src.sourceName, src.tableName)
        val status =
          if (secs > errorAfterSeconds) "error"
          else if (secs > warnAfterSeconds) "warn"
          else "pass"
        val uid = s"source.graft.${src.sourceName}.${src.tableName}"
        ledger.record(uid,
          if (status == "error") Status.Failure else Status.Success,
          s"freshness $status max_loaded_at_time_ago_in_s=$secs")
        s"""{"unique_id":${Json.str(uid)},"status":"$status",""" +
          s""""max_loaded_at":"${iso(now.minusSeconds(secs))}",""" +
          s""""snapshotted_at":"${iso(now)}",""" +
          s""""max_loaded_at_time_ago_in_s":$secs.0,""" +
          s""""criteria":{"warn_after":{"count":$warnAfterSeconds,""" +
          s""""period":"second"},"error_after":""" +
          s"""{"count":$errorAfterSeconds,"period":"second"}}}"""
      }
    val body = s"""{"metadata":{"generated_at":"${iso(now)}",""" +
      s""""dbt_schema_version":""" +
      s""""https://schemas.getdbt.com/dbt/sources/v3.json"},""" +
      s""""results":${results.mkString("[", ",", "]")},""" +
      s""""elapsed_time":0.0}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
    ()
  }
}

object FalApi {
  /** Marker file of a version written clustered: the catalog table
    * name, then (since round 3) the bucket count and the comma-joined
    * columns the FILES were written with. */
  private[api] val BucketMarker = "_bucketed_table"

  /** A version dir's bucket marker as `(catalog table, recorded bucket
    * spec)` — the one reader of the marker format, shared by the read,
    * in-place write, compaction and vacuum paths and by the
    * standing-model maintenance layer. None when the version was not
    * written bucketed; the spec is None for a pre-spec marker. The spec
    * is what the files actually have, independent of the model's
    * current meta or what is registered in this process.
    */
  private[graft] def bucketMarker(versionDir: String)
      : Option[(String, Option[(Int, Seq[String])])] = {
    val marker = FsIO.child(versionDir, BucketMarker)
    if (!FsIO.exists(marker)) None
    else {
      val lines = FsIO.readString(marker).trim.split("\n").toSeq
      Some((lines.head.trim,
        if (lines.size >= 3) Some((lines(1).trim.toInt, splitCols(lines(2))))
        else None))
    }
  }

  /** `df` with a row count attached, and a reader of that count for
    * after the next action over the returned frame has run: a write
    * counts its own rows (a `count(lit(1))` `Observation`), so nothing
    * re-reads the output to count it. The reader fails, instead of
    * waiting forever, when no action delivered the count.
    */
  private def countingRows(df: DataFrame): (DataFrame, () => Long) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")),
      () => Await.result(obs.future, 5.minutes).getLong(0))
  }

  /** A comma-joined column list (`bucket_by`, `partition_by`, the
    * marker's columns) as trimmed names. */
  private[api] def splitCols(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Parse a `sources.json` freshness artifact back to
    * unique_id → status — the consuming half of the round-trip (the
    * reference's `_map_nodes` keys `FreshnessNodeOutput`s by unique_id,
    * `project.py:413-420`).
    */
  def readFreshnessStatuses(path: String): Map[String, String] =
    Json.results(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)),
      "unique_id")
}

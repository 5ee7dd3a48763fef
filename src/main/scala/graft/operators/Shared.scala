package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-wide shared materializations built through the A-layer —
  * the "dbt `table` model feeding many downstreams" pattern: a
  * deterministic intermediate is written ONCE per corpus as a bucketed
  * model via [[graft.api.FalApi.writeToModel]] and every consumer
  * `ref()`s it, reading pre-clustered parquet whose bucket spec rides
  * the catalog table (no exchange on the bucketed key downstream).
  *
  * CATALOG-RESIDENT since r12 (VERDICT r11 item #1): standing models
  * live in a DURABLE per-corpus [[graft.api.Registry]] under
  * [[standingRoot]] — versioned dirs + atomic pointer swap, exactly the
  * machinery user models get — instead of per-process temp scratch.
  * Every materialization records a corpus-content FINGERPRINT
  * ([[fingerprint]]: input-table file listing + build-logic epoch +
  * bucket layout) in its pointer metadata; a resolve whose fingerprint
  * matches reads the existing parquet with ZERO rebuild (a restarted
  * process pays FS metadata ops, not a corpus re-ingest — cold start ≈
  * warm start), while a corpus rewrite or logic change triggers a
  * versioned overwrite + vacuum. [[graft.operators.StandingIngest]]
  * adds the third path: an arriving document batch APPENDS its
  * increment rows to the row-shaped standing models (O(batch), bucket-
  * aligned) and refreshes the fingerprint, so continual ingest never
  * rebuilds corpus-derived state.
  *
  * The reference's analogue is its durable-relation posture
  * (`lib.py:286-329` temp-table + rename): relations survive the
  * process; only this repo's E-layer indexes used to be process-bound.
  */
private[graft] object Shared {
  import graft.api.{FalApi, ModelDef, ModelKind, Registry, RunLedger}

  /** Build-logic epoch baked into every fingerprint: bump when ANY
    * standing build's SEMANTICS change (different rows for the same
    * corpus), so durable materializations written by older code rebuild
    * instead of serving stale rows. Layout-only knobs (bucket count)
    * are fingerprinted separately; per-model changes can ride a
    * `logicVersion` bump instead of a global epoch bump. The driver's
    * DuckDB oracle gate recomputes every query from raw corpus files,
    * so a forgotten bump surfaces as a hash mismatch there — this
    * constant is the first line, not the only one.
    */
  val LogicEpoch = "r14-1" // r14: wrapping MinHash modulus (2^31-1) +
  // planted mid-J paraphrase corpus — every text-dedup standing model's
  // rows changed for the same raw corpus

  /** Pointer-meta key carrying the corpus fingerprint of the state a
    * standing model was built from (or advanced to, for appends). */
  val FingerprintKey = "corpus_fingerprint"

  /** Resolved (corpus dir, model name) → the registry serving it: the
    * per-process cache over the durable catalog. Entries are trusted
    * without re-fingerprinting (corpus dirs are immutable for a
    * process's life except through [[invalidate]]'s callers).
    */
  private val built = scala.collection.concurrent
    .TrieMap.empty[(String, String), Registry]

  /** One Registry instance per storage root, so every model of a corpus
    * shares the same in-JVM swap locks. */
  private val registries = scala.collection.concurrent
    .TrieMap.empty[String, Registry]

  private val buildLocks = scala.collection.concurrent
    .TrieMap.empty[(String, String), Object]

  /** In-process hooks run by [[invalidate]] — memo layers derived from
    * standing models (every [[SessionMemo]], Similarity's IVF geometry)
    * register here so a fixture rewrite clears them in the same call. */
  private val invalidateHooks = new java.util.concurrent
    .ConcurrentLinkedQueue[String => Unit]()

  def onInvalidate(f: String => Unit): Unit = { invalidateHooks.add(f); () }

  /** Drop every in-process standing-model memo for `dir` — called by
    * each in-process fixture write site (DataGen) alongside
    * `Tables.invalidate` (ADVICE r11). The durable layer self-heals
    * through the fingerprint; this clears the process-local trust.
    */
  def invalidate(dir: String): Unit = {
    built.keys.filter(_._1 == dir).foreach(built.remove)
    tombstonesChanged(dir)
    invalidateHooks.forEach(f => f(dir))
  }

  /** A per-corpus-dir memo of a SESSION-BOUND value (trained frames
    * and their cached intermediates, a broadcast): an entry is handed
    * back only to the same live session (`eq`, not an identity hash —
    * hashes can be reused after a stopped session is GC'd) while the
    * optional `key` still matches; otherwise the value is recomputed
    * and replaces the entry. [[invalidate]] drops the dir's entry.
    * `release` runs on every dropped entry whose session is still
    * alive (e.g. `unpersist` its cached blocks, so repeated in-process
    * fixture rewrites don't accumulate orphaned InMemoryRelations).
    */
  final class SessionMemo[V](release: V => Unit = (_: V) => ()) {
    private val entries = scala.collection.concurrent.TrieMap
      .empty[String, (SparkSession, Any, V)]

    onInvalidate(drop)

    private def drop(dir: String): Unit =
      entries.remove(dir).foreach { case (owner, _, v) =>
        if (!owner.sparkContext.isStopped) release(v)
      }

    def apply(spark: SparkSession, dir: String, key: Any = None)(
        compute: => V): V =
      entries.get(dir) match {
        case Some((owner, k, v))
            if (owner eq spark) && k == key &&
              !owner.sparkContext.isStopped => v
        case _ =>
          drop(dir)
          val v = compute
          entries.put(dir, (spark, key, v))
          v
      }
  }

  /** Wall-clock cost of each standing model's first-touch BUILD this
    * process (fingerprint miss → full materialization), keyed by model
    * name. [[graft.Bench]] surfaces it as the `standing_models` block
    * of bench_detail.json; on a catalog-warm run this block is empty
    * and [[resolveSeconds]] carries the (near-zero) resolve costs —
    * the cold ≈ warm evidence the durable catalog exists to produce.
    */
  val buildSeconds = scala.collection.concurrent
    .TrieMap.empty[String, Double]

  /** Wall-clock cost of each catalog RESOLVE (fingerprint hit, zero
    * rebuild) this process, keyed by model name. */
  val resolveSeconds = scala.collection.concurrent
    .TrieMap.empty[String, Double]

  /** Number of full BUILDS per (dir, model) this process — the
    * zero-rebuild assertions in StandingIngestSpec count these. */
  private[graft] val buildCounts = scala.collection.concurrent
    .TrieMap.empty[(String, String), Long]

  /** Durable standing-model root: session conf `graft.standing.root`,
    * env `GRAFT_STANDING_ROOT`, else `standing_models/` under the
    * process working directory (the project checkout for sbt runs — on
    * a cluster, set the conf to a warehouse path; the Registry rides
    * the Hadoop FileSystem API so `s3a://…` works unchanged). The
    * sentinel value `scratch` restores the pre-r12 process-lifetime
    * temp-dir behavior (hermetic one-off runs).
    */
  private def configuredRoot(spark: SparkSession): String =
    spark.conf.getOption("graft.standing.root")
      .orElse(sys.env.get("GRAFT_STANDING_ROOT"))
      .getOrElse(new java.io.File("standing_models").getAbsolutePath)

  private lazy val scratchRoot: String =
    java.nio.file.Files.createTempDirectory("graft_standing_scratch")
      .toString

  /** Per-corpus namespace directory under the standing root: a readable
    * tail of the corpus path plus a full-path hash (two corpora with
    * the same basename never collide). */
  def namespaceDir(spark: SparkSession, dir: String): String = {
    val root = configuredRoot(spark) match {
      case "scratch" => scratchRoot
      case r => r
    }
    val tail = dir.split('/').filter(_.nonEmpty).takeRight(2)
      .mkString("_").replaceAll("[^A-Za-z0-9._-]", "_")
    val h = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir))
    s"$root/${tail}_$h"
  }

  private def registryFor(spark: SparkSession, dir: String): Registry =
    registries.getOrElseUpdate(namespaceDir(spark, dir),
      new Registry(namespaceDir(spark, dir)))

  /** Corpus-content fingerprint for a standing model: md5 over the
    * build-logic epoch, the model's `logicVersion`, its bucket layout,
    * and — per input table — the sorted (relative file path, length,
    * mtime) listing of `dir/<table>.parquet`. The listing is RECURSIVE
    * (ADVICE r12): object stores have no real directories, so a
    * partitioned/nested corpus layout whose new files land under
    * nested prefixes would not change a top-level listing — leaf files
    * are the only change signal that exists on every store. Pure
    * filesystem METADATA (no data read, no Spark job): any append,
    * rewrite, or regeneration of an input table changes the listing,
    * so a stale materialization can never satisfy a resolve. O(files)
    * via the same Hadoop FileSystem the Registry rides (one LIST per
    * directory level, no per-file stat).
    */
  def fingerprint(spark: SparkSession, dir: String,
      inputs: Seq[String], layout: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append(LogicEpoch).append('|')
    layout.foreach(l => sb.append(l).append('|'))
    val conf = spark.sessionState.newHadoopConf()
    inputs.sorted.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      sb.append(t).append('[')
      leafListing(p.getFileSystem(conf), p).foreach { case (n, len, mt) =>
        sb.append(n).append(':').append(len).append(':')
          .append(mt).append(';')
      }
      sb.append(']')
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** Every leaf file under `p` as sorted (path relative to the
    * qualified `p`, length, mtime) — one input table's part of
    * [[fingerprint]], walked by [[graft.api.FsIO.leafStatuses]]. */
  private[operators] def leafListing(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] = {
    val base = fs.makeQualified(p).toString
    graft.api.FsIO.leafStatuses(fs, p)(_ => true).map { s =>
      val full = s.getPath.toString
      (if (full.startsWith(base)) full.substring(base.length) else full,
        s.getLen, s.getModificationTime)
    }.sorted
  }

  private def bucketsOf(spark: SparkSession): String =
    spark.conf.get("spark.sql.shuffle.partitions", "32")

  /** The canonical fingerprint of standing model `name` for `dir`'s
    * CURRENT corpus state — one formula shared by the build, resolve,
    * and append paths so an append's advance is exactly what the next
    * resolve recomputes. `preferMarkerBuckets` (the APPEND/ADVANCE
    * paths) stamps the bucket count the FILES actually have (the
    * current version's marker) rather than this session's
    * shuffle-partitions conf: a maintenance process running a
    * different conf would otherwise commit a fingerprint no resolve in
    * the build conf ever matches, forcing a full rebuild on every cold
    * start. The BUILD/RESOLVE path keeps the session conf — a conf
    * change is an intentional re-layout and must rebuild.
    */
  private[operators] def modelFingerprint(spark: SparkSession,
      dir: String, name: String, bucketBy: String, inputs: Seq[String],
      logicVersion: String = "1",
      preferMarkerBuckets: Boolean = false): String = {
    val buckets = (if (preferMarkerBuckets) {
      registryFor(spark, dir).currentPath(name)
        .flatMap(FalApi.bucketMarker).flatMap(_._2).map(_._1.toString)
    } else None).getOrElse(bucketsOf(spark))
    // covered models salt in the tombstone state (Nil pre-retraction):
    // a retraction advances every covered fingerprint through the salt,
    // and a lost/foreign tombstone set fails the match → rebuild
    fingerprint(spark, dir, inputs,
      Seq(name, bucketBy, buckets, logicVersion) ++
        tombstoneSalt(spark, dir, name))
  }

  /** Trust (dir, name) as resolved in this process (called after an
    * incremental append commits its fingerprint advance). */
  private[operators] def markResolved(spark: SparkSession, dir: String,
      name: String): Unit = {
    built.put((dir, name), registryFor(spark, dir)); ()
  }

  // ---- retraction tombstones ([[StandingRetract]]) ----

  /** The shared deletion-tombstone model: one `doc_id` per retracted
    * document (raw ids plus the derived dedup-corpus ids), doc_id-
    * bucketed, appended by [[StandingRetract.retractDocBatch]].
    * REQUEST state, not corpus-derived: it is never rebuilt, and every
    * covered model's fingerprint salts in its pointer state
    * ([[tombstoneSalt]]) so a lost or rewritten tombstone set forces
    * covered models to rebuild instead of serving unfiltered rows.
    */
  private[operators] val TombstoneModel = "graft_deleted_docs"

  /** Standing models whose rows carry `doc_id` but whose BUCKET key
    * scatters one doc's rows across every bucket — physical deletion
    * would rewrite the whole model, so retraction is a resolution-time
    * anti-join against [[TombstoneModel]] plus a physical sweep at the
    * next compaction. doc_id-bucketed models take the O(affected-
    * buckets) physical path instead
    * ([[graft.api.FalApi.deleteFromBucketedModel]]), and additive
    * aggregates absorb negative partials — see [[StandingRetract]] for
    * the per-shape split.
    */
  private[operators] val TombstoneCovered: Set[String] = Set(
    "gram_starts_10", "doc_terms", "doc_shingles",
    "graft_lsh_band_index", "graft_simhash_sigs")

  /** The embeddings-side twin of [[TombstoneModel]]: one `vec_id` per
    * retracted embedding — a separate model because doc and vec id
    * spaces overlap. */
  private[operators] val VecTombstoneModel = "graft_deleted_vecs"

  /** Tombstone coverage: model name → (tombstone model, the covered
    * model's id column — `neighbor_id` on the IVF index, `vec_id`/
    * `doc_id` elsewhere). Docs-side coverage is the fixed
    * [[TombstoneCovered]] set; the embeddings-side standing models
    * carry corpus-derived geometry in their NAMES (K, band width), so
    * coverage matches by prefix. */
  private[operators] def tombSpecFor(name: String)
      : Option[(String, String)] =
    if (TombstoneCovered(name)) Some((TombstoneModel, "doc_id"))
    else if (name.startsWith("graft_ivf_index_"))
      Some((VecTombstoneModel, "neighbor_id"))
    else if (name.startsWith("graft_lsh_bands_b"))
      Some((VecTombstoneModel, "vec_id"))
    else None

  /** (dir, tombstone model) → whether it exists — memoized so the
    * common no-retraction case costs ZERO FS ops per resolution
    * (cleared by [[invalidate]] / [[tombstonesChanged]]; a retraction
    * by ANOTHER process is seen on this process's next cold resolve,
    * the same trust class as the `built` memo). */
  private val tombstonesPresent = scala.collection.concurrent
    .TrieMap.empty[(String, String), Boolean]

  /** Drop the per-process tombstone-presence memos for `dir` — called
    * by [[StandingRetract]] after appending ids. */
  private[operators] def tombstonesChanged(dir: String): Unit = {
    tombstonesPresent.keys.filter(_._1 == dir)
      .foreach(tombstonesPresent.remove)
  }

  private def hasTombstones(spark: SparkSession, dir: String,
      tomb: String): Boolean =
    tombstonesPresent.getOrElseUpdate((dir, tomb),
      registryFor(spark, dir).relationExists(tomb))

  /** The covering tombstone model's pointer state (version +
    * append_seq) as fingerprint-salt lines for covered models. EMPTY
    * when no retraction ever happened, keeping fingerprints
    * bit-identical to the pre-retraction formula — existing catalogs
    * never rebuild on upgrade. */
  private def tombstoneSalt(spark: SparkSession, dir: String,
      name: String): Seq[String] =
    tombSpecFor(name) match {
      case Some((tomb, _)) if hasTombstones(spark, dir, tomb) =>
        val reg = registryFor(spark, dir)
        val v = reg.currentVersion(tomb).getOrElse("")
        val seq = reg.pointerMeta(tomb).getOrElse("append_seq", "0")
        Seq(s"tombstones:$tomb:$v:$seq")
      case _ => Nil
    }

  /** Compaction's retraction sweep ([[StandingIngest.compactStanding]]):
    * covered models rewrite through the tombstone filter, physically
    * dropping retracted rows; identity for everything else. */
  private[operators] def retractionSweep(spark: SparkSession,
      dir: String, name: String): DataFrame => DataFrame =
    df => applyTombstones(spark, dir, name, df)

  /** Whether `name` indexes the DERIVED dedup corpus
    * ([[Dedup.corpusOf]] ids — originals plus offset truncation/clone
    * ids) rather than raw document ids. The two id spaces can collide
    * on a large corpus (the offsets are fixed), so each covered model
    * is filtered by exactly ITS space's tombstone rows. */
  private def derivedSpace(name: String): Boolean =
    name == "graft_lsh_band_index" || name == "graft_simhash_sigs"

  /** Resolution-time retraction filter: covered models anti-join the
    * (request-sized, broadcast) tombstone ids of their own id space;
    * identity when no retraction happened, so non-retraction
    * deployments plan bit-identically. The broadcast hash anti-join
    * preserves the child's bucketed output partitioning, so downstream
    * bucket-local aggregations/joins stay exchange-free. */
  private def applyTombstones(spark: SparkSession, dir: String,
      name: String, df: DataFrame): DataFrame =
    tombSpecFor(name) match {
      case Some((tomb, dfCol)) if hasTombstones(spark, dir, tomb) =>
        import org.apache.spark.sql.functions.{broadcast, col}
        val all = new FalApi(spark, registryFor(spark, dir),
          new RunLedger).ref(tomb)
        // the doc tombstone model carries raw AND derived ids in one
        // table, flagged by `derived` — see [[derivedSpace]]
        val spaced =
          if (tomb == TombstoneModel)
            all.filter(col("derived") === derivedSpace(name))
          else all
        val tombCol = if (tomb == TombstoneModel) "doc_id" else "vec_id"
        val ts = spaced.select(col(tombCol).as("graft_tomb_id"))
        df.join(broadcast(ts),
          df(dfCol) === col("graft_tomb_id"), "left_anti")
      case _ => df
    }

  /** `ref()` of the standing model `name` over corpus `dir`. Resolution
    * order: process memo → durable catalog (fingerprint match → read,
    * zero rebuild) → build + versioned write + vacuum. `inputs` names
    * the corpus tables the build reads (fingerprint scope);
    * `logicVersion` versions THIS model's build semantics without a
    * global epoch bump.
    */
  def model(spark: SparkSession, dir: String, name: String,
      bucketBy: String,
      build: (SparkSession, String) => DataFrame,
      extraMeta: Map[String, String] = Map.empty,
      inputs: Seq[String] = Seq("documents"),
      logicVersion: String = "1"): DataFrame = {
    val key = (dir, name)
    built.get(key) match {
      case Some(reg) => return applyTombstones(spark, dir, name,
        api(spark, reg, name, bucketBy, build, dir, extraMeta).ref(name))
      case None =>
    }
    val lock = buildLocks.getOrElseUpdate(key, new Object)
    lock.synchronized {
      if (!built.contains(key)) {
        val reg = registryFor(spark, dir)
        val a = api(spark, reg, name, bucketBy, build, dir, extraMeta)
        val fp = modelFingerprint(spark, dir, name, bucketBy, inputs,
          logicVersion)
        val t0 = System.nanoTime()
        val current = reg.relationExists(name) &&
          reg.pointerMeta(name).get(FingerprintKey).contains(fp)
        if (current) {
          resolveSeconds.put(name, (System.nanoTime() - t0) / 1e9)
        } else {
          a.writeToModel(build(spark, dir), name,
            pointerMeta = Map(FingerprintKey -> fp))
          // stale versions (old fingerprints) serve no reader: standing
          // models are cache, not history — keep only the live one
          a.vacuumModel(name, keep = 1)
          buildSeconds.put(name, (System.nanoTime() - t0) / 1e9)
          buildCounts.updateWith(key)(c => Some(c.getOrElse(0L) + 1L))
        }
        built.put(key, reg)
      }
    }
    applyTombstones(spark, dir, name,
      api(spark, built(key), name, bucketBy, build, dir, extraMeta)
        .ref(name))
  }

  /** `ref()` the CURRENT catalog state of a standing model WITHOUT the
    * fingerprint check — [[StandingIngest]]'s resolve while the corpus
    * dir is mid-append (batch files landed, standing increments not yet
    * applied, so the stored fingerprint is legitimately behind). None
    * when the model was never materialized for this corpus.
    */
  private[operators] def resolveExisting(spark: SparkSession,
      dir: String, name: String): Option[DataFrame] = {
    val reg = built.getOrElse((dir, name), registryFor(spark, dir))
    if (reg.relationExists(name))
      Some(applyTombstones(spark, dir, name,
        new FalApi(spark, reg, new RunLedger).ref(name)))
    else None
  }

  /** The FalApi + registered ModelDef for a standing model — also used
    * by [[StandingIngest]] to append through the same A-layer surface.
    */
  private[operators] def api(spark: SparkSession, reg: Registry,
      name: String, bucketBy: String,
      build: (SparkSession, String) => DataFrame, dir: String,
      extraMeta: Map[String, String] = Map.empty): FalApi = {
    if (reg.modelOpt(name).isEmpty)
      reg.register(ModelDef(name,
        ModelKind.Scala((s, _) => build(s, dir)),
        meta = Map("bucket_by" -> bucketBy,
          "buckets" -> bucketsOf(spark)) ++ extraMeta))
    new FalApi(spark, reg, new RunLedger)
  }

  /** The registry serving `dir`'s standing models (resolving through
    * the memo so tests and ingest see the same instance). */
  private[operators] def registryOf(spark: SparkSession,
      dir: String): Registry = registryFor(spark, dir)

  /** Record a fingerprint advance after an incremental append (the
    * appended rows make the standing state current for the NEW corpus
    * listing). */
  private[operators] def advanceFingerprint(spark: SparkSession,
      dir: String, name: String, inputs: Seq[String], bucketBy: String,
      logicVersion: String = "1"): Unit = {
    val reg = registryFor(spark, dir)
    val fp = modelFingerprint(spark, dir, name, bucketBy, inputs,
      logicVersion, preferMarkerBuckets = true)
    val cur = reg.currentPath(name).getOrElse(throw new IllegalStateException(
      s"standing model not materialized: $name"))
    reg.swapPointer(name, cur, Map(FingerprintKey -> fp),
      expectedVersion = reg.currentVersion(name))
    built.put((dir, name), reg)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Guard rails on the physical plans of representative queries — the
  * properties that make them viable at 100 TB. PLANS.md shows the full
  * plans as review evidence; this spec makes the load-bearing shapes
  * regression-checked: a change that silently drops a pushed filter,
  * broadcasts nothing, or full-sorts a top-k fails here, not at the
  * scale factor where it hurts.
  */
class PlanPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Builds a query the way the runners do: after clearing the caches
    * earlier queries (and earlier suites on the shared session) left
    * behind, so the plan never reads another query's cached frame. */
  private def query(name: String): DataFrame = {
    spark.sharedState.cacheManager.clearCache()
    SparkEntry.queries(name)(spark, dir)
  }

  private def plan(name: String): String =
    query(name).queryExecution.executedPlan.toString

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = plan("c3_filter")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"expected non-empty PushedFilters:\n${p.take(1500)}")
  }

  test("projection prunes the scan schema (column pruning)") {
    val p = plan("c2_project")
    // part has 9 columns; the query needs 3 — the scan must not read all
    assert("ReadSchema: [^\n]*p_partkey".r.findFirstIn(p).isDefined)
    assert(!p.contains("p_comment"), s"unpruned scan:\n${p.take(1500)}")
  }

  test("small dimension joins broadcast") {
    val p = plan("q5_analytic")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast joins in the star query:\n${p.take(1500)}")
  }

  test("top-k compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan("c13_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n${p.take(1500)}")
  }

  test("aggregations partial-aggregate map-side") {
    val p = plan("c8_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected partial aggregation:\n${p.take(1500)}")
  }

  test("the banded-LSH pair join never shuffles the corpus (bucketed " +
      "self-join; the only shuffle exchanges sit above the bounded " +
      "pair stream)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = query("dd_embedding_neardup_lsh")
      .queryExecution.executedPlan
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    val joins = all(root).collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"no pair join found:\n${root.toString.take(1500)}")
    for (j <- joins)
      assert(!all(j).exists(_.isInstanceOf[ShuffleExchangeLike]),
        "shuffle exchange under the banded pair join — the bucketed " +
          s"standing table must feed it in place:\n${j.toString.take(1500)}")
  }

  test("pair stages never degrade to a cartesian product") {
    for (name <- Seq("dd_embedding_neardup", "dd_ngram_jaccard",
        "dd_minhash_lsh", "dd_simhash", "sim_lsh_topk",
        "dd_embedding_neardup_lsh", "dd_embedding_neardup_resolve")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${p.take(1500)}")
    }
  }

  test("decontamination broadcasts the eval shingle set (corpus never shuffles for the probe)") {
    val p = plan("dd_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the eval side broadcast:\n${p.take(1500)}")
  }

  test("the banded LSH self-joins use shuffled hash joins (no sort)") {
    // r15: the banded spine moved into the standing lsh_rep_edges
    // build (VERDICT r14 #3 — shared across dd_minhash_lsh,
    // dd_minhash_resolve and dd_cluster_density), so the property is
    // pinned on the BUILD dataflow — the same repEdgesOf kernel the
    // model materializes — not on the consumer queries, which now
    // read the bucketed edge table.
    val rep = operators.Dedup.sigGroupsModel(spark, dir)
      .select((Seq("doc_id") ++ (1 to 16).map(i => s"s$i"))
        .map(org.apache.spark.sql.functions.col): _*)
    val p = operators.Dedup.repEdgesOf(rep)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin for the band join:\n${p.take(1500)}")
  }

  test("the hi-recall tier's scoring joins shuffle (never broadcast " +
      "the 128-long signature table — 8× wider rows, rep population " +
      "~ distinct docs, unbroadcastable at corpus scale)") {
    val p = plan("dd_minhash_hi")
    assert(p.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin in the hi tier:\n${p.take(1500)}")
    // the only legitimate broadcasts in this plan are request/label
    // sized (none in the pair listing); the sig table must not appear
    // under a BroadcastExchange
    assert(!p.contains("BroadcastHashJoin"),
      s"hi-tier sig scoring must not broadcast:\n${p.take(1500)}")
  }

  test("scrub reassembly joins the doc_id-bucketed corpus with no " +
      "exchange on the documents side (VERDICT r11 #4)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val root = query("dd_substring_scrub")
      .queryExecution.executedPlan
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    def isDocsScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table.contains("documents_by_doc")) &&
          f.relation.bucketSpec.isDefined
      case _ => false
    }
    def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
      if (isDocsScan(p)) Some(List(p))
      else kids(p).view.flatMap(pathTo).headOption.map(p :: _)
    val path = pathTo(root)
    assert(path.isDefined,
      s"doc_id-bucketed documents_by_doc scan not in the scrub plan:\n" +
        root.toString.take(2000))
    // the documents SIDE = the segment between the reassembly join and
    // the scan (the global sort above the join is the export contract,
    // not a corpus exchange)
    val side = path.get.reverse.takeWhile(p =>
      !p.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(side.nonEmpty && !side.exists(_.isInstanceOf[Exchange]),
      "exchange on the documents side of the scrub reassembly — the " +
        "bucketed corpus copy must feed the join in place:\n" +
        path.get.map(_.nodeName).mkString(" <- "))
  }

  /** Queries where a nested-loop/cross join is the intended plan: the
    * brute-force ANN baseline and centroid/scalar broadcasts (small
    * side is O(queries) or O(1) rows), the theta join (pure inequality
    * predicate has no hash key by definition), the prefix-sum bucket
    * offsets (triangular join over the tiny bucket-total table), and
    * the vocabulary share (1-row corpus-total broadcast), and the bloom
    * bit-set (1-row array broadcast probed map-side).
    */
  private val intendedNestedLoop = Set("sim_brute_topk", "sim_lsh_topk",
    "sim_ivf_topk", "sim_pq_topk", "sim_kmeans_step", "tx_tfidf",
    // incremental embedding dup probe: batch × K broadcast centroid
    // scoring (the same query-cell assignment sim_ivf_topk runs)
    "dd_embedding_incremental",
    // hard negatives: the same anchor × K broadcast cell assignment
    "sim_hard_negatives",
    // composed IVF-PQ probe: the same query × K broadcast centroid
    // scoring (ivfQueryCells) plus the 1-row stats scalar broadcast
    "sim_ivfpq_topk",
    "c7_join_theta", "q_range_join", "tx_token_budget", "tx_vocab",
    "tx_sample_temperature", "tx_pmi", "q_pagerank", "q_pagerank_fast",
    "q_bloom_join",
    "tx_dsir", // dsir: 1-row smoothing-totals broadcast into the λ table
    "cu_drift", // drift: 1-row totals broadcast into the 256-bucket table
    "q_chisq", // chisq: 1-row grand-total broadcast into the cell table
    "tx_bm25", // bm25: 1-row (N, total-dl) broadcast into the candidates
    // classifier trainer: 1-row median-threshold θ broadcast into the
    // per-doc margin table (the q_chisq scalar-join shape)
    "tx_classifier_train",
    // withGlobalNtile: P×P triangular pass over the P-row (P = shuffle
    // partitions) per-partition count table — a broadcast no-op
    "tx_ccnet_buckets", "q_rfm",
    // batched BPE keeper selection: the conservative non-interaction
    // rule is a ≤48-row candidate table anti-joined against its own
    // broadcast under a rank/interaction predicate — K×K bounded by
    // construction (K = 48) regardless of corpus size
    "tx_bpe_batch")

  /** Queries where a zero-partition (global) window is the intended
    * plan because its input is provably tiny at any corpus scale:
    * calendar-bounded daily series (≤ a few thousand rows regardless
    * of data volume: q_islands, d3_seasonal, d3_changepoint,
    * q_moving_corr, q_locf, d3_forecast, d3_anomaly), rank-limited
    * heads (tx_zipf_slope's top-1000 vocab slice, WindowGroupLimit-
    * guarded), and sub-aggregate tables with a hard row bound
    * (q_histogram's 10 buckets, q_degree_dist's distinct degrees,
    * tx_vocab's 31 rows, c5_date_spine's 30-day spine). Entity-sized
    * inputs (per-document, per-customer) must NOT appear here — that
    * is the single-partition scale killer withGlobalNtile exists for.
    */
  private val intendedGlobalWindow = Set(
    "q_islands", "d3_seasonal", "d3_changepoint", "d3_forecast",
    "q_moving_corr", "q_locf", "tx_zipf_slope",
    "q_histogram", "q_degree_dist", "tx_vocab", "c5_date_spine",
    // skyline: running min over the per-size aggregate — bounded by
    // the p_size domain (~50 rows), not the table
    "q_skyline",
    // gaps: lag over the per-bucket (min, max) summary — a 4096×
    // reduction of the distinct-key table (the raw keys only ever see
    // the bucket-keyed window)
    "q_gaps",
    // batched BPE keeper ranks: one row_number per iteration over the
    // ≤16-row kept-candidate table (post TakeOrdered(48) + anti-join +
    // limit) — bounded by the K/M constants at any corpus size.
    // Whether these windows are visible to the walk depends on cache
    // registry state (materialized kept frames plan as
    // InMemoryTableScan), so the whitelist entry keeps the guard
    // deterministic.
    "tx_bpe_batch")

  test("bucketed-model consumers aggregate in place (no exchange below the final agg)") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      // a .cache() boundary: the model scan lives in the cached plan
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children
    }
    // the bucketed scan is reachable without crossing a shuffle
    def scanNoExchange(p: SparkPlan, tbl: String): Boolean = p match {
      case _: Exchange => false
      case s: FileSourceScanExec => s.toString.contains(tbl)
      case other => kids(other).exists(scanNoExchange(_, tbl))
    }
    // a FINAL-mode aggregate sits directly over that shuffle-free
    // subtree — a partial agg over the scan with an exchange before
    // the final would mean the bucketing is NOT being used
    def finalAggInPlace(p: SparkPlan, tbl: String): Boolean = {
      val self = p match {
        case a: BaseAggregateExec
            if a.aggregateExpressions.exists(ae =>
              ae.mode == Final || ae.mode == Complete) =>
          a.children.exists(scanNoExchange(_, tbl))
        case _ => false
      }
      self || kids(p).exists(finalAggInPlace(_, tbl))
    }
    // q_cms_heavy is deliberately absent: its vocab rollup (the same
    // in-place shape tx_vocab pins) sits behind a .cache(), and once
    // another suite EXECUTES the query the cached relation's plan
    // finalizes into AQE query stages this walk cannot see through —
    // the structural check would depend on suite order.
    for ((name, tbl) <- Seq(
        "tx_hapax" -> "graft_doc_terms",
        "tx_vocab" -> "graft_doc_terms",
        "tx_bigram_lm" -> "graft_bigram_counts",
        "tx_bpe_apply" -> "graft_bpe_seg_3",
        "tx_boilerplate" -> "graft_doc_shingles")) {
      val p = query(name)
        .queryExecution.executedPlan
      assert(finalAggInPlace(p, tbl),
        s"$name: expected a final aggregate directly over the bucketed " +
          s"$tbl scan with no exchange between:\n${p.toString.take(1500)}")
    }
  }

  test("gram-family probes never shuffle the corpus-sized gram model") {
    // r11's standing-model promotion made every gram-keyed step
    // bucket-local: RAW gram_starts rows (the corpus-sized explode)
    // must never feed a shuffle directly — the only things allowed to
    // cross an exchange are AGGREGATED derivatives (the doc-keyed
    // partial aggregates, which are reduced before they move). The
    // guard asserts it for EVERY shuffle in the plan, not just one
    // lucky join: a dropped bucket spec or key-mangling refactor
    // reintroduces a raw-row exchange and fails here.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children
    }
    // true when raw (un-aggregated) rows of `tbl` reach this node
    def rawScanReaches(p: SparkPlan, tbl: String): Boolean = p match {
      case _: BaseAggregateExec => false // partials reduce before moving
      case s: FileSourceScanExec => s.toString.contains(tbl)
      case other => kids(other).exists(rawScanReaches(_, tbl))
    }
    def shuffledRawRows(p: SparkPlan, tbl: String): Boolean = {
      val self = p match {
        case sh: ShuffleExchangeLike => rawScanReaches(sh, tbl)
        case _ => false
      }
      self || kids(p).exists(shuffledRawRows(_, tbl))
    }
    for (name <- Seq("dd_substring", "dd_substring_scrub")) {
      val p = query(name)
        .queryExecution.executedPlan
      assert(!shuffledRawRows(p, "graft_gram_starts_10"),
        s"$name: raw gram_starts rows crossed a shuffle:\n" +
          p.toString.take(1500))
      // and the probe genuinely reads the standing model
      assert(rawScanReaches(p, "graft_gram_starts_10") ||
        p.toString.contains("graft_gram_starts_10"),
        s"$name no longer reads the standing gram model")
    }
  }

  test("no query plans a global (unpartitioned) window over unbounded input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def emptyPartWindows(p: SparkPlan): Int = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      self + kids.map(emptyPartWindows).sum
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = query(name)
      val n = emptyPartWindows(df.queryExecution.executedPlan)
      if (n > 0 && !intendedGlobalWindow(name)) Some(s"$name($n)") else None
    }
    assert(offenders.isEmpty,
      s"global windows on unbounded inputs in: $offenders")
  }

  /** Windows keyed ONLY by a handful-valued attribute (event type,
    * order status, language) put an entire key's population in one
    * task — fine over bounded aggregates, a scale killer over raw
    * tables (the q_window_dist / d3_anomaly class). Bounded-input
    * uses are whitelisted with their bound; anything new must
    * restructure via withRankBy / withRunningSums.
    */
  private val lowCardKeyCols =
    Set("event_type", "o_orderstatus", "lang", "l_returnflag", "source")
  // tx_mad_outliers (r14): its lang-keyed cumulative-count windows run
  // over the (lang, n_chars) HISTOGRAM — bounded by the value domain
  // (#langs × max document length), never the corpus — which is what
  // bought the query its one-pass form (69 → 28 Exchanges). Everything
  // else computes rank/top-1 without a low-cardinality-keyed window
  // (q_mode's struct-min argmax idiom).
  private val intendedLowCardWindow: Set[String] = Set("tx_mad_outliers")

  test("no query windows keyed only by a low-cardinality attribute") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def lowCardWindows(p: SparkPlan): Int = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.nonEmpty &&
          w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
            .subsetOf(lowCardKeyCols) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      self + kids.map(lowCardWindows).sum
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = query(name)
      val n = lowCardWindows(df.queryExecution.executedPlan)
      if (n > 0 && !intendedLowCardWindow(name)) Some(s"$name($n)") else None
    }
    assert(offenders.isEmpty,
      s"low-cardinality keyed windows in: $offenders")
  }

  test("multi-consumer upstreams resolve through shared bucketed models") {
    for ((name, tbl) <- Seq(
        "q_pagerank" -> "graft_edges_bipartite",
        "q_recursive_bfs" -> "graft_edges_bipartite",
        "q_degree_dist" -> "graft_edges_bipartite",
        "dd_resolve" -> "graft_doc_clusters_scored",
        "dd_incremental" -> "graft_lsh_band_index",
        // r15: the 16-perm consumers read the shared standing spine
        // (collapse + scored rep pairs) instead of re-deriving it
        "dd_minhash_lsh" -> "graft_lsh_sig_groups",
        "dd_minhash_lsh" -> "graft_lsh_rep_edges",
        "dd_minhash_resolve" -> "graft_lsh_rep_edges",
        "dd_minhash_resolve" -> "graft_lsh_sigs",
        "dd_ngram_jaccard" -> "graft_shingle_overlap",
        "dd_containment" -> "graft_shingle_overlap",
        "dd_cluster" -> "graft_shingle_overlap",
        "tx_perplexity" -> "graft_doc_perplexity",
        "tx_ccnet_buckets" -> "graft_doc_perplexity",
        "tx_tfidf" -> "graft_doc_terms",
        "tx_vocab" -> "graft_doc_terms",
        "tx_zipf_slope" -> "graft_doc_terms",
        "tx_hapax" -> "graft_doc_terms",
        "tx_pmi" -> "graft_doc_terms",
        "tx_pmi" -> "graft_bigram_counts",
        "tx_bigram_lm" -> "graft_bigram_counts",
        "tx_boilerplate" -> "graft_doc_shingles",
        "dd_contamination" -> "graft_doc_shingles",
        "tx_dsir" -> "graft_doc_terms",
        "q_cms_heavy" -> "graft_doc_terms",
        "q_sssp" -> "graft_edges_weighted",
        "dd_cluster_density" -> "graft_lsh_rep_edges")) {
      val p = plan(name)
      assert(p.contains(tbl),
        s"$name no longer reads the shared bucketed materialization " +
          s"$tbl:\n${p.take(1500)}")
    }
  }

  test("no query plans an unintended cartesian or nested-loop join") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name)
      val bad = p.contains("CartesianProduct") ||
        (p.contains("BroadcastNestedLoopJoin") &&
          !intendedNestedLoop(name))
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unintended quadratic join strategies in: $offenders")
  }

  /** Building a query returns a lazy plan: its Spark jobs run when the
    * caller acts on it, and its caches live until the caller's
    * per-query `clearCache()`. These three queries each cache a frame
    * they read several times; building them may run no job beyond
    * dd_cluster_density's union-find contraction.
    */
  test("query construction runs no Spark job") {
    val sc = spark.sparkContext
    // the first construction resolves (or builds) the standing models
    Seq("tx_pmi", "q_sssp", "dd_cluster_density").foreach(query)
    def constructionJobs(name: String): Seq[Int] = {
      val group = s"construct-$name"
      sc.setJobGroup(group, s"construct $name")
      try query(name)
      finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).toSeq
    }
    for (name <- Seq("tx_pmi", "q_sssp")) {
      val jobs = constructionJobs(name)
      assert(jobs.isEmpty, s"building $name ran Spark jobs $jobs")
    }
    // dd_cluster_density's cluster labels come from the union-find
    // contraction, which counts its star edges while it is built; a
    // job is attributed through the call stack of its SQL execution
    val jobs = constructionJobs("dd_cluster_density")
    val execs = spark.sharedState.statusStore.executionsList()
    val outside = jobs.filterNot { id =>
      execs.exists(e => e.jobs.contains(id) &&
        e.details.contains("Dedup$.connectedComponents"))
    }
    assert(outside.isEmpty,
      s"building dd_cluster_density ran jobs $outside outside the " +
        "union-find contraction")
  }
}

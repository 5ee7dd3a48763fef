package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans of representative queries,
  * committed as review evidence (pushdown, broadcast, partial
  * aggregation, codegen spans) without needing to run anything.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = GraftConf.session()

    val picks = Seq(
      "c8_agg" -> "pushdown + partial aggregation",
      "c6_join_left" -> "broadcast left join + rollup",
      "q5_analytic" -> "six-table join, broadcast dims",
      "c13_topk" -> "TakeOrderedAndProject (no full sort)",
      "dd_embedding_neardup" -> "codegen'd dot product in the pair stage",
      "dd_embedding_neardup_ivf" -> "standing cell-bucketed IVF index: exchange-free blocked self-join",
      "dd_embedding_neardup_lsh" -> "standing band-key-bucketed LSH table (fixed cell population): exchange-free banded self-join",
      "dd_embedding_neardup_resolve" -> "bounded-output near-dup resolve: distinct-embedding collapse (one shuffle on the raw vector), banded pairs among reps only, union-find contraction, broadcast label join back",
      "dd_embedding_incremental" -> "batch broadcast into the standing IVF index: corpus never shuffles",
      "e1_tumbling_native" -> "event-time window aggregation",
      "dd_minhash_lsh" -> "standing bucketed signature model + distinct-sig collapse + shuffled-hash band join",
      "dd_minhash_hi" -> "production-recall tier: 128-long standing signature model, 32-band collapse, ALL scoring joins shuffled (sig rows too wide to broadcast at corpus scale)",
      "dd_cluster_density" -> "degree-ordered triangle orientation over the signature-collapsed evidence graph (arc joins + broadcast label join; no wedge dedup pass)",
      "dd_ngram_jaccard" -> "standing doc_a-bucketed overlap model, map-side score",
      "sim_ivf_topk" -> "Lloyd-refined centroids (quantized-sum agg) + broadcast assignment + cell-key join",
      "sim_pq_topk" -> "sample-trained PQ codebook: quantized-mean agg, broadcast codebook, corpus never moves",
      "sim_ivfpq_topk" -> "composed IVF-PQ probe: cell-bucketed standing code table, broadcast query cells + ADC tables, nprobe/K of the codes scanned and nothing else moves",
      "tx_tfidf" -> "standing term-bucketed doc_terms model + broadcast scalar N",
      "tx_boilerplate" -> "standing shingle-bucketed model: span-freq agg + join back, both exchange-free",
      "q_asof_join_native" -> "custom AsOfJoinExec: co-partitioned merge pass",
      "q_pagerank" -> "3 power iterations over the shared src-bucketed edge model (no edge-side exchange)",
      "sim_kmeans_step" -> "broadcast centroids, WindowGroupLimit argmin",
      "q_recursive_bfs" -> "iterative frontier BFS over the shared bucketed edge model",
      "q_sssp" -> "4 Bellman-Ford rounds: node-sized distance table hash-joined against the weighted src-bucketed edge model, min-agg per round",
      "e10_paths" -> "in-row path assembly, TakeOrderedAndProject head",
      "tx_pack" -> "shard-keyed running-total window (sequence packing)",
      "tx_ccnet_buckets" -> "standing LM-scored doc model + distributed exact ntile (range-part + pid-keyed window + broadcast offsets)",
      "q_rfm" -> "three chained distributed ntile(4) passes, no global window",
      "q_window_dist" -> "rank-derived distribution functions, no status-keyed window",
      "d3_anomaly" -> "withRunningSums prefixes + (type, rank-51) lag join, no type-keyed window",
      "dd_substring_scrub" -> "standing gh-bucketed gram model: bucket-local doc-freq agg + dup semi-join (zero gram-keyed exchange), reassembly against the doc_id-bucketed standing corpus copy (no exchange on the documents side)",
      "tx_bpe_batch" -> "12x16 batched BPE merge table: an it-bucketed standing-model scan + sort (training, one narrow fold per round, is the model's build)",
      "tx_bpe_apply" -> "term-bucketed standing BPE segmentation: bucket-local per-term rollup, corpus never touched",
      "tx_bpe_deep" -> "production-depth phrase merge table: a pure it-bucketed standing-model scan + sort (training is an ingest-time build, zero query-time jobs beyond the read)",
      "tx_bpe_deep_apply" -> "doc-bucketed standing deep segmentation: bucket-local per-doc rollup, corpus and trainer never touched at query time",
      "mm_frame_dedup" -> "frame-level cross-video dedup: metadata explode, hash dies into the group key, one O(1)-state agg",
      "sim_hard_negatives" -> "standing IVF index probe + codegen'd band predicate, corpus never moves")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by " +
      "graft.PlanDump at " + sfDir + ")\n\n")
    sb.append("Regenerate: `sbt \"runMain graft.PlanDump\"`. What to " +
      "look for: `PushedFilters`/`ReadSchema` on scans (pushdown + " +
      "pruning), `BroadcastHashJoin` for dims, paired partial/final " +
      "`HashAggregate`, `TakeOrderedAndProject` for top-k, and " +
      "`WholeStageCodegen` spans covering the hot expressions.\n")
    picks.foreach { case (name, why) =>
      // each query's scope drops its caches, so no plan reads another
      // query's cached frame
      val (plan, _) = SparkEntry.run(spark, name, sfDir)(
        _.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      sb.append(s"\n## $name — $why\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"WROTE=$out")
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 corpus-statistics operators (driver-mandated §2e surface,
  * extending [[TextAnalysis]]): Zipf-law fit, pointwise mutual
  * information, a C4-style composite quality gate, and per-source
  * lexical-richness profiles. All oracle-checked: counts are exact
  * integers, ratios are single double divisions with identical operand
  * bits in both engines, and every logarithm is rounded before use
  * (ln differs by ≤1 ulp across libm implementations — round(…, 6)
  * collapses the gap; sums of logs go through high-scale decimals so
  * reduction order cannot matter).
  */
object TextAnalysis2 extends QueryPack {

  import TextAnalysis.tokens

  private val sqlToks =
    "list_filter(string_split_regex(text, '\\s+'), w -> w != '')"

  /** E7 (extension) — Zipf-law exponent of the corpus: least-squares
    * slope of ln(freq) on ln(rank) over the top-1000 vocabulary. The
    * health check every pretraining corpus gets — natural text sits
    * near slope −1; a synthetic or boilerplate-heavy corpus drifts.
    *
    * Scale: term totals roll up from the standing doc_terms model
    * (term-bucketed — no exchange, no corpus pass); ranking and
    * regression run over at most 1000 rows on one post-agg partition.
    */
  def txZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val byFreq = Window.orderBy(col("cnt").desc, col("term"))
    val ranked = TextAnalysis.docTerms(spark, dir)
      .groupBy("term").agg(sum(col("cnt")).as("cnt"))
      .withColumn("rank", row_number().over(byFreq))
      .filter(col("rank") <= 1000)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked
      .agg(count(lit(1)).as("n"), lsum(col("x")).as("sx"),
        lsum(col("y")).as("sy"), lsum(col("x") * col("x")).as("sxx"),
        lsum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_terms"),
        round(olsSlope(col("n"), col("sx"), col("sy"), col("sxx"),
          col("sxy")), 6).as("zipf_slope"),
        round(olsIntercept(col("n"), col("sx"), col("sy"), col("sxx"),
          col("sxy")), 6).as("zipf_intercept"))
  }

  /** E7 (extension) — pointwise mutual information of adjacent word
    * pairs: PMI = ln(p(xy) / (p(x)p(y))), bigrams with support ≥ 5,
    * top 20. The collocation detector feeding tokenizer-merge and
    * phrase-mining passes.
    *
    * Scale: zero corpus passes — unigram totals roll up from the
    * standing doc_terms model and the bigram table IS the standing
    * bigram_counts model; the PMI join streams the bigram table
    * against the broadcast unigram table (vocabulary ≪ corpus);
    * top-k is one TakeOrderedAndProject.
    */
  def txPmi(spark: SparkSession, dir: String): DataFrame = {
    // ONE unigram rollup instead of three (opt guide §1.2): the r14
    // shape evaluated `uni` — a full hash aggregation over the
    // corpus-sized doc_terms model — once per consumer (the n_uni
    // total and BOTH broadcast sides re-planned it), so the dominant
    // cost was three identical passes over the model. The rollup is
    // vocabulary-sized (the sanctioned cache class), so cache it.
    // Measured: 3.03 s → (see OPTIMIZATION_r15) at local[32] sf0.1.
    val uni = TextAnalysis.docTerms(spark, dir)
      .groupBy("term").agg(sum(col("cnt")).as("c1")).cache()
    val bi = TextAnalysis.bigramCounts(spark, dir)
      .withColumnRenamed("cnt", "c12")
    val totals = uni.agg(sum(col("c1")).as("n_uni")).crossJoin(
      bi.agg(sum(col("c12")).as("n_bi")))
    val dN = col("n_uni").cast("double")
    val dM = col("n_bi").cast("double")
    bi.filter(col("c12") >= 5)
      .join(broadcast(uni.withColumnRenamed("term", "w1")
        .withColumnRenamed("c1", "cx")), Seq("w1"))
      .join(broadcast(uni.withColumnRenamed("term", "w2")
        .withColumnRenamed("c1", "cy")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / dM) /
          ((col("cx").cast("double") / dN) *
            (col("cy").cast("double") / dN))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** E7/E9 — C4-style composite quality gate: word-count bounds, mean
    * word length bounds, stopword floor, repetition ceiling; each doc
    * keeps or carries its first failing rule as the reject reason —
    * the audit-friendly shape (reason histograms show which rule eats
    * the corpus). Pure per-row projection: map-only at any scale.
    */
  def txC4Filters(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        aggregate(transform(col("w"), x => length(x)), lit(0),
          (acc, v) => acc + v).cast("double").as("sum_wlen"),
        size(filter(col("w"), x =>
          x.isin(stops.map(s => s: Any): _*))).cast("double").as("n_stop"),
        size(array_distinct(col("w"))).cast("double").as("n_distinct"))
      .select(col("doc_id"), col("n_words"),
        (col("sum_wlen") / col("n_words").cast("double")).as("mean_wlen"),
        (col("n_stop") / col("n_words").cast("double")).as("stop_ratio"),
        (col("n_distinct") / col("n_words").cast("double"))
          .as("distinct_ratio"))
    scored
      .withColumn("reason",
        when(col("n_words") < 25, "too_short")
          .when(col("n_words") > 150, "too_long")
          .when(col("mean_wlen") < 2.0 || col("mean_wlen") > 8.0,
            "word_length")
          .when(col("stop_ratio") < 0.02, "no_stopwords")
          .when(col("distinct_ratio") < 0.35, "repetitive")
          .otherwise("keep"))
      // the three ratios are single divisions of exact integer counts,
      // emitted RAW: identical bits in both engines, while round(·, 6)
      // lands dyadic rationals (n_words = 128 etc.) on half-way points
      // where Spark HALF_UP and DuckDB nearbyint disagree
      .select(col("doc_id"), col("n_words"),
        col("mean_wlen"), col("stop_ratio"), col("distinct_ratio"),
        (col("reason") === "keep").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** E7/E9 — per-source lexical richness: vocabulary size, token count,
    * hapax legomena, type-token ratio. The per-slice profile that
    * drives source-mixing decisions (a source whose TTR collapses is
    * boilerplate; one that's all hapaxes is noise).
    *
    * Scale: both aggregations roll up from the standing doc_terms
    * model — term-bucketed, so the (source, term) and source
    * aggregations run with no corpus pass and no first exchange.
    */
  def txHapax(spark: SparkSession, dir: String): DataFrame = {
    TextAnalysis.docTerms(spark, dir)
      .groupBy("source", "term").agg(sum(col("cnt")).as("cnt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        sum((col("cnt") === 1).cast("long")).as("n_hapax"))
      // raw integer-operand quotients (the tx_classifier idiom): bitwise
      // identical across engines; round(·, 6) would land dyadic rationals
      // on half-way points where HALF_UP and nearbyint disagree
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        (col("n_types").cast("double") /
          col("n_tokens").cast("double")).as("ttr"),
        (col("n_hapax").cast("double") /
          col("n_types").cast("double")).as("hapax_share"))
      .orderBy("source")
  }

  /** E7/E9 — CCNet-style perplexity bucketing: rank every document by
    * its bigram-LM fluency score and cut the corpus into head / middle
    * / tail terciles — the partition CCNet feeds to downstream mixing
    * (keep head, subsample middle, drop tail). Per-bucket diagnostics
    * let the mixing policy be tuned from one table.
    *
    * Scale: the per-doc scores come from the shared linear perplexity
    * pipeline; bucketing uses [[withGlobalNtile]] — the two-phase
    * prefix-sum rank, range-partitioned, never a single-partition
    * window — so the corpus-sized score table shards across the
    * cluster while the result stays bit-identical to `ntile(3)`.
    */
  def txCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    withGlobalNtile(TextAnalysis.perplexityPerDoc(spark, dir), 3,
        "bucket", col("avg_nll"), col("doc_id"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        // raw quotient of an exact decimal sum over an exact count —
        // identical bits in both engines, no half-way rounding hazard
        (sum(col("avg_nll").cast(DecimalType(28, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_nll"),
        min(col("avg_nll")).as("min_nll"),
        max(col("avg_nll")).as("max_nll"))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_ccnet_buckets" -> txCcnetBuckets _,
    "tx_zipf_slope" -> txZipfSlope _,
    "tx_pmi" -> txPmi _,
    "tx_c4_filters" -> txC4Filters _,
    "tx_hapax" -> txHapax _)

  val oracles: Map[String, String] = Map(
    "tx_ccnet_buckets" -> s"""
      WITH ${TextAnalysis.sqlPerplexityCtes},
      ranked AS (
        SELECT *, CAST(ntile(3) OVER (ORDER BY avg_nll, doc_id)
                  AS BIGINT) AS bucket
        FROM ppl
      )
      SELECT bucket, count(*) AS n_docs,
             CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(avg_nll AS DECIMAL(28,6))) AS DOUBLE) /
               CAST(count(*) AS DOUBLE) AS mean_nll,
             min(avg_nll) AS min_nll,
             max(avg_nll) AS max_nll
      FROM ranked GROUP BY bucket ORDER BY bucket""",
    "tx_zipf_slope" -> s"""
      WITH terms AS (SELECT unnest($sqlToks) AS term FROM documents),
      vc AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
      ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, term)
                 AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM vc
        QUALIFY row_number() OVER (ORDER BY cnt DESC, term) <= 1000
      ),
      s AS (
        SELECT count(*) AS n, ${sqlLsum("x")} AS sx, ${sqlLsum("y")} AS sy,
               ${sqlLsum("x * x")} AS sxx, ${sqlLsum("x * y")} AS sxy
        FROM ranked
      )
      SELECT n AS n_terms,
             round(${sqlOlsSlope("n", "sx", "sy", "sxx", "sxy")}, 6)
               AS zipf_slope,
             round(${sqlOlsIntercept("n", "sx", "sy", "sxx", "sxy")}, 6)
               AS zipf_intercept
      FROM s""",
    "tx_pmi" -> s"""
      WITH toks AS (SELECT $sqlToks AS w FROM documents),
      uni AS (
        SELECT unnest(w) AS term FROM toks
      ),
      uc AS (SELECT term, count(*) AS c1 FROM uni GROUP BY term),
      bi AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM toks, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
      ),
      bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
      tot AS (
        SELECT (SELECT sum(c1) FROM uc) AS n_uni,
               (SELECT sum(c12) FROM bc) AS n_bi
      )
      SELECT w1, w2, c12,
             round(ln((CAST(c12 AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
                      ((CAST(ux.c1 AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
                       (CAST(uy.c1 AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6)
               AS pmi
      FROM bc
      JOIN uc ux ON bc.w1 = ux.term
      JOIN uc uy ON bc.w2 = uy.term
      CROSS JOIN tot
      WHERE c12 >= 5
      ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "tx_c4_filters" -> s"""
      WITH scored0 AS (
        SELECT doc_id, $sqlToks AS w FROM documents
      ),
      scored AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               (CAST(list_sum(list_transform(w, x -> length(x)))
                  AS DOUBLE) / CAST(len(w) AS DOUBLE)) AS mean_wlen,
               (CAST(len(list_filter(w, x -> x IN
                  ('the','a','of','and','to','in','is'))) AS DOUBLE) /
                  CAST(len(w) AS DOUBLE)) AS stop_ratio,
               (CAST(len(list_distinct(w)) AS DOUBLE) /
                  CAST(len(w) AS DOUBLE)) AS distinct_ratio
        FROM scored0
      ),
      flagged AS (
        SELECT *,
               CASE WHEN n_words < 25 THEN 'too_short'
                    WHEN n_words > 150 THEN 'too_long'
                    WHEN mean_wlen < 2.0 OR mean_wlen > 8.0
                      THEN 'word_length'
                    WHEN stop_ratio < 0.02 THEN 'no_stopwords'
                    WHEN distinct_ratio < 0.35 THEN 'repetitive'
                    ELSE 'keep' END AS reason
        FROM scored
      )
      SELECT doc_id, n_words, mean_wlen, stop_ratio, distinct_ratio,
             (reason = 'keep') AS keep, reason
      FROM flagged ORDER BY doc_id""",
    "tx_hapax" -> s"""
      WITH terms AS (
        SELECT source, unnest($sqlToks) AS term FROM documents
      ),
      st AS (
        SELECT source, term, count(*) AS cnt FROM terms
        GROUP BY source, term
      ),
      agg AS (
        SELECT source, count(*) AS n_types,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax
        FROM st GROUP BY source
      )
      SELECT source, n_types, n_tokens, n_hapax,
             CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS ttr,
             CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
               AS hapax_share
      FROM agg ORDER BY source""")
}

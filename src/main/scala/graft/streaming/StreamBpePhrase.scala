package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation2

/** Streaming tokenization under the PRODUCTION-DEPTH phrase tokenizer
  * (`tx_bpe_deep`'s ≥1,000-merge model) — the serving shape a trained
  * BPE actually deploys: the learned merge table (vocabulary-sized,
  * ~1–2k rows) broadcasts once, and each document tokenizes in ONE
  * local pass on its executor — a left-to-right fold of the merges in
  * learned (it, mrank) order over the doc's word stream, the same fold
  * the trainer applies each round's merges with. The fold IS the
  * tokenizer ([[BpeFold]], the kernel [[StreamBpe]] and
  * [[StreamBpeDeep]] serve with too, per word
  * instead of per document): it costs O(doc · relevant merges) CPU
  * with zero shuffles and zero per-iteration Spark jobs (replaying the
  * 84 iteration batches as jobs would pay ~84 job latencies per
  * micro-batch).
  *
  * Batch ≡ batch-apply by construction: docs from the training sample
  * reproduce the standing `tx_bpe_deep_apply` segmentation row-for-row,
  * and novel docs land on the independent reference fold
  * (StreamBpePhraseSpec pins both).
  *
  * Scale: the driver reads the trained merge table once per process
  * (a bounded, vocabulary-sized artifact — the same posture as
  * broadcasting trained centroids/codebooks) and broadcasts it; each
  * micro-batch is then a single narrow mapPartitions. At 100 TB the
  * merge table is still ~32k rows — serving cost is per-token CPU on
  * the executors, which is what a production tokenizer costs.
  */
object StreamBpePhrase {

  private val merges =
    new BpeFold.Table(Curation2.bpePhrase.merges, "it", "mrank")

  /** Tokenize ONE micro-batch of (doc_id, text) rows at full phrase
    * depth: per document, its word count, deep token count, and the
    * '|'-joined segmentation (the `tx_bpe_deep_apply` row shape plus
    * n_words). Runs per micro-batch under [[StreamOps.eachBatch]]. */
  def tokenizeBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = merges(spark, dir)
    batchDocs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val table = bc.value
        it.map { case (id, text) =>
          // split(" ", -1): keep trailing empties — the exact twin of
          // the trainer's SQL split(text, ' ')
          val words = text.split(" ", -1)
          val seq = BpeFold.tokenize(words, table)
          (id, words.length.toLong, seq.length.toLong, seq.mkString("|"))
        }
      }
      .toDF("doc_id", "n_words", "n_tokens", "segmentation")
      .orderBy("doc_id")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Curation2, Shared}

/** Streaming tokenization under the PRODUCTION-DEPTH phrase tokenizer
  * (`tx_bpe_deep`'s ≥1,000-merge model) — the serving shape a trained
  * BPE actually deploys: the learned merge table (vocabulary-sized,
  * ~1–2k rows) broadcasts once, and each document tokenizes in ONE
  * local pass on its executor — a left-to-right fold of the merges in
  * learned (it, mrank) order over the doc's word stream, the exact
  * sequential-fold semantics the trainer's batched apply is spec-pinned
  * equal to. No dictionary is needed at this depth: the fold IS the
  * tokenizer, it costs O(doc · relevant merges) CPU with zero
  * shuffles and zero per-iteration Spark jobs (replaying the 84
  * iteration batches as jobs — StreamBpeDeep's shape for the
  * word-level model — would pay ~84 job latencies per micro-batch).
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

  /** The learned merges in fold order, broadcast once per (session,
    * corpus). Rebuilt when the session changes (broadcasts are
    * session-bound) — the standing catalog makes the re-read ~ms. */
  private val mergeCache = new Shared.SessionMemo[
    org.apache.spark.broadcast.Broadcast[Array[(String, String, String)]]]

  private def mergesFor(spark: SparkSession, dir: String)
      : org.apache.spark.broadcast
        .Broadcast[Array[(String, String, String)]] =
    mergeCache(spark, dir) {
      val ordered = Curation2.bpePhraseMerges(spark, dir)
        .orderBy("it", "mrank")
        .select("left_sym", "right_sym", "merged")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      spark.sparkContext.broadcast(ordered)
    }

  /** One left-to-right application of merge (l, r) → m over a symbol
    * sequence — the reference sequential-fold step (BpeScrubSpec's
    * oracle-side rule; non-overlapping by construction because the
    * fold consumes its own output left to right). */
  private[streaming] def foldMerge(seq: Vector[String], l: String,
      r: String, m: String): Vector[String] =
    seq.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ m
      else acc :+ s
    }

  /** Tokenize a word stream under the ordered merge table: fold every
    * merge in learned order, skipping merges whose operands are not in
    * the sequence's live symbol set (a no-op fold — the skip changes
    * nothing but the CPU bill, which it cuts from all ~1–2k merges to
    * the handful relevant to one document). */
  private[streaming] def tokenize(words: Vector[String],
      merges: Array[(String, String, String)]): Vector[String] = {
    var seq = words
    var live = words.toSet
    var i = 0
    while (i < merges.length && seq.size > 1) {
      val (l, r, m) = merges(i)
      if (live.contains(l) && live.contains(r)) {
        val next = foldMerge(seq, l, r, m)
        if (next.size != seq.size) {
          seq = next
          live = seq.toSet
        }
      }
      i += 1
    }
    seq
  }

  /** Tokenize ONE micro-batch of (doc_id, text) rows at full phrase
    * depth: per document, its word count, deep token count, and the
    * '|'-joined segmentation (the `tx_bpe_deep_apply` row shape plus
    * n_words). Also the foreachBatch kernel for [[attach]]. */
  def tokenizeBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = mergesFor(spark, dir)
    batchDocs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val merges = bc.value
        it.map { case (id, text) =>
          // split(" ", -1): keep trailing empties — the exact twin of
          // the trainer's SQL split(text, ' ')
          val words = text.split(" ", -1).toVector
          val seq = tokenize(words, merges)
          (id, words.size.toLong, seq.size.toLong, seq.mkString("|"))
        }
      }
      .toDF("doc_id", "n_words", "n_tokens", "segmentation")
      .orderBy("doc_id")
  }

  /** Attach the phrase tokenizer to a (doc_id, text) stream via
    * foreachBatch; `sink` receives each micro-batch's (doc_id,
    * n_words, n_tokens, segmentation) rows. Caller adds
    * checkpointing/trigger options and starts. */
  def attach(spark: SparkSession, dir: String, docs: DataFrame)(
      sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(tokenizeBatch(spark, dir, batch))
    }
}

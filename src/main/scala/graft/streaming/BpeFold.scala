package graft.streaming

import scala.collection.immutable.HashSet

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Shared

/** The one BPE kernel, shared by training and serving: a merge table
  * folded over each symbol sequence in one local pass. The trainer
  * ([[graft.operators.Curation2.BpeTrainer]]) folds each round's kept
  * merges over every training sequence; the three streaming tokenizers
  * broadcast a learned table once per (session, corpus) in (it, mrank)
  * order and fold it over each arriving sequence — no Spark job per
  * merge round. A round's kept pairs never cross-chain or collide, so
  * folding them in rank order equals applying them simultaneously, the
  * rule the DuckDB oracle replays as chain-parity windows.
  */
private[graft] object BpeFold {
  type Merges = Broadcast[Array[(String, String, String)]]

  /** One standing merge table, broadcast in fold order. Each table
    * needs its own instance: a [[Shared.SessionMemo]] keeps one entry
    * per dir, so two tables sharing one memo would evict each other.
    * Rebuilt when the session changes (broadcasts are session-bound);
    * the standing catalog makes the re-read ~ms. */
  final class Table(read: (SparkSession, String) => DataFrame,
      order: String*) {
    private val memo = new Shared.SessionMemo[Merges]

    def apply(spark: SparkSession, dir: String): Merges =
      memo(spark, dir) {
        val ordered = read(spark, dir)
          .orderBy(order.map(col): _*)
          .select("left_sym", "right_sym", "merged")
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        spark.sparkContext.broadcast(ordered)
      }
  }

  /** One left-to-right application of merge (l, r) → m over a symbol
    * sequence — the reference sequential-fold step (BpeScrubSpec's
    * oracle-side rule): scan left to right, and an (l, r) pair merges
    * and is consumed, so occurrences never overlap. */
  private def foldMerge(seq: Array[String], l: String, r: String,
      m: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < seq.length) {
      val pair = i + 1 < seq.length && seq(i) == l && seq(i + 1) == r
      out += (if (pair) m else seq(i))
      i += (if (pair) 2 else 1)
    }
    out.result()
  }

  /** Tokenize a symbol sequence under the ordered merge table: fold
    * every merge in learned order, skipping merges whose operands are
    * not in the sequence's live symbol set (a no-op fold — the skip
    * changes nothing but the CPU bill, which it cuts from the whole
    * table to the handful of merges relevant to one sequence). Arrays
    * and one concrete set class keep every call site monomorphic
    * whether the JVM folds short words, long documents, or both. */
  def tokenize(symbols: Array[String],
      merges: Array[(String, String, String)]): Array[String] = {
    var seq = symbols
    var live = HashSet.from(symbols)
    var i = 0
    while (i < merges.length && seq.length > 1) {
      val (l, r, m) = merges(i)
      if (live.contains(l) && live.contains(r)) {
        val next = foldMerge(seq, l, r, m)
        if (next.length != seq.length) {
          seq = next
          live = HashSet.from(seq)
        }
      }
      i += 1
    }
    seq
  }

  /** A word's initial symbols: its Unicode code points, the unit
    * Spark's `length`/`substr` count (the trainers split terms that
    * way), so a non-BMP character is one symbol, not two UTF-16
    * chars. */
  private def codePoints(word: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      b += word.substring(i, i + n)
      i += n
    }
    b.result()
  }

  /** Character-level tokenization of a (doc_id, text) batch: per
    * document, its word count and its token count under `bc`. Words
    * are the non-empty pieces of `split(text, ' ')`; each word folds
    * on its own (merges never cross a word), and a partition tokenizes
    * each distinct word once. One row per distinct doc_id with counts
    * summed over duplicate rows, (0, 0) for null or wordless text,
    * ordered by doc_id. */
  def wordTokens(batchDocs: DataFrame, bc: Merges): DataFrame = {
    val docs = batchDocs.select(col("doc_id"), col("text"))
    val out = StructType(Seq(docs.schema("doc_id"),
      StructField("n_words", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false)))
    docs
      .mapPartitions { rows =>
        val merges = bc.value
        val perWord = scala.collection.mutable.HashMap.empty[String, Long]
        rows.map { r =>
          val words =
            if (r.isNullAt(1)) Array.empty[String]
            else r.getString(1).split(" ", -1).filter(_.nonEmpty)
          val tokens = words.iterator.map(w => perWord.getOrElseUpdate(w,
            tokenize(codePoints(w), merges).length.toLong)).sum
          Row(r.get(0), words.length.toLong, tokens)
        }
      }(Encoders.row(out))
      .groupBy("doc_id")
      .agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
      .orderBy("doc_id")
  }
}

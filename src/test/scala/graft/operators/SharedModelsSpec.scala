package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The standing lexical/shingle materializations must be value-
  * equivalent to the direct (tokenize-per-query) formulations they
  * replaced — the models are a performance layer, never a semantic
  * one. Runs against the smallest driver-generated corpus so the
  * equivalence covers real tokenizer edge cases (punctuation, short
  * docs, multi-space runs), not synthetic strings.
  */
class SharedModelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = t(spark, dir, "documents")

  test("doc_terms equals direct explode + count") {
    val direct = docs
      .select(col("doc_id"), col("source"), col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "source", "lang", "term")
      .agg(count(lit(1)).as("cnt"))
    val model = TextAnalysis.docTerms(spark, dir)
      .select("doc_id", "source", "lang", "term", "cnt")
    assert(model.except(direct).count() === 0L &&
      direct.except(model).count() === 0L &&
      model.count() === direct.count())
  }

  test("bigram_counts equals direct adjacent-pair counts") {
    val w = TextAnalysis.tokens(col("text"))
    val direct = docs
      .select(w.as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val bc = TextAnalysis.bigramCounts(spark, dir)
      .select("w1", "w2", "cnt")
    assert(bc.except(direct).count() === 0L &&
      direct.except(bc).count() === 0L)
  }

  test("doc_shingles equals direct shingle set under the hash") {
    val direct = Dedup.shingleSet(
        docs.select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        xxhash64(col("shingle")).as("shingle"))
    val model = Dedup.docShingles(spark, dir)
      .select("doc_id", "source", "shingle")
    assert(model.except(direct).count() === 0L &&
      direct.except(model).count() === 0L &&
      model.count() === direct.count())
  }

  test("SessionMemo: one entry per live session and key, released on drop") {
    val memoDir = "/memo-probe/not-a-corpus"
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    var computed = 0
    val memo = new Shared.SessionMemo[String](v => { released += v; () })
    def get(s: org.apache.spark.sql.SparkSession, key: Int): String =
      memo(s, memoDir, key) { computed += 1; s"v$computed" }

    // same session + key: computed once, the same object handed back
    val a = get(spark, 1)
    assert((get(spark, 1) eq a) && computed == 1 && released.isEmpty)
    // a new key recomputes and releases the replaced entry
    val b = get(spark, 2)
    assert(b == "v2" && computed == 2 && released == Seq("v1"))
    // another session never receives this session's entry
    val other = spark.newSession()
    val c = get(other, 2)
    assert(c == "v3" && computed == 3 && released == Seq("v1", "v2"))
    assert(get(other, 2) eq c)
    // invalidating the dir releases the live entry; the next call
    // recomputes
    Shared.invalidate(memoDir)
    assert(released == Seq("v1", "v2", "v3"))
    assert(get(other, 2) == "v4" && computed == 4)
    Shared.invalidate(memoDir)
  }
}

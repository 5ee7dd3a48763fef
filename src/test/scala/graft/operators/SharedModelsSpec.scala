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

  test("fingerprint listing walks nested leaf files exactly as listFiles") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("fingerprint-walk")
    val p = new Path(s"$root/t.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // written through the checksummed local filesystem, so every
      // file also gets a hidden .crc sidecar that neither walk lists
      Seq("part-0.parquet", "_SUCCESS", "k=1/part-1.parquet",
          "k=1/j=2/part-2.parquet", "k=2/.hidden", "k=3/notes.txt")
        .zipWithIndex.foreach { case (f, i) =>
          val out = fs.create(new Path(p, f))
          try out.write(Array.fill(i + 1)(i.toByte)) finally out.close()
        }
      fs.mkdirs(new Path(p, "empty/dir"))
      def reference(q: Path): Seq[(String, Long, Long)] = {
        val base = fs.makeQualified(q).toString
        val it = fs.listFiles(q, /* recursive = */ true)
        val files = scala.collection.mutable
          .ArrayBuffer.empty[(String, Long, Long)]
        while (it.hasNext) {
          val st = it.next()
          files += ((st.getPath.toString.stripPrefix(base), st.getLen,
            st.getModificationTime))
        }
        files.sorted.toSeq
      }
      val ref = reference(p)
      assert(ref.size == 6 && ref.exists(_._1 == "/k=1/j=2/part-2.parquet"))
      assert(Shared.leafListing(fs, p) == ref)
      // a file is its own only leaf; a missing table has none
      val leaf = new Path(p, "k=1/part-1.parquet")
      assert(Shared.leafListing(fs, leaf) == reference(leaf))
      assert(Shared.leafListing(fs, new Path(s"$root/absent.parquet"))
        .isEmpty)
    } finally { fs.delete(new Path(root.toString), true); () }
  }
}

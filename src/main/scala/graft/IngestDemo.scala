package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation2, Dedup, Shared, StandingIngest,
  TextAnalysis}

/** Runnable "continual-ingest day" narrative over the catalog-resident
  * standing-model layer — the end-to-end shape a production corpus
  * store runs (the specs pin each step; this main strings them
  * together against real testdata):
  *
  * {{{ sbt "runMain graft.IngestDemo [srcDir]" }}}
  *
  * 1. a base corpus lands and its standing models BUILD (gram, shared
  *    grams, signatures, bucketed corpus copy, drift reference);
  * 2. two document batches stream in via `StandingIngest.attach` —
  *    each batch is drift-screened on arrival (StreamDrift), landed,
  *    and absorbed as O(batch) increments with per-model batch-id
  *    commits;
  * 3. maintenance folds the append-accumulated bucket files
  *    (`compactStanding`) without losing fingerprints or bucketing;
  * 4. a simulated process restart resolves EVERYTHING from the durable
  *    catalog with zero rebuild — the cold ≈ warm property the layer
  *    exists for.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftConf.session()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files
      .createTempDirectory("graft-ingest-demo").toString
    val all = spark.read.parquet(s"$src/documents.parquet")

    // 1. base corpus + first-touch standing builds
    all.filter(col("doc_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.invalidate(dir, "documents")
    val t0 = System.nanoTime()
    Curation2.gramStarts(spark, dir).count()
    Curation2.sharedGrams(spark, dir).count()
    Curation2.docsById(spark, dir).count()
    Curation2.driftRefCounts(spark, dir).count()
    TextAnalysis.docTerms(spark, dir).count()
    Dedup.simhashSigs(spark, dir).count()
    println(f"INGEST_BASE_BUILD_SEC=${(System.nanoTime() - t0) / 1e9}%.1f")

    // 2. two streamed batches: drift-screen, land, absorb increments
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String, String, String, Long)]
    val q = StandingIngest.attach(spark, dir,
        input.toDF().toDF("doc_id", "text", "lang", "source",
          "n_chars"))(
      land = { (b, batchId) =>
        val worst = graft.streaming.StreamDrift.driftBatch(spark, dir, b)
          .agg(max(abs(col("log_ratio")))).head.getDouble(0)
        println(f"INGEST_BATCH_${batchId}_MAX_DRIFT=$worst%.3f")
        b.write.mode("append").parquet(s"$dir/documents.parquet")
        Tables.invalidate(dir, "documents")
      },
      onBatch = r => println(s"INGEST_APPENDED_MODELS=${r.size}")).start()
    def rows(m: Long) = all.filter(col("doc_id") % 3 === m)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    input.addData(rows(1)); q.processAllAvailable()
    input.addData(rows(2)); q.processAllAvailable()
    q.stop()

    // the absorbed state serves the batch queries directly
    val dupFrac = Curation2.ddSubstring(spark, dir)
      .agg(avg(col("dup_frac"))).head.getDouble(0)
    println(f"INGEST_CORPUS_DUP_FRAC=$dupFrac%.3f")

    // 3. maintenance: fold append-accumulated files per bucket
    val compacted = StandingIngest
      .compactStanding(spark, dir, maxFilesPerBucket = 1)
    println(s"INGEST_COMPACTED_MODELS=${compacted.size}")

    // 4. simulated restart: durable catalog serves everything, zero
    // rebuild (buildSeconds gains no entries on the re-resolve)
    Shared.invalidate(dir)
    val builds0 = Shared.buildSeconds.size
    val t1 = System.nanoTime()
    Curation2.gramStarts(spark, dir).count()
    Dedup.simhashSigs(spark, dir).count()
    Curation2.driftRefCounts(spark, dir).count()
    println(f"INGEST_COLD_RESOLVE_SEC=${(System.nanoTime() - t1) / 1e9}%.1f")
    println(s"INGEST_COLD_REBUILDS=${Shared.buildSeconds.size - builds0}")
    graft.api.FsIO.deleteTree(Shared.namespaceDir(spark, dir))
    graft.api.FsIO.deleteTree(dir)
    spark.stop()
  }
}

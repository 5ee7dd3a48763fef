package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Curation2

/** Streaming BPE tokenization — documents arriving as a stream
  * tokenized per micro-batch with the STANDING trained merges
  * (VERDICT r10 item #6's second flagship): the ingest-side readout a
  * pretraining pipeline needs online ("how many tokens does today's
  * crawl cost under OUR tokenizer?") without retraining anything.
  *
  * Batch ≡ stream by construction: the standing 3-row merge table
  * (`bpe_merges_3`, in `it` order) broadcasts once per (session,
  * corpus), and each word folds those merges in learned order through
  * [[BpeFold]] — the same fold the trainer applies each round's merges
  * with — so corpus words land on exactly the
  * standing `tx_bpe_apply` segmentation, and UNSEEN words segment the
  * way the trained tokenizer would segment them (a merge like `th`
  * applies to a brand-new word containing it; a vocabulary-lookup
  * shortcut would get that wrong). StreamBpeSpec pins both against an
  * independent sequential-fold reference.
  *
  * Scale: per micro-batch one narrow mapPartitions folds each
  * partition's distinct words once, and the per-doc rollup shuffles
  * only (doc_id, counts) rows — no per-merge Spark job. The standing
  * merge model trains once per corpus on the A-layer's cadence; query
  * traffic never touches the corpus.
  */
object StreamBpe {

  private val merges = new BpeFold.Table(Curation2.bpe3.merges, "it")

  /** Tokenize ONE micro-batch of (doc_id, text) rows: per document,
    * the word count and the BPE token count under the standing trained
    * merges. Runs per micro-batch under [[StreamOps.eachBatch]].
    */
  def tokenizeBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame =
    BpeFold.wordTokens(batchDocs, merges(spark, dir))
}

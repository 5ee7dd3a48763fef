package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Curation2

/** Streaming tokenization at FULL word-vocabulary depth — the
  * production serving shape of the batched (69-merge, word-level
  * saturated) tokenizer: the standing merge table (`bpe_merges_b12x16`,
  * in (it, mrank) order) broadcasts once per (session, corpus), and
  * each word folds the whole learned sequence in one local pass
  * through [[BpeFold]] — the same kernel [[StreamBpe]] and
  * [[StreamBpePhrase]] serve with. Known and novel words take the same
  * path: the fold IS the tokenizer, so novel words segment exactly as
  * the trained tokenizer would (a lookup-only shortcut would
  * mis-segment them; [[StreamBpe]] pins that property at depth 3, this
  * twin pins it at full depth).
  *
  * Batch ≡ batch-apply by construction: within one batched iteration
  * the kept pairs are symbol-disjoint, so the fold in (it, mrank)
  * order equals the trainer's simultaneous apply — corpus words land
  * on exactly the standing `tx_bpe_apply_deep` segmentation, and novel
  * words on the reference fold of the learned merges
  * (StreamBpeDeepSpec pins both).
  *
  * Scale: per micro-batch one narrow mapPartitions folds each
  * partition's distinct words once (O(word · relevant merges) CPU on
  * the executors), and the per-doc rollup shuffles only (doc_id,
  * counts) rows. The job count per batch is the 3-merge twin's,
  * whatever the merge depth, and nothing is checkpointed, so nothing
  * assumes local mode.
  */
object StreamBpeDeep {

  private val merges =
    new BpeFold.Table(Curation2.bpeBatch.merges, "it", "mrank")

  /** Tokenize ONE micro-batch of (doc_id, text) rows under the deep
    * trained tokenizer: per document, word count and deep BPE token
    * count. Runs per micro-batch under [[StreamOps.eachBatch]].
    */
  def tokenizeBatch(spark: SparkSession, dir: String,
      batchDocs: DataFrame): DataFrame =
    BpeFold.wordTokens(batchDocs, merges(spark, dir))
}

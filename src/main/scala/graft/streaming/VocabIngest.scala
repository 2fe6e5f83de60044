package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion-time WORD-FREQUENCY census — the streaming twin of the
  * tokenizer trainers' corpus statistic ([[graft.ops.Bpe.wordFreqs]],
  * which both BPE and the unigram-LM trainer iterate on): a tokenizer
  * for a continuously-ingested corpus needs the census maintained AS
  * DOCUMENTS LAND, not recomputed from history. The
  * [[LmIngest]] additive-state pattern at word grain:
  *
  *  - `docwords/` — (doc_id, wd, k) per-doc word profiles, one
  *    idempotent `batch_id` partition per micro-batch (row-disjoint
  *    across batches, so replay overwrites bit-exactly);
  *  - `wordfreq/` — the batch's additive (wd, freq) census delta.
  *
  * Counts are additive and order-independent, so the summed census
  * equals the batch `wordFreqs` over everything ingested for ANY
  * split and ANY arrival order — which is what lets a tokenizer
  * trained from [[readWordFreqs]] share the batch-trained gate's
  * oracle verbatim. Words are the tokenizer's vocabulary domain, so
  * (unlike the scrub-family hash states) the census stores plaintext
  * words — the erase surface is what removes a document's
  * contribution on request.
  */
object VocabIngest {

  /** (doc_id, wd, k) word profiles and the (wd, freq) census. */
  val state: CensusState = CensusState(
    _.select(col("doc_id"), explode(split(col("text"), " ")).as("wd"))
      .filter(col("wd") =!= "")
      .groupBy(col("doc_id"), col("wd"))
      .agg(count(lit(1)).as("k")),
    _.groupBy(col("wd")).agg(sum(col("k")).as("freq")))

  /** Process one micro-batch of `documents`-schema rows. */
  def processBatch(batch: DataFrame, batchId: Long, docwordsPath: String,
      censusPath: String): Unit =
    state.append(batch, batchId, docwordsPath, censusPath)

  /** The corpus word-frequency table AS OF the ingested state —
    * identical to [[graft.ops.Bpe.wordFreqs]] over everything
    * ingested (additive sums), schema (wd, freq).
    */
  def readWordFreqs(spark: SparkSession, censusPath: String): DataFrame =
    StateCompactor.readState(spark, censusPath)
      .groupBy(col("wd")).agg(sum(col("freq")).as("freq"))

  /** Fold committed batch partitions of both roots at their own
    * additive grains — compaction commutes with [[readWordFreqs]].
    */
  def compact(spark: SparkSession, docwordsPath: String,
      censusPath: String): Unit = {
    StateCompactor.compactWith(spark, docwordsPath, Seq("doc_id", "wd"), Seq(Merge.Sum("k")))
    StateCompactor.compactWith(spark, censusPath, Seq("wd"), Seq(Merge.Sum("freq")))
  }

  /** Right-to-be-forgotten over the census state
    * ([[CensusState.eraseDoc]]). After it, a tokenizer trained from
    * [[readWordFreqs]] equals one trained on the corpus without the
    * document.
    */
  def eraseDoc(spark: SparkSession, docwordsPath: String,
      censusPath: String, docId: Long): Unit =
    state.eraseDoc(spark, docwordsPath, censusPath, docId)
}

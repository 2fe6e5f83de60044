package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{KmvSketch, Text}

/** Ingestion-time corpus-LM state — the streaming twin of
  * [[graft.queries.DocQueries.lmScore]], on the additive-count-state
  * pattern ([[CensusState]]): familiarity depends on the
  * CORPUS-GLOBAL bigram census, so a document's score can shift
  * retroactively as later batches thicken the census — the state
  * therefore stores per-batch additive census deltas plus each
  * batch's per-doc gram profile, and scoring happens AT READ against
  * the summed census. Counts are additive and the doc profiles are
  * row-disjoint per batch, so stream == batch holds for ANY split
  * and ANY arrival order, and a replayed batch overwrites its own
  * partitions with identical content (bit-exact no-op).
  *
  * Only 60-bit gram hashes ever shuffle or persist (the scrub-family
  * skew rule); per-doc profiles are pre-collapsed to
  * (doc, hash, k) at admit time, so read-side scoring joins two
  * hash-keyed bounded tables — never raw text, never raw history.
  */
object LmIngest {

  /** (doc_id, h, k) gram profiles and the per-hash census
    * `c = sum(k)` — the [[CensusState]] pair this state is.
    */
  val state: CensusState = CensusState(
    _.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Text.bigramsFromTokens(col("toks"))).as("bg"))
      .select(col("doc_id"), KmvSketch.keyHash(
        concat(col("bg.w1"), lit(" "), col("bg.w2"))).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("k")),
    _.groupBy(col("h")).agg(sum(col("k")).as("c")))

  /** Process one micro-batch: append its gram profiles and census
    * delta under `batchId` partitions.
    */
  def processBatch(batch: DataFrame, batchId: Long, gramsPath: String,
      censusPath: String): Unit =
    state.append(batch, batchId, gramsPath, censusPath)

  /** Least-familiar documents AS OF the ingested state: global census
    * (SUM over batch deltas), bit-length scoring, same topN/tie
    * contract as the batch op — identical output, shared oracle.
    */
  def readScores(spark: SparkSession, gramsPath: String,
      censusPath: String, topN: Int = 20): DataFrame = {
    val census = StateCompactor.readState(spark, censusPath)
      .groupBy(col("h")).agg(sum(col("c")).as("c"))
    val scored = StateCompactor.readState(spark, gramsPath)
      .join(census, "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * length(bin(col("c")))).as("score_bits"))
      .withColumn("familiarity_milli",
        expr("CAST(score_bits * 1000 DIV n_bigrams AS BIGINT)"))
    graft.ops.TopK.topKGlobal(scored,
        Seq(col("familiarity_milli").asc, col("doc_id").asc), topN)
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("n_bigrams"), col("score_bits"), col("familiarity_milli"))
  }

  /** Fold committed batch partitions of both state tables at their
    * own grains ([[StateCompactor]] — replay/crash-safe maintenance
    * slot; scores are sums over both tables, so compaction commutes
    * with [[readScores]] by additivity).
    */
  def compact(spark: SparkSession, gramsPath: String,
      censusPath: String): Unit = {
    StateCompactor.compactWith(spark, gramsPath, Seq("doc_id", "h"), Seq(Merge.Sum("k")))
    StateCompactor.compactWith(spark, censusPath, Seq("h"), Seq(Merge.Sum("c")))
  }

  /** Right-to-be-forgotten over the LM census state: the erased doc's
    * tokens contributed additive mass to the corpus-global bigram
    * census, so it is rebuilt from the gram profiles minus the victim
    * ([[CensusState.eraseDoc]]'s crash-safe order). After it,
    * [[readScores]] equals a rebuild over the corpus without the doc,
    * bit for bit (row-disjoint profiles + additive census).
    */
  def eraseDoc(spark: SparkSession, gramsPath: String,
      censusPath: String, docId: Long): Unit =
    state.eraseDoc(spark, gramsPath, censusPath, docId)
}

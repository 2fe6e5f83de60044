package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup

/** Ingestion-time boilerplate scrub — the streaming twin of
  * [[NearDup.boilerplateScrub]], completing the scrub family's ingest
  * legs ([[SegmentIngest]] twins keep-first segment dedup,
  * [[SpanIngest]] the span scrub). The frequency threshold is
  * CORPUS-GLOBAL — a segment's fate can flip retroactively when a
  * later batch pushes its count over `maxFreq` — so unlike the
  * keep-first twins this state cannot decide at admit time. It uses
  * the additive-count-state pattern of the served CM/value-histogram
  * tables instead ([[graft.serving.Serving]]'s `cm_daily` shape):
  *
  *  - per batch, the segment stream (doc_id, seg_idx, seg, 128-bit
  *    md5) is appended under its `batch_id` partition, and the
  *    batch's per-hash COUNTS (hash-keyed, partial-agg map-side,
  *    never text-keyed) are appended as an additive count delta;
  *  - the threshold is applied AT READ ([[readScrubbed]]): global
  *    count = SUM over batch deltas per hash, over-threshold hashes
  *    (tiny by construction — boilerplate is few distinct values)
  *    anti-join the segment stream, survivors reassemble per doc.
  *
  * Because counts are additive and reads re-derive everything from
  * them, stream == batch holds for ANY batch split and ANY arrival
  * order — stronger than the keep-first twins' id-ordered
  * precondition — and a replayed batch overwrites its own two
  * partitions with identical content (dynamic partition overwrite),
  * a bit-exact no-op.
  */
object BoilerplateIngest {

  /** The (doc_id, seg_idx, seg, h) segment stream and its per-hash
    * `cnt` census — the [[CensusState]] pair this state is.
    */
  def state(segWords: Int = 10): CensusState = CensusState(
    b => NearDup.segmentsOf(b, segWords).withColumn("h", md5(col("seg"))),
    _.groupBy(col("h")).agg(count(lit(1)).as("cnt")))

  /** Process one micro-batch: append the batch's segment stream and
    * its per-hash count delta under `batchId` partitions.
    */
  def processBatch(batch: DataFrame, batchId: Long, segsPath: String,
      countsPath: String, segWords: Int = 10): Unit =
    state(segWords).append(batch, batchId, segsPath, countsPath)

  /** The scrubbed corpus AS OF the ingested state: global per-hash
    * counts (SUM over batch deltas), over-threshold hash set
    * anti-joined (broadcastable — see [[NearDup.boilerplateScrub]]'s
    * skew note), doc-bounded reassembly. Same output schema as the
    * batch op: (doc_id, text_clean, segs_kept).
    */
  def readScrubbed(spark: SparkSession, segsPath: String,
      countsPath: String, maxFreq: Long = 1): DataFrame = {
    // read through StateCompactor so post-erase (or post-compaction)
    // generations resolve the same way live batch partitions do
    val over = StateCompactor.readState(spark, countsPath)
      .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > maxFreq)
      .select(col("h"))
    NearDup.reassemble(
      StateCompactor.readState(spark, segsPath)
        .join(over, Seq("h"), "left_anti")
        .select(col("doc_id"), col("seg_idx"), col("seg")))
      .withColumnRenamed("text_deduped", "text_clean")
  }

  /** Fold committed batch partitions of both roots at their own
    * grains: the per-hash counts are additive (sum), the segment
    * stream is row state disjoint across batches (distinct fold is
    * identity on content). Threshold-at-read re-derives from both, so
    * compaction commutes with [[readScrubbed]].
    */
  def compact(spark: SparkSession, segsPath: String,
      countsPath: String): Unit = {
    StateCompactor.compactWith(spark, countsPath, Seq("h"), Seq(Merge.Sum("cnt")))
    StateCompactor.compactWith(spark, segsPath, Seq("doc_id", "seg_idx", "seg", "h"), Nil)
  }

  /** Right-to-be-forgotten over the boilerplate state: the global
    * frequency counts are BY CONSTRUCTION `segs.groupBy(h).count()`
    * of the retained segment stream, so they rebuild exactly from the
    * doc-keyed segs state minus the victim
    * ([[CensusState.eraseDoc]]'s crash-safe order). Erasing a doc can
    * pull a segment's count back UNDER `maxFreq` — its other copies
    * legitimately resurface at read, exactly as a
    * rebuild-without-doc would conclude.
    */
  def eraseDoc(spark: SparkSession, segsPath: String,
      countsPath: String, docId: Long): Unit =
    state().eraseDoc(spark, segsPath, countsPath, docId)
}

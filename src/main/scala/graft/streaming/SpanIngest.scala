package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup

/** Ingestion-time duplicated-span scrub — the streaming twin of
  * [[NearDup.spanScrub]] the way [[SegmentIngest]] twins
  * `segmentDedup`: every micro-batch is scanned with OVERLAPPING
  * k-token windows, a window occurrence is scrubbed when its gram was
  * already claimed (earlier in the accumulated corpus, or earlier in
  * this batch by (doc_id, pos) order), covered positions union across
  * overlapping windows, and each admitted document is rebuilt from
  * its surviving tokens. The index accumulates the hash of every
  * FIRST-claimed gram — claim order is computed on the original token
  * stream, exactly as the batch op's global first-occurrence window.
  *
  * State is a parquet gram-hash index (128-bit md5 — only hashes
  * persist and shuffle, never window text, the [[SegmentIngest]]
  * discipline): restart-safe, shardable by hash, appended
  * idempotently per batch. Replay safety differs from
  * [[SegmentIngest]] (where a replay admits nothing and an empty
  * overwrite rewrites nothing): a replayed span batch would find its
  * OWN claims in the index and scrub them out of its short docs'
  * siblings, so history is read EXCLUDING the replaying batch's own
  * `batch_id` partition — the replay then sees the exact history of
  * its first run and rewrites both partitions bit-identically.
  *
  * When micro-batches arrive in ascending doc_id order, the admitted
  * output equals batch [[NearDup.spanScrub]] over the full corpus
  * exactly (claim order (arrival, doc_id, pos) == the batch op's
  * (doc_id, pos) total order).
  */
object SpanIngest {

  /** Process one micro-batch; returns the admitted (doc_id,
    * text_scrubbed, kept_tokens) frame for tests/inspection.
    */
  def processBatch(batch: DataFrame, batchId: Long, keptPath: String,
      indexPath: String, k: Int = 5): DataFrame = {
    val spark = batch.sparkSession
    val b = batch.persist()
    try {
      val grams = NearDup.spanGramsOf(b, k)
        .select(col("doc_id"), col("pos"), md5(col("gram")).as("h"))
      // fresh = this batch's newly-claimed grams: first occurrence
      // within the batch (a min(struct) aggregate on the hash key —
      // the batch op's skew discipline, no per-key window sort) AND
      // unseen in the accumulated index. Pinned: it feeds the
      // covered-set subtraction AND the index append — recomputing it
      // for the append would race a half-new index.
      val fresh = grams
        .groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        .select(col("h"), col("f.doc_id").as("doc_id"), col("f.pos").as("pos"))
        .join(readIndex(spark, indexPath, excludeBatchId = batchId), Seq("h"), "left_anti")
        .localCheckpoint(true)
      // covered = every occurrence EXCEPT the fresh claims (start
      // position is unique per doc, so (doc_id, pos) identifies one)
      val covered = grams
        .join(fresh.select(col("doc_id"), col("pos")), Seq("doc_id", "pos"), "left_anti")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (k - 1))).as("tokpos"))
        .distinct()
      val kept = NearDup.scrubRebuild(NearDup.spanTokensOf(b), covered)
        .localCheckpoint(true)
      StreamingPipeline.writeBatchIdempotent(kept, batchId, keptPath)
      StreamingPipeline.writeBatchIdempotent(
        fresh.select(col("h")), batchId, indexPath)
      NearDup.releaseCheckpoint(fresh)
      kept
    } finally { b.unpersist(); () }
  }

  /** The accumulated gram-hash index (empty before the first claim).
    * `excludeBatchId` drops that batch's own LIVE partition (a pruned
    * directory skip, not a scan filter) so a replaying batch never
    * sees its first run's claims; reads through
    * [[StateCompactor.readStateIfAny]] so a post-erase index (live
    * partitions folded into a committed generation) resolves the same
    * way — a replay after an erase writes only manifest-folded
    * (invisible) partitions, so what it sees no longer matters to
    * readers.
    */
  def readIndex(spark: SparkSession, indexPath: String,
      excludeBatchId: Long = -1L): DataFrame =
    StateCompactor.readStateIfAny(spark, indexPath,
        excludeLive = Set(excludeBatchId))
      .map(_.select("h"))
      .getOrElse(spark.range(0).select(lit("").as("h")))

  /** The scrubbed corpus as visible after any erasures — generation +
    * live batch partitions (≡ `spark.read.parquet(keptPath)` until
    * the first [[eraseDoc]] folds the partitions).
    */
  def readKept(spark: SparkSession, keptPath: String): DataFrame =
    StateCompactor.readState(spark, keptPath)

  /** Fold committed batch partitions of both roots
    * ([[SegmentIngest.compact]]'s twin). Only strictly-older batches
    * fold, so the one replayable batch keeps its own live partition
    * and the replay-exclusion read ([[readIndex]]'s `excludeBatchId`)
    * still prunes it.
    */
  def compact(spark: SparkSession, keptPath: String,
      indexPath: String): Unit = {
    StateCompactor.compactWith(spark, indexPath, Seq("h"), Nil)
    StateCompactor.compactWith(spark, keptPath,
      Seq("doc_id", "text_scrubbed", "kept_tokens"), Nil)
  }

  /** Right-to-be-forgotten over the ingest-time span state — the
    * [[SegmentIngest.eraseDoc]] contract, one grain finer: fold the
    * scrubbed corpus AND the gram-hash claim index into new
    * generations computed from the retained raw corpus, so gram
    * hashes only the victim claimed leave the index with it.
    *  - new index = every distinct k-gram hash of the retained corpus
    *    (each gram is claimed exactly once whoever claims it, so the
    *    index rebuild is order-independent);
    *  - new kept = [[NearDup.spanScrub]] over the retained corpus
    *    (spans the victim first-claimed re-claim to their next
    *    earliest occurrence, exactly as a rebuild would).
    * Stale-frame guard, quiesced-slot contract, replay invisibility
    * and crash re-runnability as in [[SegmentIngest.eraseDoc]].
    */
  def eraseDoc(spark: SparkSession, docs: DataFrame, docId: Long,
      keptPath: String, indexPath: String, k: Int = 5): Unit = {
    val retained = docs.filter(col("doc_id") =!= docId)
    val newIdx = NearDup.spanGramsOf(retained, k)
      .select(md5(col("gram")).as("h")).distinct()
      .localCheckpoint(true) // pinned: guard probe + generation write
    try {
      val unseen = newIdx.join(readIndex(spark, indexPath), Seq("h"), "left_anti")
      if (!unseen.isEmpty)
        throw new IllegalArgumentException(
          s"eraseDoc: docs frame contains grams the index at $indexPath " +
            "never claimed — wrong corpus for this ingest root")
      // reverse direction (the SegmentIngest rule): hashes LEAVING the
      // index must be the victim's own grams — a frame missing
      // unrelated documents would silently drop their claim state
      val victim = NearDup.spanGramsOf(docs.filter(col("doc_id") === docId), k)
        .select(md5(col("gram")).as("h"))
      val leaving = readIndex(spark, indexPath)
        .join(newIdx, Seq("h"), "left_anti")
        .join(victim, Seq("h"), "left_anti")
      if (!leaving.isEmpty)
        throw new IllegalArgumentException(
          s"eraseDoc: docs frame is missing documents the index at $indexPath " +
            "claimed — erasing would drop other documents' state")
      StateCompactor.rewriteState(spark, indexPath, newIdx)
      StateCompactor.rewriteState(spark, keptPath,
        NearDup.spanScrub(retained, k))
    } finally NearDup.releaseCheckpoint(newIdx)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup

/** Ingestion-time segment dedup — the streaming twin of
  * [[NearDup.segmentDedup]]: every micro-batch of documents is cut
  * into fixed-width segments, each segment survives only if it is
  * (a) the batch's own first occurrence and (b) unseen in the
  * accumulated corpus, and surviving segments are reassembled into
  * admitted documents. A continuously-fed corpus thus stays
  * segment-deduped as it lands — the sub-document refinement of
  * [[IncrementalDedup]]'s whole-document tiers.
  *
  * State is a parquet segment-hash index (128-bit md5 per distinct
  * admitted segment — only hashes persist and shuffle, never segment
  * text, the media-dedup discipline): restart-safe, shardable by
  * hash at any size, appended idempotently per batch. Replay safety
  * needs no explicit guard: a replayed batch finds its own segment
  * hashes in the index, keeps nothing, and a dynamic partition
  * overwrite of an empty frame rewrites nothing.
  *
  * Write order is kept-then-index: if the index append crashes, the
  * restart recomputes the identical kept frame (the index still
  * lacks this batch) and overwrites it in place before appending.
  *
  * When micro-batches arrive in ascending doc_id order, the admitted
  * output equals batch [[NearDup.segmentDedup]] over the full corpus
  * exactly (first-occurrence order is (arrival, doc_id, seg_idx) —
  * identical to the batch op's (doc_id, seg_idx) total order).
  */
object SegmentIngest {

  /** Process one micro-batch; returns the admitted (doc_id,
    * text_deduped, segs_kept) frame for tests/inspection.
    */
  def processBatch(batch: DataFrame, batchId: Long, keptPath: String,
      indexPath: String, segWords: Int = 10): DataFrame = {
    val spark = batch.sparkSession
    val b = batch.persist()
    try {
      val segs = NearDup.segmentsOf(b, segWords)
        .withColumn("h", md5(col("seg")))
      // within-batch first occurrence as a min(struct) aggregate on
      // the hash key — the batch op's skew discipline (duplicates
      // collapse map-side; a boilerplate-heavy micro-batch can't
      // hot-partition a per-key sort the way a row_number window did)
      // pinned: feeds both writes below — without it the anti-join
      // would re-run for the index append (and see a half-new index)
      val fresh = segs
        .groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg"))).as("w"))
        .select(col("h"), col("w.doc_id").as("doc_id"),
          col("w.seg_idx").as("seg_idx"), col("w.seg").as("seg"))
        .join(readIndex(spark, indexPath), Seq("h"), "left_anti")
        .localCheckpoint(true)
      // kept is pinned too — it must stay evaluable after fresh's
      // blocks are released below (callers inspect the return value)
      val kept = NearDup.reassemble(fresh.select("doc_id", "seg_idx", "seg"))
        .localCheckpoint(true)
      StreamingPipeline.writeBatchIdempotent(kept, batchId, keptPath)
      StreamingPipeline.writeBatchIdempotent(
        fresh.select(col("h")), batchId, indexPath)
      NearDup.releaseCheckpoint(fresh)
      kept
    } finally { b.unpersist(); () }
  }

  /** The accumulated segment-hash index (empty before the first
    * admit). Reads through [[StateCompactor.readStateIfAny]] so a
    * post-erase index (live batch partitions folded into a committed
    * generation) resolves the same way a freshly-appended one does.
    */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    StateCompactor.readStateIfAny(spark, indexPath)
      .map(_.select("h"))
      .getOrElse(spark.range(0).select(lit("").as("h")))

  /** The admitted corpus as visible after any erasures — generation +
    * live batch partitions (≡ `spark.read.parquet(keptPath)` until
    * the first [[eraseDoc]] folds the partitions).
    */
  def readKept(spark: SparkSession, keptPath: String): DataFrame =
    StateCompactor.readState(spark, keptPath)

  /** Fold committed batch partitions of both roots at their own
    * grains ([[StateCompactor]]'s maintenance slot; 10 s triggers
    * otherwise fragment them into one directory per micro-batch):
    * the hash index is set state (distinct `h`), the kept corpus is
    * row state (distinct rows). Reads are unions re-deduped (or
    * plain unions) over these, so compaction commutes with them.
    */
  def compact(spark: SparkSession, keptPath: String,
      indexPath: String): Unit = {
    StateCompactor.compactWith(spark, indexPath, Seq("h"), Nil)
    StateCompactor.compactWith(spark, keptPath,
      Seq("doc_id", "text_deduped", "segs_kept"), Nil)
  }

  /** Right-to-be-forgotten over the ingest-time segment state: fold
    * BOTH roots — the admitted corpus and the segment-hash admission
    * index — into new generations computed from the retained raw
    * corpus, so the erased document's content hashes (and their
    * future-dedup side effects) leave the index with it. `docs` is
    * the full raw corpus the ingest has seen (the caller owns it, as
    * in `Serving.eraseUser`); the erased-world state is the batch op
    * over `docs` minus the victim, which under the id-ordered
    * equivalence premise IS rebuild-without-doc, bit for bit:
    *  - new index = every distinct segment hash of the retained
    *    corpus (the index accumulates each first-seen hash, kept or
    *    deduped, so its rebuild is order-independent);
    *  - new kept = [[NearDup.segmentDedup]] over the retained corpus
    *    (segments the victim first-claimed re-admit to their next
    *    claimant, exactly as a rebuild would).
    * A BIDIRECTIONAL stale-frame guard refuses a wrong corpus: a
    * `docs` frame containing segments the index never saw (extra
    * rows), AND a frame from which hashes would leave the index that
    * are not the victim's own segment hashes (missing rows — which
    * would silently erase OTHER documents' admission state, the
    * failure `Serving.eraseUser`'s two-sided guard catches).
    * Quiesced-slot + replay contract inherited from
    * [[StateCompactor.rewriteState]]: a replayed last batch rewrites
    * manifest-folded (invisible) partitions, so the victim cannot
    * resurface; re-running a crashed erase recommits identical
    * generations.
    */
  def eraseDoc(spark: SparkSession, docs: DataFrame, docId: Long,
      keptPath: String, indexPath: String, segWords: Int = 10): Unit = {
    val retained = docs.filter(col("doc_id") =!= docId)
    val newIdx = NearDup.segmentsOf(retained, segWords)
      .select(md5(col("seg")).as("h")).distinct()
      .localCheckpoint(true) // pinned: guard probe + generation write
    try {
      val unseen = newIdx.join(readIndex(spark, indexPath), Seq("h"), "left_anti")
      if (!unseen.isEmpty)
        throw new IllegalArgumentException(
          s"eraseDoc: docs frame contains segments the index at $indexPath " +
            "never admitted — wrong corpus for this ingest root")
      // reverse direction: every hash LEAVING the index must be the
      // victim's own — a frame missing unrelated documents would
      // otherwise silently drop their admission state
      val victim = NearDup.segmentsOf(docs.filter(col("doc_id") === docId), segWords)
        .select(md5(col("seg")).as("h"))
      val leaving = readIndex(spark, indexPath)
        .join(newIdx, Seq("h"), "left_anti")
        .join(victim, Seq("h"), "left_anti")
      if (!leaving.isEmpty)
        throw new IllegalArgumentException(
          s"eraseDoc: docs frame is missing documents the index at $indexPath " +
            "admitted — erasing would drop other documents' state")
      StateCompactor.rewriteState(spark, indexPath, newIdx)
      StateCompactor.rewriteState(spark, keptPath,
        NearDup.segmentDedup(retained, segWords))
    } finally NearDup.releaseCheckpoint(newIdx)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup

/** DETERMINISTIC ingest-time curation — the gated composition of
  * [[DocPipeline]]'s continuous curation (normalize → quality filter
  * → exact first-wins dedup), restructured on the [[SegmentIngest]]
  * admit pattern so the kept set is bit-reproducible: within a batch
  * the min-doc_id row per normalized fingerprint wins (a
  * `dropDuplicates` keeps an ARBITRARY row, which can never
  * hash-gate), across batches the parquet fingerprint index drops
  * anything already admitted. On an id-ordered stream the admitted
  * set therefore equals the batch composition exactly — quality
  * keep-set, deduped to the min-id representative per fingerprint —
  * which is what lets `q_doc_curate_stream` share a plain batch
  * oracle.
  *
  * Replay safety is [[SegmentIngest]]'s: a replayed batch finds its
  * own fingerprints in the index, admits nothing, and the dynamic
  * partition overwrite of an empty frame rewrites nothing.
  */
object CurationIngest {

  /** Process one micro-batch of `documents`-schema rows; returns the
    * admitted (doc_id, fp, lang, source, n_tokens) frame.
    */
  def processBatch(batch: DataFrame, batchId: Long, keptPath: String,
      indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val b = batch.persist()
    try {
      // min-id winner per fingerprint (the scrub family's skew
      // discipline — no per-key window sort), anti-joined vs history.
      // pinned: feeds both writes (kept + index) — the SegmentIngest
      // discipline, so the index append can't see a half-new index
      val fresh = minPerFp(DocPipeline.curate(b))
        .join(readIndex(spark, indexPath), Seq("fp"), "left_anti")
        .localCheckpoint(true)
      StreamingPipeline.writeBatchIdempotent(fresh, batchId, keptPath)
      StreamingPipeline.writeBatchIdempotent(
        fresh.select(col("fp")), batchId, indexPath)
      fresh
    } finally { b.unpersist(); () }
  }

  /** Min-id winner per normalized fingerprint — the deterministic
    * within-set dedup both the per-batch admit and the erase rebuild
    * apply to a curated frame.
    */
  private def minPerFp(cur: DataFrame): DataFrame = cur
    .groupBy(col("fp"))
    .agg(min(struct(col("doc_id"), col("n_tokens"),
      col("lang"), col("source"))).as("w"))
    .select(col("fp"), col("w.doc_id").as("doc_id"),
      col("w.lang").as("lang"), col("w.source").as("source"),
      col("w.n_tokens").as("n_tokens"))

  /** The accumulated fingerprint index (empty before first admit).
    * Reads through [[StateCompactor.readStateIfAny]] so a post-erase
    * index (live partitions folded into a committed generation)
    * resolves the same way a freshly-appended one does.
    */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    StateCompactor.readStateIfAny(spark, indexPath)
      .map(_.select("fp"))
      .getOrElse(spark.range(0).select(lit("").as("fp")))

  /** The admitted curation as visible after any erasures. */
  def readKept(spark: SparkSession, keptPath: String): DataFrame =
    StateCompactor.readState(spark, keptPath)

  /** Fold committed batch partitions of both roots
    * ([[SegmentIngest.compact]]'s twin at the fingerprint grain). */
  def compact(spark: SparkSession, keptPath: String,
      indexPath: String): Unit = {
    StateCompactor.compactWith(spark, indexPath, Seq("fp"), Nil)
    StateCompactor.compactWith(spark, keptPath,
      Seq("fp", "doc_id", "lang", "source", "n_tokens"), Nil)
  }

  /** Right-to-be-forgotten over the ingest-time curation state — the
    * [[SegmentIngest.eraseDoc]] contract on the fingerprint grain:
    * fold the admitted table AND the fingerprint admission index into
    * new generations computed from the retained raw corpus.
    *  - new kept = min-id winner per fingerprint over
    *    `DocPipeline.curate(retained)` — if the victim was the
    *    admitted representative of a fingerprint another retained doc
    *    shares, that doc takes its place, exactly as a rebuild would;
    *    a fingerprint only the victim carried disappears;
    *  - new index = exactly the new kept set's fingerprints.
    * Stale-frame guard (retained fingerprints must all be already
    * admitted), quiesced-slot contract, replay invisibility and crash
    * re-runnability as in [[SegmentIngest.eraseDoc]].
    */
  def eraseDoc(spark: SparkSession, docs: DataFrame, docId: Long,
      keptPath: String, indexPath: String): Unit = {
    val newKept = minPerFp(
        DocPipeline.curate(docs.filter(col("doc_id") =!= docId)))
      .localCheckpoint(true) // pinned: guard probe + both generations
    try {
      val unseen = newKept.select(col("fp"))
        .join(readIndex(spark, indexPath), Seq("fp"), "left_anti")
      if (!unseen.isEmpty)
        throw new IllegalArgumentException(
          s"eraseDoc: docs frame contains fingerprints the index at " +
            s"$indexPath never admitted — wrong corpus for this ingest root")
      // reverse direction (the SegmentIngest rule): fingerprints
      // LEAVING the index must be the victim's own — a frame missing
      // unrelated documents would silently drop their admission state
      val victim = DocPipeline.curate(docs.filter(col("doc_id") === docId))
        .select(col("fp"))
      val leaving = readIndex(spark, indexPath)
        .join(newKept.select(col("fp")), Seq("fp"), "left_anti")
        .join(victim, Seq("fp"), "left_anti")
      if (!leaving.isEmpty)
        throw new IllegalArgumentException(
          s"eraseDoc: docs frame is missing documents the index at " +
            s"$indexPath admitted — erasing would drop other documents' state")
      StateCompactor.rewriteState(spark, indexPath, newKept.select(col("fp")))
      StateCompactor.rewriteState(spark, keptPath, newKept)
    } finally NearDup.releaseCheckpoint(newKept)
  }
}

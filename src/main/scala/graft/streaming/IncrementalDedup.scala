package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.NearDup

/** Ingestion-time incremental near-dup dedup: every micro-batch of
  * documents is checked against an accumulated MinHash-LSH band index
  * of all previously ADMITTED docs, plus exact-verified within the
  * batch — so a continuously-fed corpus stays deduped as it lands,
  * without nightly full-corpus reruns.
  *
  * State is a parquet band index (admitted doc → 16 band hashes),
  * not executor memory: restart-safe for free, shardable by band
  * hash at any size, and appended idempotently per batch (dynamic
  * partition overwrite on batch_id — a retried batch overwrites its
  * own partition instead of double-inserting).
  *
  * Two-tier decision, mirroring how production crawl pipelines trade
  * cost for exactness:
  *  - vs HISTORY: a band-bucket hit alone rejects (no re-reading old
  *    docs' shingles). Approximate with known odds: a true near-dup
  *    at Jaccard 0.8 collides in some band w.p. ~0.9998 (16 bands ×
  *    4 rows), an unrelated pair w.p. ~1e-9 per band row; identical
  *    docs always collide.
  *  - WITHIN the batch: full exact-verified `minhashPairs` +
  *    `canonicalize`, keeping the min-id survivor per dup group —
  *    exactness where the data is already in hand.
  */
object IncrementalDedup {

  val bandsN = 16
  val rowsPerBand = 4

  /** Band buckets (doc_id, band_idx, band_hash) for a static frame.
    * Built over UNPERSISTED postings: the signature aggregation is the
    * only pass, and each micro-batch is a distinct plan — a cached
    * postings per batch would accumulate in executor storage with
    * nothing ever releasing it.
    */
  def bandBuckets(docs: DataFrame): DataFrame =
    NearDup.minhashSigsFromPostings(
        NearDup.postingsNoCache(docs, n = 3), bandsN * rowsPerBand)
      .withColumn("bands", NearDup.lshBands(col("sig"), bandsN, rowsPerBand))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

  /** Process one micro-batch: reject vs the index, dedup within the
    * batch, append survivors + their bands. Returns the admitted
    * frame (for tests/inspection).
    */
  def processBatch(batch: DataFrame, batchId: Long,
      admittedPath: String, indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val b = batch.persist()
    try {
      val buckets = bandBuckets(b)
      val index = readIndex(spark, indexPath)
      // tier 1: LSH-reject against history (semi-join on band buckets)
      val hitHistory = buckets.join(index, Seq("band_idx", "band_hash"), "left_semi")
        .select(col("doc_id")).distinct()
      val fresh = b.join(hitHistory, Seq("doc_id"), "left_anti").persist()
      try {
        // tier 2: exact within-batch dedup — keep min-id survivors
        val pairs = NearDup.minhashPairs(fresh)
        val canon = NearDup.canonicalize(pairs)
        val admitted = fresh
          .join(canon.filter(col("doc_id") =!= col("canonical_id")).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        // both near-dup results come back pinned; admitted is already
        // materialized, so their blocks are dead weight from here on
        NearDup.releaseCheckpoint(canon)
        NearDup.releaseCheckpoint(pairs)
        StreamingPipeline.writeBatchIdempotent(admitted, batchId, admittedPath)
        StreamingPipeline.writeBatchIdempotent(
          bandBuckets(admitted), batchId, indexPath)
        admitted
      } finally { fresh.unpersist(); () }
    } finally {
      b.unpersist()
      // the per-batch minhash/canonicalize intermediates registered
      // by NearDup are one-shot here — release them so a long-running
      // ingest doesn't accumulate cached batch plans.
      NearDup.releaseCaches()
    }
  }

  /** The accumulated band index (empty before the first admit).
    * Reads through [[StateCompactor.readStateIfAny]] so a post-erase
    * index (live partitions folded into a committed generation)
    * resolves the same way a freshly-appended one does.
    */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    StateCompactor.readStateIfAny(spark, indexPath)
      .map(_.select("band_idx", "band_hash"))
      .getOrElse(spark.range(0)
        .select(lit(0).as("band_idx"), lit(0L).as("band_hash")))

  /** The admitted corpus as visible after any erasures. */
  def readAdmitted(spark: SparkSession, admittedPath: String): DataFrame =
    StateCompactor.readState(spark, admittedPath)

  /** Fold committed batch partitions of the admitted corpus and the
    * band index at their own grains (rows are disjoint across
    * batches, so distinct folds are identity on content — the win is
    * one directory instead of one per micro-batch).
    */
  def compact(spark: SparkSession, admittedPath: String,
      indexPath: String): Unit = {
    StateCompactor.compactWith(spark, indexPath,
      Seq("doc_id", "band_idx", "band_hash"), Nil)
    StateCompactor.compactWith(spark, admittedPath,
      Seq("doc_id", "text", "lang", "source", "n_chars"), Nil)
  }

  /** Right-to-be-forgotten over the incremental-dedup state: fold the
    * victim's rows out of the admitted corpus AND its band postings
    * out of the LSH admission index (the index rows carry `doc_id`,
    * so both are predicate folds — [[StateCompactor.eraseWhere]]'s
    * manifest-committed generation rewrite).
    *
    * Semantics are ADMISSION-PRESERVING, deliberately weaker than the
    * scrub family's rebuild equivalence: documents that were
    * LSH-rejected against the victim STAY rejected — they were never
    * stored (only the admitted survivor's bands persist), and their
    * content is near-identical to what was just erased, so
    * resurrecting them would re-admit the erased content through a
    * copy. When the victim has no cross-batch near-dups (the generic
    * case) this coincides with rebuild-without-doc exactly. With the
    * victim's bands gone, a future re-submission of the same content
    * is evaluated fresh — admitted unless it near-dups some OTHER
    * admitted doc.
    *
    * Quiesced-slot contract and replay invisibility as in
    * [[StateCompactor.eraseWhere]]; the erase is idempotent (a re-run
    * folds an already-clean state).
    */
  def eraseDoc(spark: SparkSession, admittedPath: String,
      indexPath: String, docId: Long): Unit = {
    StateCompactor.eraseWhere(spark, indexPath, col("doc_id") === docId)
    StateCompactor.eraseWhere(spark, admittedPath, col("doc_id") === docId)
  }
}

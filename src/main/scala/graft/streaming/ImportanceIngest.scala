package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.ops.Sample
import graft.serving.ImportanceProfile

/** Streaming leg of the materialized DSIR profile
  * ([[ImportanceProfile]]): each micro-batch of documents adds its
  * bigram-bucket counts as one idempotent delta partition. Counts are
  * additive, so after any batch split the served profile equals the
  * one-shot build over everything ingested — and a replayed batch
  * rewrites its own `batch_id` partition bit-identically
  * (exactly-once without any read-modify-write of prior state).
  */
object ImportanceIngest {

  /** Process one micro-batch (exposed for replay tests). */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
      targetPred: Column): Unit =
    ImportanceProfile.writeDelta(
      Sample.bucketProfile(batch, targetPred, ImportanceProfile.Buckets),
      batchId, root)
}

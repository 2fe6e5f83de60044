package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.NearDup

/** The one append-mode foreachBatch runner: every ingest object
  * exposes its batch body (`processBatch`, an index `append`, a
  * [[MergeableState.append]]) and this starts it as a streaming query,
  * as it does [[StreamingPipeline]]'s pipeline and the streamed gates. Exactly-once is the body's own contract — an idempotent
  * `batch_id` write or a content-keyed append — since foreachBatch is
  * at-least-once and replays the last batch after a restart.
  */
object StreamRunner {

  /** Run `body` on every micro-batch of `source`. A body that returns
    * a DataFrame (the admission twins return their admitted frame,
    * pinned by a local checkpoint for inspection) has its pinned
    * blocks released here: the stream discards the frame, and an
    * unreleased pin stays cached until a GC runs the ContextCleaner.
    */
  def start(source: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"))(
      body: (DataFrame, Long) => Any): StreamingQuery = {
    graft.tables.LocalFs.install(source.sparkSession)
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId) match {
          case pinned: Dataset[_] => NearDup.releaseCheckpoint(pinned.toDF())
          case _ => ()
        }
      }
      .start()
  }
}

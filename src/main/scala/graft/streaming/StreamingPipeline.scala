package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.TopK

/** The reference's active streaming dataflow (SURVEY EP2) on
  * Structured Streaming:
  *
  *   source → event-time watermark (10 s out-of-orderness,
  *   TopKStreamingJob.kt:248-249) → dedup on event_id with
  *   watermark-scoped state (the Flink ValueState+TTL dedup,
  *   :87-119) → ONE foreachBatch fan-out of two concurrent legs:
  *   raw sink ∥ per-batch 1-minute rollup segment (with mergeable HLL
  *   bytes) → rollup sink → date-scoped top-K re-rank over the merged
  *   segments → topk sink (the legacy continuous path's output
  *   tables, restaurant_topk/global_topk).
  *
  * The deduped batch is cached and filled by one count before either
  * leg starts, so the stateful dedup executes once per trigger; the
  * raw leg runs on a second driver thread beside the segment → top-K
  * leg, and the batch ends when both have (a failure in either fails
  * the batch, and the replay rewrites both idempotent partitions).
  *
  * Exactly like the reference forks ONE deduped stream into both
  * sinks (TopKStreamingJob.kt:260,311), [[start]] runs ONE streaming
  * query: the source is read once and dedup state exists once; the
  * fan-out happens inside `foreachBatch` (Spark's one-sink-per-query
  * rule makes that the idiomatic fork point).
  *
  * The rollup table uses the Pinot SEGMENT model: each micro-batch
  * appends its own partial pre-aggregate (idempotently, keyed by
  * batch_id), carrying a mergeable HLL sketch per (window, dims) —
  * Pinot's BYTES column (orders_1m_rollup_schema.json:50-53); readers
  * and the hourly compaction re-aggregate across segments with
  * SUM/HLL_MERGE (orders_1m_rollup_table.json:80) exactly as Pinot
  * queries do (`pinot/README.md` §Sample Queries). A late row lands
  * in its window's next segment instead of being dropped — the
  * strictly-more-accurate cousin of Flink's late-drop; the
  * declarative watermark-finalized variant with Flink drop semantics
  * remains available as [[rollupStream]].
  *
  * State at scale: dedup state is watermark-bounded (keys older than
  * the watermark are evicted — the 1 h TTL analog); the rollup leg
  * holds NO streaming state (segments are per-batch); the top-K
  * refresh touches only the date partitions the batch landed in.
  * Nothing driver-side beyond a bounded list of touched dates.
  */
object StreamingPipeline {

  /** Watermarked event-time stream with derived revenue column. */
  def withEventTime(events: DataFrame, slack: String = "10 seconds"): DataFrame =
    events
      .withColumn("value_cents", round(col("value") * 100).cast("long"))
      .withWatermark("ts", slack)

  /** Streaming first-wins dedup by event_id, state scoped to the
    * watermark (D1 semantics; TTL ≈ watermark horizon).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Streaming 1-minute tumbling rollup (A1/A3/A4): the declarative
    * watermark-finalized variant — each window emits exactly once
    * when the watermark passes it, late rows are dropped (Flink
    * semantics, TopKStreamingJob.kt:311-315). Carries a mergeable
    * DataSketches HLL of users, so windows finalized here can be
    * HLL_MERGE-compacted downstream exactly like the batch path
    * (the segment path of [[start]] carries the same bytes).
    */
  def rollupStream(deduped: DataFrame, dims: Seq[String] = Seq("event_type")): DataFrame =
    deduped
      .groupBy((window(col("ts"), "1 minute").as("w") +: dims.map(col)): _*)
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("sum_value_cents"),
        hll_sketch_agg(col("user_id").cast("string")).as("users_hll"))
      .select(
        (unix_millis(col("w.start")).as("window_start_ms") +: dims.map(col)) ++
          Seq(col("order_count"), col("sum_value_cents"),
            hll_sketch_estimate(col("users_hll")).as("unique_users_est"),
            col("users_hll")): _*)

  /** Rank one micro-batch of finalized rollup rows into per-window
    * top-K (K2 semantics, deterministic tie-break).
    */
  def rankBatch(rollupBatch: DataFrame, k: Int): DataFrame =
    TopK.topKPerKey(rollupBatch, Seq("window_start_ms"),
      Seq(col("order_count").desc, col("sum_value_cents").desc, col("event_type").asc), k)

  /** Idempotent micro-batch append: the batch writes (dynamically
    * overwrites) its own `batch_id=<id>` partition, so a batch
    * retried after a crash REPLACES its previous partial output
    * instead of double-appending — `foreachBatch` is at-least-once,
    * and (batchId, idempotent write) is the standard way to lift it
    * to exactly-once (the reference's 60 s-checkpoint exactly-once
    * claim, TopKStreamingJob.kt:218). Readers see `batch_id` as an
    * ordinary partition column.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** S4: JSON-encode every row (`to_json(struct(*))`) — the value
    * format the reference writes to its output topic
    * (TopKStreamingJob.kt:349-419). Pair with [[jsonSink]] or any
    * Kafka-like value sink.
    */
  def jsonEncode(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** S4: start a JSON-lines file sink (the sandbox stand-in for the
    * reference's Kafka JSON sink; text files of one JSON doc per row).
    */
  def jsonSink(
      df: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    jsonEncode(df).writeStream
      .format("text")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** foreachBatch sink that keeps a materialized serving layout fresh:
    * each (deduped) micro-batch incrementally re-ranks only the date
    * partitions it touches (see [[graft.serving.Serving.refreshWithBatch]];
    * incremental == full-rebuild equality is asserted in ServingSpec).
    * The foreachBatch batch id rides along so a replayed batch is
    * skipped instead of double-merged.
    * Usage: `deduped.writeStream.foreachBatch(servingRefreshSink(root))`.
    */
  def servingRefreshSink(root: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      withCachedBatch(batch) {
        graft.serving.Serving.refreshWithBatch(batch.sparkSession, root, batch, batchId)
      }

  /** Run `body` if the micro-batch holds rows, with `batch` cached for
    * it. The batch is persisted BEFORE its first action, and that
    * action is a full `count`, which fills every partition of the
    * cache: the stateful dedup above the batch then executes once per
    * trigger and every later frame derived from `batch` reads the
    * cached rows. (`isEmpty` first would run the dedup in a job of its
    * own, and every later action would run it again, re-committing the
    * state-store version.)
    */
  private def withCachedBatch(batch: DataFrame)(body: => Unit): Unit = {
    batch.persist()
    try { if (batch.count() > 0) body }
    finally { batch.unpersist(); () }
  }

  /** Run `side` on a second driver thread while `main` runs on this
    * one, and return once both have finished; if either failed, throw
    * (`main`'s error first, `side`'s attached to it). The thread is
    * new, so it inherits this thread's Spark local properties: the
    * query's job group, its SQL execution ids, the active session.
    */
  private def alongside(side: => Unit)(main: => Unit): Unit = {
    val task = new java.util.concurrent.FutureTask[Unit](() => side)
    val thread = new Thread(task, "graft-pipeline-side-leg")
    thread.setDaemon(true)
    thread.start()
    val mainErr = try { main; None } catch { case e: Throwable => Some(e) }
    val sideErr =
      try { task.get(); None }
      catch {
        case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        case e: InterruptedException => task.cancel(true); throw e
      }
    (mainErr, sideErr) match {
      case (Some(m), s) => s.foreach(m.addSuppressed); throw m
      case (None, Some(s)) => throw s
      case _ => ()
    }
  }

  /** One micro-batch → one rollup SEGMENT: the batch's partial
    * (window, dims) pre-aggregate with counts, integer-cents sums and
    * a mergeable HLL sketch of users (real DataSketches bytes — what
    * Pinot stores in its BYTES column and HLL_MERGEs on compaction).
    * Readers re-aggregate across segments; `Rollup.compactHourlyHll`
    * compacts them losslessly.
    */
  def rollupSegment(batch: DataFrame, dims: Seq[String] = Seq("event_type")): DataFrame =
    graft.ops.Rollup.rollup1mHll(batch, dims).drop("unique_users_est")

  /** Re-rank every window of the date partitions `segment` touched,
    * from the merged rollup segments, and dynamically overwrite those
    * dates of the topk table. Deterministic from the (idempotent)
    * rollup table, so a retried batch converges to the same ranks.
    */
  def refreshTopK(spark: SparkSession, rollupPath: String, topkPath: String,
      segment: DataFrame, k: Int, dims: Seq[String] = Seq("event_type")): Unit = {
    // one narrow job over the (persisted, small) segment: a rollup
    // segment has one row per (window, dims), so de-duplicating the
    // dates on the driver is cheaper than a distinct() shuffle job
    val dates = segment
      .select(to_date(timestamp_millis(col("window_start_ms"))).as("p_date"))
      .collect().map(_.getDate(0).toString).distinct.toSeq
    if (dates.nonEmpty) {
      // read through the compaction view: the committed consolidated
      // generation plus unfolded batch partitions. Without periodic
      // compaction this is the plain segment read; WITH it the
      // per-batch re-rank reads a BOUNDED segment set instead of one
      // partition per micro-batch since the date began — the 10×
      // streaming slope run measured the difference as a 28% ev/s sag
      // over 1M events that the compaction tick flattens
      val merged = StateCompactor.readState(spark, rollupPath)
        .withColumn("p_date", to_date(timestamp_millis(col("window_start_ms"))))
        .filter(col("p_date").isin(dates: _*))
        // the touched dates' windows are ranked in ONE partition: the
        // merge and the per-window rank both take it as their
        // clustering, so this is the plan's only exchange, and the
        // dynamic overwrite writes one file per date
        .repartition(1)
        .groupBy((col("window_start_ms") +: dims.map(col)): _*)
        .agg(
          sum(col("order_count")).as("order_count"),
          sum(col("sum_value_cents")).as("sum_value_cents"))
      rankBatch(merged, k)
        .withColumn("p_date", to_date(timestamp_millis(col("window_start_ms"))))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_date")
        .parquet(topkPath)
    }
  }

  /** Bound the pipeline's rollup state to a handful of segment
    * directories: fold committed batch partitions into the next
    * [[StateCompactor]] generation, re-aggregated at the rollup's own
    * (window, dims) grain with the HLL sketches union-merged — so
    * [[refreshTopK]]'s per-batch re-rank reads O(compaction interval)
    * segments, not one per micro-batch since the date began. Run from
    * the scheduled maintenance tick
    * ([[graft.serving.Maintenance.IngestCompact]]), like every ingest
    * state here; replay-safe by [[StateCompactor]]'s
    * strictly-older-than-max fold contract.
    */
  def compactRollupState(spark: SparkSession, rollupPath: String,
      dims: Seq[String] = Seq("event_type")): Unit = {
    val measures = Seq(Merge.Sum("order_count"),
      Merge.Sum("sum_value_cents"), Merge.HllUnion("users_hll"))
    val keys = "window_start_ms" +: dims :+ "hour_of_day" :+ "day_of_week_iso"
    // refuse schema drift loudly: a measure added to rollupSegment
    // but not listed here would silently become a GROUPING KEY, the
    // fold would stop reducing, and the O(batches²) refreshTopK
    // hazard this compaction exists to bound would quietly return
    val schema = spark.read.parquet(rollupPath).schema.fieldNames.toSet
    val unknown = schema -- keys.toSet -- measures.map(_.column).toSet - "batch_id"
    require(unknown.isEmpty,
      s"rollup state at $rollupPath has columns $unknown this compactor " +
        "does not know — add them to compactRollupState's measures (with " +
        "their merge) or keys before folding")
    val absent = (keys ++ measures.map(_.column)).filterNot(schema)
    require(absent.isEmpty,
      s"rollup state at $rollupPath is missing expected columns $absent")
    StateCompactor.compactWith(spark, rollupPath, keys, measures)
  }

  /** Wire the full pipeline as ONE streaming query (single source
    * read, single dedup state — the reference's single-dataflow fork,
    * TopKStreamingJob.kt:260,311) fanning out in `foreachBatch`:
    * raw events are written idempotently under their batch_id
    * partition while, beside them, the batch's rollup segment is
    * written the same way and the touched dates' top-K is re-ranked
    * from the merged segments. All three writes are exactly-once:
    * at-least-once foreachBatch + idempotent (batch-keyed or
    * recomputed-deterministic) writes, and a batch whose either leg
    * failed is not committed, so its replay rewrites both.
    */
  def start(
      spark: SparkSession,
      source: DataFrame,
      rawPath: String,
      rollupPath: String,
      topkPath: String,
      checkpointRoot: String,
      k: Int = 5,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): Seq[StreamingQuery] =
    startWith(source,
      (batch, id) => writeBatchIdempotent(batch, id, rawPath),
      rollupPath, topkPath, checkpointRoot, k, trigger)

  /** [[start]] with the raw leg landing in a [[graft.serving.Tiered]]
    * root's LANDING zone instead of a flat batch-keyed sink: live
    * ingest and the scheduled hot→cold lifecycle then run as ONE
    * pipeline — the maintenance tick
    * ([[graft.serving.Maintenance.Tier]] with `absorbIngest = true`,
    * or [[graft.serving.Tiered.absorb]] directly) folds landed
    * batches into the hot tier and demotes aged dates, while the
    * rollup/top-K legs are untouched. Exactly-once holds end to end:
    * the landing write is the same batch-id dynamic overwrite as the
    * flat sink (replays rewrite their own partition), and the fold is
    * a watermark-guarded staged commit (absorb's scaladoc).
    */
  def startTiered(
      spark: SparkSession,
      source: DataFrame,
      tieredRawRoot: String,
      rollupPath: String,
      topkPath: String,
      checkpointRoot: String,
      k: Int = 5,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): Seq[StreamingQuery] =
    startWith(source,
      (batch, id) => graft.serving.Tiered.landBatch(batch, id, tieredRawRoot),
      rollupPath, topkPath, checkpointRoot, k, trigger)

  private def startWith(
      source: DataFrame,
      rawLeg: (DataFrame, Long) => Unit,
      rollupPath: String,
      topkPath: String,
      checkpointRoot: String,
      k: Int,
      trigger: Trigger): Seq[StreamingQuery] =
    Seq(StreamRunner.start(dedupStream(withEventTime(source)),
        s"$checkpointRoot/pipeline", trigger) { (batch, batchId) =>
      withCachedBatch(batch) {
        alongside(rawLeg(batch, batchId)) {
          val segment = rollupSegment(batch).persist()
          try {
            writeBatchIdempotent(segment, batchId, rollupPath)
            refreshTopK(batch.sparkSession, rollupPath, topkPath, segment, k)
          } finally { segment.unpersist(); () }
        }
      }
    })
}

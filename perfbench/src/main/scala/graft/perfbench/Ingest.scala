package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.serving.Maintenance
import graft.streaming.StreamingPipeline

/** `ingest`: a closed loop of fixed-size micro-batches through
  * `StreamingPipeline.start` (dedup → raw sink → rollup segment →
  * top-K re-rank). The next batch is added once the previous one has
  * committed and so has the watermark-only batch that follows it (the
  * one that evicts dedup state); every `tickEvery` batches the
  * maintenance tick folds the rollup segments, inside the timed window.
  * Serving is idle. The window runs whole cycles of `tickEvery` batches
  * plus their tick until `seconds` have passed, so every run pays ticks
  * at the same rate.
  *
  * Samples are per-batch add→commit times: how long an event takes to
  * reach the committed top-K table. Throughput is events committed per
  * second of the timed window.
  */
object Ingest {
  // the reference's highest tested rate (579 orders/s) times the
  // pipeline's default 10 s trigger
  val batchEvents = 5790
  val stepMs: Double = 1000.0 / 579
  // assumed: the reference compacts hourly, which no run reaches; a
  // tick after every third batch puts two in every run
  val tickEvery = 3
  val baseMs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private val watermarkDelayMs = 10000L

  private final class Pipeline(ctx: Main.Ctx) {
    val spark: SparkSession = ctx.spark
    val root: String = ctx.dir("ingest")
    val raw = s"$root/raw"
    val rollup = s"$root/rollup"
    val topk = s"$root/topk"
    private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem: MemoryStream[EvRow] = MemoryStream[EvRow]
    val fed = mutable.ArrayBuffer.empty[Seq[Gen.Ev]]
    val segmentsRead = mutable.ArrayBuffer.empty[Double]
    val query: StreamingQuery =
      if (!ctx.tr.enabled)
        StreamingPipeline.start(spark, mem.toDF(), raw, rollup, topk, s"$root/ckpt",
          trigger = Trigger.ProcessingTime(0L)).head
      else tracedStart()

    /** `StreamingPipeline.startWith`'s foreachBatch body rebuilt from
      * the same public calls in the same order, one span per call.
      */
    private def tracedStart(): StreamingQuery = {
      val deduped = StreamingPipeline.dedupStream(StreamingPipeline.withEventTime(mem.toDF()))
      deduped.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt/pipeline")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          ctx.span("streaming.batch") {
            if (!batch.isEmpty) {
              batch.persist()
              try {
                ctx.span("streaming.raw_write")(
                  StreamingPipeline.writeBatchIdempotent(batch, batchId, raw))
                val segment = StreamingPipeline.rollupSegment(batch).persist()
                try {
                  ctx.span("streaming.segment")(
                    StreamingPipeline.writeBatchIdempotent(segment, batchId, rollup))
                  segmentsRead += segmentDirs(rollup)
                  ctx.span("streaming.refresh_topk")(
                    StreamingPipeline.refreshTopK(batch.sparkSession, rollup, topk, segment, 5))
                } finally { segment.unpersist(); () }
              } finally { batch.unpersist(); () }
            }
          }
        }
        .start()
    }
    private var maxTs = Long.MinValue

    /** Adds `b` and waits until it is committed and the watermark has
      * moved past it, i.e. its watermark-only follow-up batch is done.
      */
    def feed(b: Seq[Gen.Ev]): Double = {
      val t0 = System.nanoTime()
      fed += b
      maxTs = math.max(maxTs, b.map(_.tsMs).max)
      mem.addData(Main.evRows(b))
      query.processAllAvailable()
      val want = maxTs - watermarkDelayMs
      val giveUp = System.nanoTime() + 60000000000L
      while (query.status.isTriggerActive || watermarkMs(query.lastProgress) < want) {
        query.exception.foreach(e => throw e)
        if (System.nanoTime() > giveUp) throw new IllegalStateException("watermark stuck")
        Thread.sleep(1)
      }
      Main.elapsedMs(t0)
    }

    def tick(): Int = {
      val before = batchDirs(rollup)
      ctx.span("maintenance.tick")(Maintenance.run(spark, Seq(Maintenance.IngestCompact(
        "rollup", s => StreamingPipeline.compactRollupState(s, rollup)))))
      before - batchDirs(rollup)
    }
  }

  private def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p).flatMap(x => Option(x.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)

  private def batchDirs(path: String): Int =
    Option(new java.io.File(path).list()).toSeq.flatten.count(_.startsWith("batch_id="))

  /** Segment directories a re-rank reads: unfolded batch partitions
    * plus the consolidated generation, if any.
    */
  private def segmentDirs(path: String): Double =
    batchDirs(path) + (if (new java.io.File(path, "_consolidated").isDirectory) 1 else 0)

  /** Median planning, commit and whole-trigger times of micro-batches,
    * from `StreamingQueryProgress.durationMs`.
    */
  def triggerMetrics(prog: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    def ms(x: StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(x.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    Seq("streaming.plan_ms" -> Stats.median(prog.map(ms(_, "queryPlanning"))),
      "streaming.commit_ms" -> Stats.median(prog.map(ms(_, "walCommit", "commitOffsets"))),
      "streaming.trigger_ms" -> Stats.median(prog.map(ms(_, "triggerExecution"))))
  }

  def run(ctx: Main.Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val stream = new Gen.Stream(ctx.seed, baseMs, stepMs, 0L, lateFrom = batchEvents)
    val warm = stream.take(batchEvents)
    // set-up: a fresh pipeline plus its first batch, in a cold JVM
    val ts = System.nanoTime()
    val p = new Pipeline(ctx)
    p.feed(warm)
    res.setupS = Main.elapsedMs(ts) / 1000.0
    val folded = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val t0 = System.nanoTime()
    var sent = 0L
    var batches = 0
    while (System.nanoTime() < deadline) {
      (0 until tickEvery).foreach { _ =>
        val b = stream.take(batchEvents)
        res.lat += p.feed(b)
        sent += b.size
        batches += 1
      }
      folded += p.tick()
    }
    res.throughput = sent / (Main.elapsedMs(t0) / 1000.0)
    res.attempted = batches
    val fedAll = p.fed.toSeq
    Gen.shares(fedAll.flatten).foreach { case (k, v) => res.note(f"input $k=$v%.4f") }
    res.note(s"batches=$batches events=$sent batch_events=$batchEvents tick_every=$tickEvery")

    // the committed top-K equals the batch Rollup/TopK over the
    // deduped, late-dropped generated events
    val survivors = Gen.survivors(fedAll)
    val seg = StreamingPipeline.rollupSegment(Main.eventsFrame(spark, survivors))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(sum(col("order_count")).as("order_count"),
        sum(col("sum_value_cents")).as("sum_value_cents"))
    val want = Main.rowsOf(StreamingPipeline.rankBatch(seg, 5))
    val got = Main.rowsOf(spark.read.parquet(p.topk), "p_date")
    val diff = (want.diff(got).size + got.diff(want).size).toLong
    if (diff > 0) res.note(s"top-K mismatch: $diff rows differ from the batch oracle")
    res.failed = math.min(res.attempted, diff)

    val events = fedAll.map(_.size).sum.toDouble
    val bytes = Seq(p.raw, p.rollup, p.topk).map(Main.bytesUnder).sum
    if (ctx.tr.enabled) {
      val tr = ctx.tr
      // the measured pipeline's data batches after its cold first one
      val prog = tr.progress.asScala.toSeq
        .filter(x => x.id == p.query.id && x.numInputRows > 0).drop(1)
      res.layer ++= triggerMetrics(prog)
      res.layer ++= Seq(
        "streaming.raw_write_ms" -> Stats.median(tr.durations("streaming.raw_write")),
        "streaming.segment_ms" -> Stats.median(tr.durations("streaming.segment")),
        "streaming.refresh_topk_ms" -> Stats.median(tr.durations("streaming.refresh_topk")),
        "streaming.batch_self_ms" -> tr.selfMs("streaming.batch"),
        "streaming.segments_read" -> Stats.median(p.segmentsRead.toSeq),
        "streaming.state_rows" -> prog.lastOption.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.late_dropped" -> prog.flatMap(_.stateOperators.headOption)
          .map(_.numRowsDroppedByWatermark.toDouble).sum,
        "streaming.dedup_ratio" -> {
          val in = prog.map(_.numInputRows.toDouble).sum
          if (in == 0) 0.0 else prog.flatMap(_.stateOperators.headOption)
            .map(_.numRowsUpdated.toDouble).sum / in
        },
        "maintenance.tick_ms" -> Stats.median(tr.durations("maintenance.tick")),
        "maintenance.partitions_folded" -> Stats.median(folded.toSeq),
        "tables.store_bytes_per_ev" -> bytes / events)
    }
    res.note(f"store_bytes_per_ev=${bytes / events}%.1f")
    p.query.stop()
    res
  }
}

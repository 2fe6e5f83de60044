package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{ContinuousTopK, StreamingPipeline}

/** Top-level so Spark can re-instantiate it without an outer scope
  * (deserializing encoders reject inner classes).
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming semantics: watermark dedup, windowed rollup emission,
  * late-data drop, continuous top-K state accumulation.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("streaming dedup drops duplicate event_ids within the watermark") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = StreamingPipeline.dedupStream(
      StreamingPipeline.withEventTime(mem.toDF()))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(
        Ev(1, ts(0, 1), 10, "click", 1.0),
        Ev(1, ts(0, 2), 10, "click", 1.0), // dup in same batch
        Ev(2, ts(0, 3), 11, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(1, ts(0, 4), 10, "click", 1.0)) // dup across batches
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming 1m rollup emits closed windows only (watermark) and drops late data") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rollup = StreamingPipeline.rollupStream(
      StreamingPipeline.withEventTime(mem.toDF()))
    val q = rollup.writeStream.format("memory")
      .queryName("rollup_out").outputMode("append").start()
    try {
      mem.addData(
        Ev(1, ts(0, 10), 10, "click", 1.00),
        Ev(2, ts(0, 20), 11, "click", 2.00),
        Ev(3, ts(0, 40), 10, "view", 5.00))
      q.processAllAvailable()
      // advance watermark past 10:00 window end (10:01 + 10s slack)
      mem.addData(Ev(4, ts(2, 0), 12, "click", 3.00))
      q.processAllAvailable()
      // this event is older than the watermark → must be dropped
      mem.addData(Ev(5, ts(0, 50), 13, "click", 100.00))
      q.processAllAvailable()
      mem.addData(Ev(6, ts(4, 0), 12, "click", 3.00)) // close the 10:02 window
      q.processAllAvailable()
      val out = spark.table("rollup_out")
        .select("window_start_ms", "event_type", "order_count", "sum_value_cents")
        .as[(Long, String, Long, Long)].collect().toSet
      val w0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
      val w2 = Timestamp.valueOf("2024-01-01 10:02:00").getTime
      assert(out === Set(
        (w0, "click", 2L, 300L),  // late event 5 NOT counted
        (w0, "view", 1L, 500L),
        (w2, "click", 1L, 300L)))
    } finally q.stop()
  }

  test("continuous top-K accumulates state across micro-batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[ContinuousTopK.ItemUpdate]
    val ranked = ContinuousTopK.rank(spark, mem.toDS(), k = 2)
    val q = ranked.writeStream.format("memory")
      .queryName("topk_out").outputMode("append").start()
    try {
      mem.addData(
        ContinuousTopK.ItemUpdate("r1", "pizza", 3, 300),
        ContinuousTopK.ItemUpdate("r1", "burger", 1, 100))
      q.processAllAvailable()
      mem.addData(
        ContinuousTopK.ItemUpdate("r1", "burger", 5, 500), // burger overtakes
        ContinuousTopK.ItemUpdate("r1", "salad", 2, 200))
      q.processAllAvailable()
      val batches = spark.table("topk_out")
        .as[ContinuousTopK.RankedItem].collect()
      // batch 1 emission: pizza(3) #1, burger(1) #2
      assert(batches.exists(r => r.rank == 1 && r.itemId == "pizza" && r.count == 3))
      assert(batches.exists(r => r.rank == 2 && r.itemId == "burger" && r.count == 1))
      // batch 2 emission (state accumulated): burger(6) #1, pizza(3) #2
      assert(batches.exists(r => r.rank == 1 && r.itemId == "burger" && r.count == 6))
      assert(batches.exists(r => r.rank == 2 && r.itemId == "pizza" && r.count == 3))
      // k=2 → salad never emitted
      assert(!batches.exists(_.itemId == "salad"))
    } finally q.stop()
  }

  test("continuous top-K: an erase tombstone removes the item's running totals; a re-add starts from zero") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[ContinuousTopK.ItemUpdate]
    val ranked = ContinuousTopK.rank(spark, mem.toDS(), k = 3)
    val q = ranked.writeStream.format("memory")
      .queryName("topk_erase_out").outputMode("append").start()
    try {
      mem.addData(
        ContinuousTopK.ItemUpdate("r1", "alice", 5, 500),
        ContinuousTopK.ItemUpdate("r1", "bob", 3, 300),
        ContinuousTopK.ItemUpdate("r1", "carol", 1, 100))
      q.processAllAvailable()
      // right-to-be-forgotten for the live board: alice leaves state
      mem.addData(ContinuousTopK.eraseItem("r1", "alice"))
      q.processAllAvailable()
      val afterErase = spark.table("topk_erase_out")
        .as[ContinuousTopK.RankedItem].collect()
        .groupBy(_.itemId).view.mapValues(_.toSeq).toMap
      // the corrected ranking re-emitted without alice, bob promoted
      assert(afterErase("bob").exists(_.rank == 1))
      assert(afterErase("carol").exists(_.rank == 2))
      // alice never appears past her pre-erase emission (rank 1, count 5)
      assert(afterErase("alice").forall(r => r.rank == 1 && r.count == 5))
      // a later re-add starts from ZERO, not from the erased totals
      mem.addData(ContinuousTopK.ItemUpdate("r1", "alice", 1, 100))
      q.processAllAvailable()
      val all = spark.table("topk_erase_out")
        .as[ContinuousTopK.RankedItem].collect()
      // fresh count 1 ties carol; id asc puts alice at rank 2
      assert(all.exists(r => r.itemId == "alice" && r.count == 1 && r.rank == 2))
      assert(!all.exists(r => r.itemId == "alice" && r.count == 6))
    } finally q.stop()
  }

  test("continuous top-K: same-batch erase + re-add fold in event-time order, not shuffle arrival order") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def fold(updates: ContinuousTopK.ItemUpdate*): Map[String, (Long, Long)] = {
      val st = TestGroupState.create[ContinuousTopK.TopKState](
        org.apache.spark.api.java.Optional.of(
          ContinuousTopK.TopKState(Map("alice" -> ((5L, 500L))))),
        GroupStateTimeout.NoTimeout, 0L,
        org.apache.spark.api.java.Optional.empty[Long](), false)
      ContinuousTopK.updateGroup(3, 100, None)("r1", updates.iterator, st).toSeq
      st.get.metrics
    }
    // ADVERSE arrival order: the re-add (ts 2000) reaches the group
    // iterator BEFORE the tombstone (ts 1000) — post-shuffle order is
    // arbitrary. Event-time folding must erase first, then re-add.
    val got = fold(
      ContinuousTopK.ItemUpdate("r1", "alice", 1, 100, ts(2000)),
      ContinuousTopK.eraseItem("r1", "alice", ts(1000)))
    assert(got("alice") === ((1L, 100L)),
      "re-add after erase must count from zero, not be wiped")
    // equal timestamps: the tombstone folds first, so the re-add wins
    val tied = fold(
      ContinuousTopK.ItemUpdate("r1", "alice", 2, 200, ts(1000)),
      ContinuousTopK.eraseItem("r1", "alice", ts(1000)))
    assert(tied("alice") === ((2L, 200L)))
  }

  test("continuous top-K: idle keys are evicted after the event-time TTL") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[ContinuousTopK.ItemUpdate]
    val updates = mem.toDS().withWatermark("ts", "0 seconds")
    val ranked = ContinuousTopK.rank(spark, updates, k = 2, idleTtlMs = Some(60000L))
    val q = ranked.writeStream.format("memory")
      .queryName("topk_ttl_out").outputMode("append").start()
    try {
      mem.addData(
        ContinuousTopK.ItemUpdate("idle", "pizza", 3, 300, ts(0, 0)),
        ContinuousTopK.ItemUpdate("live", "taco", 1, 100, ts(0, 0)))
      q.processAllAvailable()
      // only the live key keeps receiving data; the watermark advances
      // far past idle's (last update + 60 s) timer → its state drops
      mem.addData(ContinuousTopK.ItemUpdate("live", "taco", 1, 100, ts(5, 0)))
      q.processAllAvailable()
      mem.addData(ContinuousTopK.ItemUpdate("live", "taco", 1, 100, ts(6, 0)))
      q.processAllAvailable()
      // the idle key returns: a surviving state would resume at 3+1=4;
      // a dropped one restarts at 1
      mem.addData(ContinuousTopK.ItemUpdate("idle", "pizza", 1, 100, ts(7, 0)))
      q.processAllAvailable()
      val counts = spark.table("topk_ttl_out")
        .as[ContinuousTopK.RankedItem].collect()
        .filter(r => r.groupKey == "idle" && r.itemId == "pizza").map(_.count).toSet
      assert(counts === Set(3L, 1L), s"expected fresh state after eviction, got $counts")
    } finally q.stop()
  }

  test("full pipeline: raw + rollup + topk parquet sinks") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[Ev]
    // AvailableNow + awaitTermination per phase: each run drains
    // exactly the data added so far and terminates — deterministic,
    // no wall-clock trigger to race under suite load.
    def drain(): Unit = {
      val qs = StreamingPipeline.start(spark, mem.toDF(),
        s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
    }
    mem.addData(
      Ev(1, ts(0, 1), 10, "click", 1.0),
      Ev(1, ts(0, 1), 10, "click", 1.0),
      Ev(2, ts(0, 2), 11, "view", 2.0),
      Ev(3, ts(0, 3), 12, "click", 3.0))
    drain()
    mem.addData(Ev(9, ts(5, 0), 10, "click", 1.0)) // advance watermark
    drain()
    mem.addData(Ev(10, ts(9, 0), 10, "click", 1.0)) // flush again
    drain()
    assert(spark.read.parquet(s"$dir/raw").count() === 5) // dedup dropped the dup
    val w0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    assert(spark.read.parquet(s"$dir/rollup")
      .filter(col("window_start_ms") === w0)
      .agg(sum("order_count")).head.getLong(0) === 3L)
    assert(spark.read.parquet(s"$dir/topk").filter(col("rank") === 1).count() > 0)
  }

  test("tiered pipeline: landing→absorb→demote mid-stream, topk/rollup identical to the flat pipeline") {
    implicit val sql = spark.sqlContext
    def dts(day: Int, h: Int) = Timestamp.valueOf(f"2024-01-0$day $h%02d:00:00")
    val sortCols = Seq("event_type", "ts")
    // three micro-batches over three days. Batch 2 re-sends event 2
    // (dedup must hold through the tiered leg) and carries event 4 —
    // a day-2 row, WITHIN the watermark, that lands AFTER the
    // mid-stream tick demoted day 2: the live backfill the final
    // tick must fold into the cold file as a union. (A days-late row
    // would be dropped by the pipeline's watermark before ever
    // reaching the raw leg — W4 — so the demoted-date backfill case
    // is exactly this shape.)
    val b1 = Seq(Ev(1, dts(1, 9), 10, "click", 1.0),
      Ev(2, dts(1, 10), 11, "view", 2.0), Ev(3, dts(2, 9), 12, "click", 3.0))
    val b2 = Seq(Ev(2, dts(1, 10), 11, "view", 2.0),
      Ev(4, dts(2, 10), 10, "view", 4.0), Ev(5, dts(3, 9), 11, "click", 5.0))
    val b3 = Seq(Ev(7, dts(3, 10), 10, "click", 7.0))
    def tick(root: String): Seq[String] =
      graft.serving.Maintenance.run(spark, Seq(graft.serving.Maintenance.Tier(
        root, sortCols, hotDays = 0, nowDate = "2024-01-03",
        absorbIngest = true, bloomCol = Some("event_id"),
        coldBloomCols = Seq("user_id"))))
    def run(tiered: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_tiered_pipe").toString
      val mem = MemoryStream[Ev]
      def drain(): Unit = {
        val qs =
          if (tiered) StreamingPipeline.startTiered(spark, mem.toDF(),
            s"$dir/troot", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
            trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
          else StreamingPipeline.start(spark, mem.toDF(),
            s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
            trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      }
      mem.addData(b1); drain()
      // mid-stream lifecycle tick: absorb batch 1, demote days 1-2
      if (tiered) {
        val msgs = tick(s"$dir/troot")
        assert(msgs.exists(_.startsWith("absorbed:")), msgs.toString)
        assert(msgs.exists(_.contains("p_date=2024-01-01")) &&
          msgs.exists(_.contains("p_date=2024-01-02")), msgs.toString)
      }
      mem.addData(b2); drain()
      mem.addData(b3); drain()
      if (tiered) assert(tick(s"$dir/troot").exists(_.startsWith("absorbed:")))
      dir
    }
    val flat = run(tiered = false)
    val tiered = run(tiered = true)
    // the serving legs must not notice the raw leg's storage shape
    // (binary HLL sketches compare by md5 — Row.toString would show
    // array identity, not content)
    def sorted(d: String, table: String) = {
      val df0 = spark.read.parquet(s"$d/$table").drop("batch_id")
      val cols = df0.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType)
          md5(col(f.name)).as(f.name)
        else col(f.name)
      }
      df0.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    assert(sorted(tiered, "rollup") === sorted(flat, "rollup"))
    assert(sorted(tiered, "topk") === sorted(flat, "topk"))
    // the tiered raw table serves the same deduped fact as the flat
    // sink, with day 1 (including the post-demote backfill after the
    // final tick folded it) cold and days 2-3 hot
    import graft.serving.Tiered
    val troot = s"$tiered/troot"
    val raw = Tiered.read(spark, troot)
    assert(raw.select($"event_id").as[Long].collect().toSet ===
      spark.read.parquet(s"$flat/raw").select($"event_id").as[Long].collect().toSet)
    assert(raw.count() === 6, "dedup lost or duplicated rows through the tiered leg")
    val cold = Tiered.tier(spark, troot, "cold")
      .select($"event_id").as[Long].collect().toSet
    assert(cold === Set(1L, 2L, 3L, 4L),
      s"days 1-2 (incl. event 4's post-demote backfill) not all cold: $cold")
    // landing zone fully drained after the final tick
    val landing = new java.io.File(Tiered.landingDir(troot))
    assert(!landing.exists() ||
      landing.listFiles().count(_.getName.startsWith("batch_id=")) === 0)
  }

  test("rollup-state compaction between batches: identical topk + state view, fewer segment dirs") {
    implicit val sql = spark.sqlContext
    def run(compact: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_cmp").toString
      val mem = MemoryStream[Ev]
      def drain(): Unit = {
        val qs = StreamingPipeline.start(spark, mem.toDF(),
          s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      }
      mem.addData(
        Ev(1, ts(0, 1), 10, "click", 1.0),
        Ev(2, ts(0, 2), 11, "view", 2.0))
      drain()
      mem.addData(Ev(3, ts(1, 0), 12, "click", 3.0),
        Ev(4, ts(5, 0), 10, "view", 1.0))
      drain()
      if (compact) StreamingPipeline.compactRollupState(spark, s"$dir/rollup")
      mem.addData(Ev(9, ts(9, 0), 10, "click", 1.0))
      drain()
      dir
    }
    val plain = run(compact = false)
    val ticked = run(compact = true)
    def topk(d: String) = spark.read.parquet(s"$d/topk")
      .select("window_start_ms", "event_type", "rank", "order_count")
      .collect().map(_.toString).sorted.toSeq
    assert(topk(ticked) === topk(plain))
    def state(d: String) = graft.streaming.StateCompactor
      .readState(spark, s"$d/rollup")
      .select("window_start_ms", "event_type", "order_count", "sum_value_cents")
      .collect().map(_.toString).sorted.toSeq
    assert(state(ticked) === state(plain))
    def batchDirs(d: String) = new java.io.File(s"$d/rollup")
      .listFiles().count(_.getName.startsWith("batch_id="))
    assert(batchDirs(ticked) < batchDirs(plain),
      s"expected folded segment dirs: ticked=${batchDirs(ticked)} plain=${batchDirs(plain)}")
  }

  test("streaming rollup segments HLL_MERGE-compact to the batch-built hourly rollup") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hllseg").toString
    val mem = MemoryStream[Ev]
    def drain(): Unit = {
      val qs = StreamingPipeline.start(spark, mem.toDF(),
        s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
    }
    // batch 2 lands inside the 10:05 window batch 1 opened (and above
    // batch 1's watermark 10:04:50), so one window spans two segments
    // with different users — exercising HLL union across segments.
    val evs = Seq(
      Ev(1, ts(0, 1), 10, "click", 1.0),
      Ev(2, ts(5, 0), 11, "click", 2.0),
      Ev(3, ts(5, 10), 10, "click", 3.0),
      Ev(4, ts(5, 20), 12, "view", 4.0))
    mem.addData(evs.take(2)); drain()
    mem.addData(evs.drop(2)); drain()

    import graft.ops.{Dedup, Rollup}
    val streamHourly = Rollup.compactHourlyHll(spark.read.parquet(s"$dir/rollup"))
    val batchEvents = Dedup.anyWins(
      evs.toDF().withColumn("value_cents", round(col("value") * 100).cast("long")),
      Seq("event_id"))
    val batchHourly = Rollup.compactHourlyHll(Rollup.rollup1mHll(batchEvents))
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("hour_start_ms", "event_type", "order_count", "sum_value_cents", "unique_users_est")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(key(streamHourly) === key(batchHourly),
      "hourly compaction over streaming segments must equal the batch-built hourly rollup")
  }

  test("pipeline is ONE query with ONE dedup: single source read, single dedup state") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_onequery").toString
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0, 1), 10, "click", 1.0))
    val qs = StreamingPipeline.start(spark, mem.toDF(),
      s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      assert(qs.size === 1, "raw + rollup + topk must fan out from one streaming query")
      qs.foreach(_.awaitTermination())
      val plan = {
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos))(qs.head.explain())
        bos.toString
      }
      // exactly one stateful dedup operator in the physical plan
      val dedups = "StreamingDeduplicateWithinWatermark ".r.findAllIn(plan).size
      assert(dedups === 1, s"dedup state must exist exactly once:\n$plan")
    } finally qs.foreach(_.stop())
  }

  test("idempotent batch write: a retried batch replaces, not appends") {
    val path = java.nio.file.Files.createTempDirectory("graft_idem").toString + "/t"
    val df = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "v")
    StreamingPipeline.writeBatchIdempotent(df, 7L, path)
    StreamingPipeline.writeBatchIdempotent(df, 7L, path) // simulated crash-retry
    StreamingPipeline.writeBatchIdempotent(df.filter($"id" === 1L), 8L, path)
    val out = spark.read.parquet(path)
    assert(out.count() === 3) // batch 7 not doubled
    assert(out.filter($"batch_id" === 7L).count() === 2)
  }

  test("restart from checkpoint: no duplicate rows, dedup state survives") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val srcDir = s"$root/src"
    def writeSrc(evs: Ev*): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    def mkSource() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"))
      .parquet(srcDir)
    def run(): Unit = {
      val qs = StreamingPipeline.start(spark, mkSource(),
        s"$root/raw", s"$root/rollup", s"$root/topk", s"$root/ckpt", k = 2,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      qs.foreach(_.awaitTermination())
    }
    writeSrc(
      Ev(1, ts(0, 1), 10, "click", 1.0),
      Ev(2, ts(0, 2), 11, "view", 2.0))
    run()
    writeSrc(
      Ev(1, ts(0, 3), 10, "click", 1.0), // dup of run-1 event: state must survive
      Ev(3, ts(0, 4), 12, "click", 3.0),
      Ev(9, ts(5, 0), 13, "click", 1.0)) // watermark advance
    run()
    val raw = spark.read.parquet(s"$root/raw")
    assert(raw.count() === 4) // 5 inputs, cross-restart dup dropped
    assert(raw.select("event_id").distinct().count() === 4)
    val rollup = spark.read.parquet(s"$root/rollup")
    val w0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    assert(rollup.filter(col("window_start_ms") === w0)
      .agg(sum("order_count")).head.getLong(0) === 3L)
  }

  /** Per micro-batch of the query `run` drives, the executed stages
    * that ran the stateful dedup: a `StateStoreRDD` in the stage's
    * lineage whose state-store metrics (state rows, store instances)
    * the stage's tasks updated. A stage that reads the cached batch
    * lists the same RDD in its lineage but updates none of them; an
    * `isEmpty` pass, which stops each partition after one row, updates
    * its rows counter without committing a store.
    */
  private def dedupStagesPerBatch(run: => java.util.UUID): Map[Long, Int] = {
    import org.apache.spark.scheduler._
    val batchOf = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          batchOf.put(e.stageInfo.stageId, (q, b.toLong))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (si.rddInfos.exists(_.name == "StateStoreRDD") &&
            si.accumulables.values.exists(_.name.exists(_.contains("state"))))
          Option(batchOf.get(si.stageId)).foreach(ran.add)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val queryId =
      try { val id = run; org.apache.spark.ListenerDrain(spark.sparkContext); id }
      finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    ran.asScala.toSeq.collect { case (q, b) if q == queryId.toString => b }
      .groupBy(identity).map { case (b, xs) => b -> xs.size }
  }

  test("the stateful dedup executes once per trigger (pipeline and serving-refresh sink)") {
    implicit val sql = spark.sqlContext
    val batches = (0 until 3).map(b => (0 until 20).map(i =>
      Ev(b * 100L + i, ts(b * 3, i), i % 5, if (i % 3 == 0) "click" else "view", i.toDouble)))
    // each drain runs one data batch (and any watermark-only batch
    // after it) to completion, so no trigger is cut short by a stop
    def drain(start: => Seq[org.apache.spark.sql.streaming.StreamingQuery]): java.util.UUID = {
      val qs = start
      try { qs.foreach(_.awaitTermination()); qs.head.id } finally qs.foreach(_.stop())
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_once").toString
    val mem = MemoryStream[Ev]
    val pipeline = dedupStagesPerBatch {
      batches.map { b =>
        mem.addData(b)
        drain(StreamingPipeline.start(spark, mem.toDF(),
          s"$dir/raw", s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      }.last
    }
    assert(spark.read.parquet(s"$dir/raw").count() === 60)
    assert(pipeline.size >= 3 && pipeline.values.forall(_ == 1),
      s"dedup stages per batch: $pipeline")

    val root = java.nio.file.Files.createTempDirectory("graft_dedup_once_srs").toString
    graft.serving.Serving.materializeInto(spark, root,
      StreamingPipeline.withEventTime(batches.head.take(2).toDF()))
    val mem2 = MemoryStream[Ev]
    val sink = dedupStagesPerBatch {
      batches.map { b =>
        mem2.addData(b)
        drain(Seq(StreamingPipeline.dedupStream(StreamingPipeline.withEventTime(mem2.toDF()))
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch(StreamingPipeline.servingRefreshSink(root))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()))
      }.last
    }
    assert(sink.size >= 3 && sink.values.forall(_ == 1), s"dedup stages per batch: $sink")
  }

  test("overlapped legs: a raw leg failing on a batch's first attempt fails it; the replay restores exactly-once") {
    implicit val sql = spark.sqlContext
    import graft.serving.Tiered
    val dir = java.nio.file.Files.createTempDirectory("graft_overlap").toString
    val troot = s"$dir/troot"
    val mem = MemoryStream[Ev]
    def start() = StreamingPipeline.startTiered(spark, mem.toDF(),
      troot, s"$dir/rollup", s"$dir/topk", s"$dir/ckpt", k = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val b1 = Seq(Ev(1, ts(0, 1), 10, "click", 1.0), Ev(1, ts(0, 1), 10, "click", 1.0),
      Ev(2, ts(0, 2), 11, "view", 2.0), Ev(3, ts(1, 3), 12, "click", 3.0),
      Ev(4, ts(1, 4), 13, "cart", 4.0))
    val b2 = Seq(Ev(2, ts(0, 2), 11, "view", 2.0), // cross-batch duplicate
      Ev(5, ts(1, 5), 10, "click", 5.0), Ev(6, ts(2, 6), 11, "view", 6.0))
    // a regular file where the landing directory goes: the raw leg's
    // first attempt cannot write, while the rollup leg beside it can
    val blocker = new java.io.File(Tiered.landingDir(troot))
    blocker.getParentFile.mkdirs()
    assert(blocker.createNewFile())
    mem.addData(b1)
    val qs = start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      qs.foreach(_.awaitTermination()))
    finally qs.foreach(_.stop())
    assert(new java.io.File(s"$dir/rollup/batch_id=0").isDirectory,
      "the rollup leg ran beside the failed raw leg, so the replay must overwrite it")
    assert(blocker.delete())
    def drain(): Unit = { val q = start(); try q.foreach(_.awaitTermination()) finally q.foreach(_.stop()) }
    drain() // replays batch 0 from the checkpoint
    mem.addData(b2)
    drain()

    val oracle = StreamingPipeline.withEventTime((b1 ++ b2).toDF())
      .dropDuplicates("event_id")
    val landing = Tiered.landingDir(troot)
    assert(spark.read.option("basePath", landing).parquet(s"$landing/batch_id=*")
      .select($"event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val want = StreamingPipeline.rollupSegment(oracle)
      .groupBy($"window_start_ms", $"event_type")
      .agg(sum($"order_count").as("order_count"), sum($"sum_value_cents").as("sum_value_cents"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = graft.streaming.StateCompactor.readState(spark, s"$dir/rollup")
      .groupBy($"window_start_ms", $"event_type")
      .agg(sum($"order_count").as("order_count"), sum($"sum_value_cents").as("sum_value_cents"))
    assert(rows(got) === rows(want))
    assert(rows(spark.read.parquet(s"$dir/topk").drop("p_date")) ===
      rows(StreamingPipeline.rankBatch(want, 2)))
  }
}

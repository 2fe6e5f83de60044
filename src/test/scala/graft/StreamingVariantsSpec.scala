package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Rollup
import graft.streaming.{ContinuousTopK, PerElementTopK, StreamRunner, TimerDedup}

/** D2 timer-dedup TTL semantics, the A5 processing-time rollup, and
  * the K1 per-element emission variant.
  */
class StreamingVariantsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("per-element top-K emits a full ranked snapshot for EVERY element") {
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // transformWithState requires the RocksDB state store
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[ContinuousTopK.ItemUpdate]
      val ranked = PerElementTopK.rank(spark, mem.toDS(), k = 2)
      val q = ranked.writeStream.format("memory")
        .queryName("pe_topk").outputMode("append").start()
      try {
        mem.addData(
          ContinuousTopK.ItemUpdate("r1", "pizza", 1, 100),
          ContinuousTopK.ItemUpdate("r1", "burger", 1, 200),
          ContinuousTopK.ItemUpdate("r1", "pizza", 1, 100))
        q.processAllAvailable()
        mem.addData(ContinuousTopK.ItemUpdate("r1", "salad", 5, 500))
        q.processAllAvailable()
        val rows = spark.table("pe_topk").as[PerElementTopK.ElementRanked].collect().toSeq
        // Flink's grain: one full top-K snapshot per ELEMENT —
        // 1 row after the first element, 2 after each of the rest
        assert(rows.groupBy(_.seq).view.mapValues(_.size).toMap ===
          Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2))
        // snapshot after the first batch's 3 elements: pizza(2) > burger(1)
        val third = rows.filter(_.seq == 3L).sortBy(_.rank)
        assert(third.map(r => (r.itemId, r.count)) === Seq(("pizza", 2L), ("burger", 1L)))
        // seq survives the batch boundary; salad(5) takes rank 1
        val fourth = rows.filter(_.seq == 4L).sortBy(_.rank)
        assert(fourth.map(_.itemId) === Seq("salad", "pizza"))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("per-element top-K: an erase tombstone removes the item mid-stream; re-emission excludes it") {
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[ContinuousTopK.ItemUpdate]
      val ranked = PerElementTopK.rank(spark, mem.toDS(), k = 2)
      val q = ranked.writeStream.format("memory")
        .queryName("pe_topk_erase").outputMode("append").start()
      try {
        mem.addData(
          ContinuousTopK.ItemUpdate("r1", "alice", 5, 500),
          ContinuousTopK.ItemUpdate("r1", "bob", 1, 100))
        q.processAllAvailable()
        mem.addData(ContinuousTopK.eraseItem("r1", "alice"))
        q.processAllAvailable()
        val rows = spark.table("pe_topk_erase")
          .as[PerElementTopK.ElementRanked].collect().toSeq
        // the tombstone is an element: it bumps seq and re-emits the
        // corrected board — bob alone, alice's totals gone from state
        val afterErase = rows.filter(_.seq == 3L)
        assert(afterErase.map(r => (r.itemId, r.rank, r.count)) === Seq(("bob", 1, 1L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("per-element top-K: same-batch erase + re-add fold in event-time order") {
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[ContinuousTopK.ItemUpdate]
      val ranked = PerElementTopK.rank(spark, mem.toDS(), k = 2)
      val q = ranked.writeStream.format("memory")
        .queryName("pe_topk_order").outputMode("append").start()
      try {
        mem.addData(ContinuousTopK.ItemUpdate("r1", "alice", 5, 500, ts("2024-01-01 00:00:00")))
        q.processAllAvailable()
        // ADVERSE order in one batch: the re-add is ADDED first, the
        // tombstone second, but its event time is EARLIER — the fold
        // must erase first, then re-add from zero
        mem.addData(
          ContinuousTopK.ItemUpdate("r1", "alice", 1, 100, ts("2024-01-01 00:00:02")),
          ContinuousTopK.eraseItem("r1", "alice", ts("2024-01-01 00:00:01")))
        q.processAllAvailable()
        val rows = spark.table("pe_topk_order")
          .as[PerElementTopK.ElementRanked].collect().toSeq
        // last snapshot (seq 3): alice present with the RE-ADD totals
        val last = rows.filter(_.seq == 3L)
        assert(last.map(r => (r.itemId, r.count, r.valueCents)) === Seq(("alice", 1L, 100L)),
          s"re-add wiped by unordered fold: $rows")
        // the intermediate snapshot (seq 2, post-erase) is empty board
        assert(rows.filter(_.seq == 2L).isEmpty)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("per-element top-K idle TTL evicts the snapshot; key restarts fresh") {
    implicit val sql = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Processing-time mode schedules no-data batches forever (the
    // operator's shouldRunAnotherBatch keeps the TTL clock advancing),
    // so processAllAvailable never settles. Disable no-data batches:
    // TTL enforcement doesn't need them — RocksDB checks the recorded
    // expiration on every get(), so an expired snapshot reads as
    // absent in the next REAL batch either way.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.getOption(ndKey)
    spark.conf.set(ndKey, "false")
    try {
      val mem = MemoryStream[ContinuousTopK.ItemUpdate]
      val ranked = PerElementTopK.rank(spark, mem.toDS(), k = 2,
        idleTtl = Some(java.time.Duration.ofMillis(300)))
      val q = ranked.writeStream.format("memory")
        .queryName("pe_topk_ttl").outputMode("append").start()
      try {
        mem.addData(ContinuousTopK.ItemUpdate("r1", "pizza", 3, 300))
        q.processAllAvailable()
        // idle well past the TTL so r1's snapshot is expired
        Thread.sleep(1500)
        mem.addData(ContinuousTopK.ItemUpdate("r1", "burger", 1, 100))
        q.processAllAvailable()
        val rows = spark.table("pe_topk_ttl")
          .as[PerElementTopK.ElementRanked].collect().toSeq
        // batch 1 emitted pizza at seq 1; after eviction the key
        // restarts: seq back to 1, pizza's counts gone (live state
        // would emit seq 2 with pizza still ranked first)
        val afterIdle = rows.filter(_.itemId == "burger")
        assert(afterIdle.map(r => (r.seq, r.rank, r.count)) === Seq((1L, 1, 1L)))
        assert(rows.size === 2) // one row per element — no carried items
      } finally q.stop()
    } finally {
      prevNd match {
        case Some(v) => spark.conf.set(ndKey, v)
        case None    => spark.conf.unset(ndKey)
      }
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streaming session windows equal batch sessionize on closed sessions") {
    implicit val sql = spark.sqlContext
    import graft.ops.Sessionize
    val mem = MemoryStream[TimerDedup.Ev]
    // same operator, batch and stream: Sessionize.sessions is the
    // q_sessionize code path — this pins the streaming half of the
    // "session_window works in both modes" claim
    val sessions = Sessionize.sessions(
      mem.toDF().withWatermark("ts", "10 seconds"),
      keyCol = "user_id", tsCol = "ts", gap = "30 minutes",
      valueCol = "value_cents")
    val q = sessions.writeStream.format("memory")
      .queryName("stream_sessions").outputMode("append").start()
    try {
      val evs = Seq(
        TimerDedup.Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 100),
        TimerDedup.Ev(2, ts("2024-01-01 10:10:00"), 7, "click", 200),  // same session
        TimerDedup.Ev(3, ts("2024-01-01 10:40:00"), 7, "click", 300),  // merges (gap = 30m exactly)
        TimerDedup.Ev(4, ts("2024-01-01 11:30:01"), 7, "click", 400),  // gap > 30m: new session
        TimerDedup.Ev(5, ts("2024-01-01 10:05:00"), 8, "view", 500))   // other key
      mem.addData(evs: _*)
      q.processAllAvailable()
      // advance the watermark far past every session end so append
      // mode emits them all (key 99 is the flush anchor, excluded)
      mem.addData(TimerDedup.Ev(6, ts("2024-01-02 00:00:00"), 99, "flush", 0))
      q.processAllAvailable()
      import org.apache.spark.sql.functions.col
      val got = spark.table("stream_sessions")
        .filter(col("user_id") =!= 99)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = Sessionize.sessions(
        evs.toDF(), keyCol = "user_id", tsCol = "ts", gap = "30 minutes",
        valueCol = "value_cents")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got === want)
      // sanity on the semantics themselves: user 7 has two sessions,
      // the first spanning 10:00–11:10 (3 events, end = last + gap)
      assert(want.count(_._1 == 7L) === 2)
      assert(want.exists(s => s._1 == 7L && s._4 == 3L &&
        s._2 == ts("2024-01-01 10:00:00").getTime &&
        s._3 == ts("2024-01-01 11:10:00").getTime))
    } finally q.stop()
  }

  test("timer dedup: suppresses within TTL, re-admits the key after expiry") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[TimerDedup.Ev]
    val deduped = TimerDedup.dedup(spark,
      mem.toDS().withWatermark("ts", "10 seconds").as[TimerDedup.Ev],
      ttlMs = 60L * 1000)
    val q = deduped.writeStream.format("memory")
      .queryName("timer_dedup_out").outputMode("append").start()
    try {
      mem.addData(
        TimerDedup.Ev(1, ts("2024-01-01 10:00:01"), 10, "click", 100),
        TimerDedup.Ev(1, ts("2024-01-01 10:00:02"), 11, "click", 100), // in-batch dup
        TimerDedup.Ev(2, ts("2024-01-01 10:00:03"), 12, "view", 200))
      q.processAllAvailable()
      mem.addData(TimerDedup.Ev(1, ts("2024-01-01 10:00:30"), 13, "click", 100)) // within TTL
      q.processAllAvailable()
      // watermark far past id1's 10:01:01 timer → state cleared
      mem.addData(TimerDedup.Ev(9, ts("2024-01-01 10:20:00"), 14, "click", 100))
      q.processAllAvailable()
      mem.addData(TimerDedup.Ev(1, ts("2024-01-01 10:25:00"), 15, "click", 100)) // re-admitted
      q.processAllAvailable()
      val got = spark.table("timer_dedup_out")
        .select("event_id", "user_id").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 10L), (2L, 12L), (9L, 14L), (1L, 15L)))
    } finally q.stop()
  }

  test("streaming partial upsert converges to the batch merge under any split") {
    import graft.streaming.PartialUpsertStream
    // user 7: purchase (sets cents) then a LATER click (sets click
    // time) arriving in an EARLIER batch than an out-of-order middle
    // purchase — the per-field ord guard must keep the latest setter
    // per field, not the latest batch's
    val events = Seq(
      TimerDedup.Ev(1, ts("2024-01-01 10:00:00"), 7, "purchase", 500),
      TimerDedup.Ev(2, ts("2024-01-01 10:30:00"), 7, "click", 0),
      TimerDedup.Ev(3, ts("2024-01-01 10:10:00"), 7, "purchase", 900), // out of order
      TimerDedup.Ev(4, ts("2024-01-01 10:05:00"), 8, "view", 0))
    val batchExpected = graft.ops.Dedup.partialUpsert(
        graft.ops.Dedup.profilePatches(events.toDF()), "user_id", col("ord"),
        Seq(
          "last_type" -> col("typ"),
          "last_purchase_cents" -> col("purchase_cents"),
          "last_click_ms" -> col("click_ms")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[java.lang.Long](2)).map(_.toLong),
        Option(r.getAs[java.lang.Long](3)).map(_.toLong)))
      .toSet
    for (splitAt <- Seq(0, 1, 2, 3)) {
      implicit val sql = spark.sqlContext
      val mem = MemoryStream[TimerDedup.Ev]
      val profiles = PartialUpsertStream.profiles(spark,
        PartialUpsertStream.patchesOf(spark, mem.toDF()))
      val last = new java.util.concurrent.ConcurrentHashMap[Long, PartialUpsertStream.Profile]()
      val q = profiles.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PartialUpsertStream.Profile], _: Long) =>
          b.collect().foreach(p => last.put(p.user_id, p))
        }.start()
      try {
        val (a, b) = events.splitAt(splitAt)
        if (a.nonEmpty) { mem.addData(a: _*); q.processAllAvailable() }
        if (b.nonEmpty) { mem.addData(b: _*); q.processAllAvailable() }
        import scala.jdk.CollectionConverters._
        val got = last.asScala.values
          .map(p => (p.user_id, p.last_type, p.last_purchase_cents, p.last_click_ms))
          .toSet
        assert(got === batchExpected, s"splitAt=$splitAt")
      } finally q.stop()
    }
  }

  test("streaming user growth: first-seen days converge to batch under any split") {
    import graft.streaming.UserGrowthStream
    val day = 86400000L
    // user 7's day-0 event arrives AFTER its day-2 event (out of
    // order across batches) — min-merge must settle on day 0
    val events = Seq(
      TimerDedup.Ev(1, new Timestamp(2 * day + 5000), 7, "click", 0),
      TimerDedup.Ev(2, new Timestamp(1 * day + 1000), 8, "view", 0),
      TimerDedup.Ev(3, new Timestamp(0 * day + 9000), 7, "click", 0),
      TimerDedup.Ev(4, new Timestamp(2 * day + 7000), 9, "purchase", 0))
    val batchExpected = events.groupBy(_.user_id)
      .map { case (u, es) => u -> es.map(_.ts.getTime / day).min }
    for (splitAt <- Seq(0, 1, 2, 3)) {
      implicit val sql = spark.sqlContext
      val mem = MemoryStream[TimerDedup.Ev]
      val updates = UserGrowthStream.firstSeen(spark, mem.toDF())
      val last = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val q = updates.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[UserGrowthStream.FirstSeen], _: Long) =>
          b.collect().foreach(f => last.put(f.user_id, f.first_day))
        }.start()
      try {
        val (a, b) = events.splitAt(splitAt)
        if (a.nonEmpty) { mem.addData(a: _*); q.processAllAvailable() }
        if (b.nonEmpty) { mem.addData(b: _*); q.processAllAvailable() }
        import scala.jdk.CollectionConverters._
        assert(last.asScala.toMap === batchExpected, s"splitAt=$splitAt")
      } finally q.stop()
    }
  }

  test("streaming sliding-window active users equals batch on closed windows") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[TimerDedup.Ev]
    // countDistinct is not allowed in streaming aggs; the distinct-set
    // state is size(collect_set) — same result, per-window bounded
    val slid = mem.toDF().withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(size(collect_set(col("user_id"))).cast("long").as("n_users"))
      .select(unix_millis(col("w.start")).as("window_start_ms"), col("n_users"))
    val q = slid.writeStream.format("memory")
      .queryName("stream_sliding").outputMode("append").start()
    try {
      val evs = Seq(
        TimerDedup.Ev(1, ts("2024-01-01 10:00:00"), 7, "click", 0),
        TimerDedup.Ev(2, ts("2024-01-01 10:20:00"), 7, "click", 0), // same user
        TimerDedup.Ev(3, ts("2024-01-01 10:20:00"), 8, "view", 0),
        TimerDedup.Ev(4, ts("2024-01-01 11:10:00"), 9, "view", 0))
      mem.addData(evs: _*)
      q.processAllAvailable()
      mem.addData(TimerDedup.Ev(5, ts("2024-01-03 00:00:00"), 99, "flush", 0))
      q.processAllAvailable()
      val got = spark.table("stream_sliding")
        .as[(Long, Long)].collect().toMap
      val want = evs.toDF()
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(unix_millis(col("w.start")).as("window_start_ms"), col("n_users"))
        .as[(Long, Long)].collect().toMap
      // every closed batch window appears with the identical count
      // (the flush event's own windows are still open — exclude them)
      want.foreach { case (w, n) =>
        assert(got.get(w) === Some(n), s"window $w")
      }
    } finally q.stop()
  }

  test("streaming burst detection: a late error SPLITS a pair; final == batch at any order") {
    import graft.streaming.BurstStream
    import graft.streaming.BurstStream.Burst
    implicit val sql = spark.sqlContext
    val hourMs = 3600L * 1000L
    // user 7: errors at 0h and 20h form ONE burst pair; the 10h error
    // arrives LATE and splits it into two qualifying pairs (n 1 -> 2,
    // first_burst moves earlier) — the case gap-only state can't decide
    val crafted = Seq(
      TimerDedup.Ev(1, new Timestamp(0L), 7, "error", 0),
      TimerDedup.Ev(2, new Timestamp(20L * hourMs), 7, "error", 0),
      TimerDedup.Ev(3, new Timestamp(10L * hourMs), 7, "error", 0),
      TimerDedup.Ev(4, new Timestamp(5L * hourMs), 8, "click", 0))
    val mem0 = MemoryStream[TimerDedup.Ev]
    val last0 = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val q0 = BurstStream.bursts(spark, mem0.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Burst], _: Long) =>
        b.collect().foreach(x => last0.put(x.user_id, (x.n_bursts, x.first_burst_us)))
      }.start()
    try {
      mem0.addData(crafted.take(2): _*)
      q0.processAllAvailable()
      assert(last0.get(7L) === ((1L, 20L * hourMs * 1000L)))
      mem0.addData(crafted.drop(2): _*)
      q0.processAllAvailable()
      assert(last0.get(7L) === ((2L, 10L * hourMs * 1000L)))
      assert(!last0.containsKey(8L))
    } finally q0.stop()

    // fixture parity under out-of-order interleave + replay
    val evs = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value_cents")
      .as[(Long, Timestamp, Long, String, Long)].collect().toSeq
      .map(e => TimerDedup.Ev(e._1, e._2, e._3, e._4, e._5))
    val (odd, even) = evs.partition(_.event_id % 2 == 1)
    val mem = MemoryStream[TimerDedup.Ev]
    val last = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val q = BurstStream.bursts(spark, mem.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Burst], _: Long) =>
        b.collect().foreach(x => last.put(x.user_id, (x.n_bursts, x.first_burst_us)))
      }.start()
    try {
      mem.addData(odd: _*)
      q.processAllAvailable()
      mem.addData(even: _*)
      q.processAllAvailable()
      mem.addData(odd.take(50): _*) // replay: no new ids, no emission
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val batch = graft.queries.AnalyticsQueries.errorBursts(spark, sfDir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(last.asScala.toMap === batch)
    assert(batch.nonEmpty)
  }

  test("streaming cohort retention: late events re-cohort users; final == batch at any order") {
    import graft.streaming.CohortStream
    import graft.streaming.CohortStream.UserCohort
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value_cents")
      .as[(Long, Timestamp, Long, String, Long)].collect().toSeq
      .map(e => TimerDedup.Ev(e._1, e._2, e._3, e._4, e._5))
    // reversed-time split: most users' LATEST day arrives first, so
    // nearly every user re-cohorts (offset shift) when the early days
    // land in batch 2 — the hard case for incremental retention
    val (lateFirst, earlyLast) = evs.sortBy(-_.ts.getTime).splitAt(evs.size / 2)
    val mem = MemoryStream[TimerDedup.Ev]
    val updates = CohortStream.cohorts(spark, mem.toDF())
    val last = new java.util.concurrent.ConcurrentHashMap[Long, UserCohort]()
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[UserCohort], _: Long) =>
        b.collect().foreach(u => last.put(u.user_id, u))
      }.start()
    try {
      mem.addData(lateFirst: _*)
      q.processAllAvailable()
      mem.addData(earlyLast: _*)
      q.processAllAvailable()
      // replay: already-seen days grow nothing — no emission, state same
      mem.addData(earlyLast.take(50): _*)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = last.asScala.values
      .flatMap(u => u.offsets.map(o => (u.cohort_day, o, u.user_id)))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).toSet.size.toLong)
      .toMap
    val batch = graft.queries.AnalyticsQueries.cohortRetention(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming SCD2 type history: a late event SPLITS a settled run; final == batch at any split") {
    import graft.streaming.TypeHistoryStream
    import graft.streaming.TypeHistoryStream.{History, TypeRun}
    // user 7: a@1s and a@9s settle as ONE run, then b@5s arrives LATE
    // and must split it into a[1,5) b[5,9) a[9,∞) — the case no
    // change-point-only state can handle
    val events = Seq(
      TimerDedup.Ev(1, new Timestamp(1000), 7, "a", 0),
      TimerDedup.Ev(2, new Timestamp(9000), 7, "a", 0),
      TimerDedup.Ev(3, new Timestamp(5000), 7, "b", 0),
      TimerDedup.Ev(4, new Timestamp(2000), 8, "x", 0))
    val expected7 = Seq(
      TypeRun("a", 1000L, Some(5000L)),
      TypeRun("b", 5000L, Some(9000L)),
      TypeRun("a", 9000L, None))
    for (splitAt <- Seq(0, 1, 2, 3, 4)) {
      implicit val sql = spark.sqlContext
      val mem = MemoryStream[TimerDedup.Ev]
      val updates = TypeHistoryStream.histories(spark, mem.toDF())
      val last = new java.util.concurrent.ConcurrentHashMap[Long, Seq[TypeRun]]()
      val q = updates.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[History], _: Long) =>
          b.collect().foreach(h => last.put(h.user_id, h.runs))
        }.start()
      try {
        val (a, b) = events.splitAt(splitAt)
        if (a.nonEmpty) { mem.addData(a: _*); q.processAllAvailable() }
        if (b.nonEmpty) { mem.addData(b: _*); q.processAllAvailable() }
        assert(last.get(7L) === expected7, s"splitAt=$splitAt")
        assert(last.get(8L) === Seq(TypeRun("x", 2000L, None)), s"splitAt=$splitAt")
      } finally q.stop()
    }
  }

  test("streaming SCD2 type history equals the batch operator on the events fixture; replay no-op") {
    import graft.streaming.TypeHistoryStream
    import graft.streaming.TypeHistoryStream.{History, TypeRun}
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value_cents")
      .as[(Long, Timestamp, Long, String, Long)].collect().toSeq
      .map(e => TimerDedup.Ev(e._1, e._2, e._3, e._4, e._5))
    // deliberately NOT time-ordered: stream by event_id parity, so
    // every user's events interleave out of order across batches
    val (odd, even) = evs.partition(_.event_id % 2 == 1)
    val mem = MemoryStream[TimerDedup.Ev]
    val updates = TypeHistoryStream.histories(spark, mem.toDF())
    val last = new java.util.concurrent.ConcurrentHashMap[Long, Seq[TypeRun]]()
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[History], _: Long) =>
        b.collect().foreach(h => last.put(h.user_id, h.runs))
      }.start()
    try {
      mem.addData(odd: _*)
      q.processAllAvailable()
      mem.addData(even: _*)
      q.processAllAvailable()
      // a replayed batch merges only already-seen event_ids: state
      // unchanged, identical re-emission
      mem.addData(even.take(50): _*)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = last.asScala.iterator.flatMap { case (u, runs) =>
      runs.map(r => (u, r.event_type, r.valid_from_ms, r.valid_to_ms))
    }.toSet
    val batch = graft.queries.OlapQueries.typeHistory(spark, sfDir)
      .as[(Long, String, Long, Option[Long])].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming transitions: a late event SPLITS a settled pair; final == batch at any split") {
    import graft.streaming.TransitionsStream
    import graft.streaming.TransitionsStream.{PairCount, Pairs}
    // user 7: a@1s then b@9s settle as pair a->b; c@5s arrives LATE
    // and must rewrite it to a->c, c->b — transition counts are NOT
    // additive over arrival batches
    val events = Seq(
      TimerDedup.Ev(1, new Timestamp(1000), 7, "a", 0),
      TimerDedup.Ev(2, new Timestamp(9000), 7, "b", 0),
      TimerDedup.Ev(3, new Timestamp(5000), 7, "c", 0),
      TimerDedup.Ev(4, new Timestamp(2000), 8, "x", 0))
    for (splitAt <- Seq(0, 1, 2, 3, 4)) {
      implicit val sql = spark.sqlContext
      val mem = MemoryStream[TimerDedup.Ev]
      val updates = TransitionsStream.pairs(spark, mem.toDF())
      val last = new java.util.concurrent.ConcurrentHashMap[Long, Seq[PairCount]]()
      val q = updates.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Pairs], _: Long) =>
          b.collect().foreach(p => last.put(p.user_id, p.pairs))
        }.start()
      try {
        val (a, b) = events.splitAt(splitAt)
        if (a.nonEmpty) { mem.addData(a: _*); q.processAllAvailable() }
        if (b.nonEmpty) { mem.addData(b: _*); q.processAllAvailable() }
        assert(last.get(7L) === Seq(PairCount("a", "c", 1L), PairCount("c", "b", 1L)),
          s"splitAt=$splitAt")
        assert(last.get(8L) === Seq.empty, s"splitAt=$splitAt")
      } finally q.stop()
    }
  }

  test("streaming transitions equal the batch matrix on the events fixture; replay no-op") {
    import graft.streaming.TransitionsStream
    import graft.streaming.TransitionsStream.{PairCount, Pairs}
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value_cents")
      .as[(Long, Timestamp, Long, String, Long)].collect().toSeq
      .map(e => TimerDedup.Ev(e._1, e._2, e._3, e._4, e._5))
    val (odd, even) = evs.partition(_.event_id % 2 == 1) // out-of-order interleave
    val mem = MemoryStream[TimerDedup.Ev]
    val updates = TransitionsStream.pairs(spark, mem.toDF())
    val last = new java.util.concurrent.ConcurrentHashMap[Long, Seq[PairCount]]()
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Pairs], _: Long) =>
        b.collect().foreach(p => last.put(p.user_id, p.pairs))
      }.start()
    try {
      mem.addData(odd: _*)
      q.processAllAvailable()
      mem.addData(even: _*)
      q.processAllAvailable()
      mem.addData(even.take(50): _*) // replay: state unchanged
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val emissions = last.asScala.toSeq.map { case (u, ps) => (u, ps) }
      .toDF("user_id", "pairs")
    val streamed = TransitionsStream.matrixOf(emissions)
      .as[(String, String, Long, Long)].collect().toSet
    val batch = graft.queries.AnalyticsQueries.eventTransitions(spark, sfDir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("processing-time rollup counts every row exactly once (update mode)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[TimerDedup.Ev]
    val rolled = Rollup.rollupProcessingTime(mem.toDF(), windowDuration = "10 minutes")
    val q = rolled.writeStream.format("memory")
      .queryName("proc_rollup_out").outputMode("complete").start()
    try {
      mem.addData(
        TimerDedup.Ev(1, ts("2024-01-01 10:00:01"), 10, "click", 100),
        TimerDedup.Ev(2, ts("2024-01-01 10:00:02"), 11, "click", 250),
        TimerDedup.Ev(3, ts("2024-01-01 10:00:03"), 12, "view", 400))
      q.processAllAvailable()
      val out = spark.table("proc_rollup_out")
        .groupBy("event_type").agg(sum("order_count").as("n"), sum("sum_value_cents").as("c"))
        .as[(String, Long, Long)].collect().toMap2
      assert(out === Map("click" -> (2L, 350L), "view" -> (1L, 400L)))
      // windows are wall-clock: starts must align to the 10-min grid
      spark.table("proc_rollup_out").select("window_start_ms").as[Long].collect()
        .foreach(w => assert(w % (10L * 60 * 1000) === 0))
    } finally q.stop()
  }

  test("metrics listener accumulates batch counts and input rows") {
    implicit val sql = spark.sqlContext
    val handle = graft.streaming.Metrics.attach(spark)
    val mem = MemoryStream[TimerDedup.Ev]
    val q = mem.toDF().writeStream.format("memory")
      .queryName("metrics_probe").outputMode("append").start()
    try {
      mem.addData(TimerDedup.Ev(1, ts("2024-01-01 10:00:01"), 10, "click", 100))
      q.processAllAvailable()
      mem.addData(
        TimerDedup.Ev(2, ts("2024-01-01 10:00:02"), 11, "view", 200),
        TimerDedup.Ev(3, ts("2024-01-01 10:00:03"), 12, "view", 300))
      q.processAllAvailable()
      // listener events are delivered asynchronously — poll briefly
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var st = handle.snapshot.get("metrics_probe")
      while (st.forall(_.inputRows < 3) && System.nanoTime() < deadline) {
        Thread.sleep(100); st = handle.snapshot.get("metrics_probe")
      }
      assert(st.exists(_.inputRows === 3L), st.toString)
      assert(st.exists(_.batches >= 2L), st.toString)
    } finally { q.stop(); handle.detach() }
  }

  test("streaming doc curation equals the batch keep-set, deduped across batches") {
    implicit val sql = spark.sqlContext
    import graft.streaming.DocPipeline
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(d => StreamingVariantsSpec.Doc(d._1, d._2, d._3, d._4, d._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_docpipe").toString
    val mem = MemoryStream[StreamingVariantsSpec.Doc]
    val q = DocPipeline.start(spark, mem.toDF(), s"$dir/kept", s"$dir/ckpt")
    try {
      val (first, second) = docs.splitAt(docs.size / 2)
      mem.addData(first: _*)
      q.processAllAvailable()
      // second half PLUS a replay of the first — cross-batch dedup
      // state must drop every replayed fingerprint.
      mem.addData(second ++ first: _*)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(s"$dir/kept")
    val batch = DocPipeline.curate(Tables.documents(spark, sfDir))
    // same keep-set by fingerprint, each fingerprint exactly once
    assert(kept.select("fp").distinct().count() ===
      batch.select("fp").distinct().count())
    assert(kept.count() === kept.select("fp").distinct().count())
    assert(kept.select("fp").exceptAll(batch.select("fp").distinct()).isEmpty)
  }

  test("streaming embeddings leg: stream-appended ANN index equals the batch build") {
    import graft.serving.AnnIndex
    implicit val sql = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = graft.ops.Ann.coarseCentroids(emb, nCells = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_embed_ingest").toString
    // seed: quantizer trained offline over the first slice, index
    // materialized once; the stream then feeds deltas
    AnnIndex.materialize(emb.filter(col("vec_id") < 100), centroids, s"$dir/index")
    val rest = emb.filter(col("vec_id") >= 100)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    // AvailableNow latches offsets at start — feed every micro-batch
    // first, then run the query to completion
    rest.grouped(150).foreach(mem.addData(_))
    // frozen centroids: a production IVF never moves its quantizer
    // under served cells; append is content-keyed, so a replayed
    // batch admits nothing twice
    val q = StreamRunner.start(mem.toDF().toDF("vec_id", "embedding"),
        s"$dir/ckpt", Trigger.AvailableNow()) { (b, _) =>
      if (!b.isEmpty) AnnIndex.append(spark, s"$dir/index", b, centroids)
    }
    try q.awaitTermination() finally q.stop()
    // at-least-once replay: re-delivering a batch admits nothing
    AnnIndex.append(spark, s"$dir/index",
      emb.filter(col("vec_id") >= 100).limit(50), centroids)
    val batchDir = java.nio.file.Files.createTempDirectory("graft_embed_full").toString
    AnnIndex.materialize(emb, centroids, s"$batchDir/index")
    def layout(root: String): Seq[String] =
      spark.read.parquet(root).select("cell", "vec_id", "v", "nrm")
        .collect().map(_.toString).sorted.toSeq
    assert(layout(s"$dir/index") === layout(s"$batchDir/index"))
    def served(root: String): Set[(Long, Long, Long)] =
      AnnIndex.query(spark, root, emb.filter(col("vec_id") < 10), centroids,
          k = 5, nprobe = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served(s"$dir/index") === served(s"$batchDir/index"))
  }

  test("streaming doc ingest builds the same search index as a batch rebuild") {
    implicit val sql = spark.sqlContext
    import graft.serving.SearchIndex
    import StreamingVariantsSpec.Doc
    val docs = Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_search_ingest").toString
    SearchIndex.materialize(docs.filter(col("doc_id") < 100), s"$dir/index")
    val rest = docs.filter(col("doc_id") >= 100)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[Doc].collect().toSeq
    val mem = MemoryStream[Doc]
    rest.grouped(150).foreach(mem.addData(_))
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt", Trigger.AvailableNow()) {
      (b, _) => if (!b.isEmpty) SearchIndex.append(spark, s"$dir/index", b)
    }
    try q.awaitTermination() finally q.stop()
    // at-least-once replay: re-delivering docs admits nothing
    SearchIndex.append(spark, s"$dir/index", docs.filter(col("doc_id") >= 100).limit(50))
    val batchDir = java.nio.file.Files.createTempDirectory("graft_search_full").toString
    SearchIndex.materialize(docs, s"$batchDir/index")
    def state(root: String): (Seq[String], Seq[String], Long) = (
      spark.read.parquet(s"$root/postings").select("bucket", "tok", "doc_id", "tf")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/stats").groupBy("bucket", "tok")
        .agg(sum($"df_delta").as("df")).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$root/meta").agg(sum($"n_delta")).head().getLong(0))
    assert(state(s"$dir/index") === state(s"$batchDir/index"))
    def served(root: String): Set[(Long, Long, Long)] =
      SearchIndex.query(spark, root, docs.filter(col("doc_id") < 5), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served(s"$dir/index") === served(s"$batchDir/index"))
    assert(served(s"$dir/index").nonEmpty)
  }

  test("streaming segment dedup equals batch reassembly; replay is a no-op") {
    implicit val sql = spark.sqlContext
    import graft.streaming.SegmentIngest
    import graft.ops.NearDup
    import StreamingVariantsSpec.Doc
    // id-ordered batches: the equivalence precondition (arrival order
    // == doc_id order makes streaming first-occurrence == batch's)
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1).map(d => Doc(d._1, d._2, d._3, d._4, d._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_segingest").toString
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => SegmentIngest.processBatch(b, id, s"$dir/kept", s"$dir/index")
    }
    val (first, second) = docs.splitAt(docs.size / 2)
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def keptSet() = spark.read.parquet(s"$dir/kept")
      .select("doc_id", "text_deduped", "segs_kept")
      .as[(Long, String, Long)].collect().toSet
    val streamed = keptSet()
    val batch = NearDup.segmentDedup(Tables.documents(spark, sfDir))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed === batch)
    // replay batch 1 (the second half, already indexed): every segment
    // hits history, nothing is admitted, the idempotent writes touch
    // no partitions — kept output must be unchanged
    val replayed = SegmentIngest.processBatch(
      second.toDF(), batchId = 1L, s"$dir/kept", s"$dir/index")
    assert(replayed.isEmpty)
    assert(keptSet() === streamed)
  }

  test("streaming span scrub equals batch spanScrub; replay rewrites identically") {
    implicit val sql = spark.sqlContext
    import graft.streaming.SpanIngest
    import graft.ops.NearDup
    import StreamingVariantsSpec.Doc
    // id-ordered batches: the equivalence precondition (arrival order
    // == doc_id order makes streaming claim order == batch's)
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1).map(d => Doc(d._1, d._2, d._3, d._4, d._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_spaningest").toString
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => SpanIngest.processBatch(b, id, s"$dir/kept", s"$dir/index")
    }
    val (first, second) = docs.splitAt(docs.size / 2)
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def keptSet() = spark.read.parquet(s"$dir/kept")
      .select("doc_id", "text_scrubbed", "kept_tokens")
      .as[(Long, String, Long)].collect().toSet
    val streamed = keptSet()
    val batch = NearDup.spanScrub(Tables.documents(spark, sfDir))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed === batch)
    // replay batch 1: unlike SegmentIngest (replay admits nothing),
    // the replayed span batch RE-EMITS its original frame — history
    // excludes its own batch_id partition, so it sees exactly the
    // state of its first run and rewrites both partitions identically
    val replayed = SpanIngest.processBatch(
      second.toDF(), batchId = 1L, s"$dir/kept", s"$dir/index")
    assert(replayed.count() > 0)
    assert(keptSet() === streamed)
  }

  test("deterministic curation ingest: admitted set == batch keep-set min-id reps; replay no-op") {
    implicit val sql = spark.sqlContext
    import graft.streaming.{CurationIngest, DocPipeline}
    import StreamingVariantsSpec.Doc
    // id-ordered batches: the determinism precondition the gate uses
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(_._1).map(d => Doc(d._1, d._2, d._3, d._4, d._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_curingest").toString
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => CurationIngest.processBatch(b, id, s"$dir/kept", s"$dir/index")
    }
    val (first, second) = docs.splitAt(docs.size / 2)
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def keptSet() = spark.read.parquet(s"$dir/kept")
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toSet
    val streamed = keptSet()
    // batch reference: quality keep-set, min-id winner per fingerprint
    val cur = DocPipeline.curate(Tables.documents(spark, sfDir))
    val minIds = cur.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val batch = cur.join(minIds, Seq("fp", "doc_id"))
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // replay: every fingerprint already indexed → nothing admitted
    val replayed = CurationIngest.processBatch(
      second.toDF(), batchId = 1L, s"$dir/kept", s"$dir/index")
    assert(replayed.isEmpty)
    assert(keptSet() === streamed)
  }

  test("streaming boilerplate scrub equals batch at ANY arrival order; replay is a no-op") {
    implicit val sql = spark.sqlContext
    import graft.streaming.BoilerplateIngest
    import graft.ops.NearDup
    import StreamingVariantsSpec.Doc
    // REVERSED id order on purpose: the additive-count state decides
    // at read, so (unlike the keep-first twins) equivalence needs no
    // arrival-order precondition at all
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .sortBy(-_._1).map(d => Doc(d._1, d._2, d._3, d._4, d._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_boilingest").toString
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => BoilerplateIngest.processBatch(b, id, s"$dir/segs", s"$dir/counts")
    }
    val (first, second) = docs.splitAt(docs.size / 3)
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def scrubbed() = BoilerplateIngest
      .readScrubbed(spark, s"$dir/segs", s"$dir/counts")
      .as[(Long, String, Long)].collect().toSet
    val streamed = scrubbed()
    val batch = NearDup.boilerplateScrub(Tables.documents(spark, sfDir))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // replay batch 1: the dynamic partition overwrite rewrites the
    // same (segs, counts) partitions with identical content — counts
    // are per-batch deltas, so a replay can never double-add
    BoilerplateIngest.processBatch(
      second.toDF(), batchId = 1L, s"$dir/segs", s"$dir/counts")
    assert(scrubbed() === streamed)
  }

  test("streamed importance-profile deltas serve batch-identical scores; replay is idempotent") {
    implicit val sql = spark.sqlContext
    import graft.streaming.ImportanceIngest
    import graft.serving.ImportanceProfile
    import StreamingVariantsSpec.Doc
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(d => Doc(d._1, d._2, d._3, d._4, d._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_impingest").toString
    val pred = col("lang") === "en"
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => ImportanceIngest.processBatch(b, id, s"$dir/profile", pred)
    }
    val (first, second) = docs.splitAt(docs.size / 2)
    try {
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def scores() = ImportanceProfile.score(spark, s"$dir/profile",
      Tables.documents(spark, sfDir)).as[(Long, Long)].collect().toMap
    val streamed = scores()
    val batch = graft.queries.SampleQueries.sampleImportance(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch)
    // replay batch 1: its delta partition is rewritten bit-identically
    ImportanceIngest.processBatch(second.toDF(), 1L, s"$dir/profile", pred)
    assert(scores() === streamed)
  }

  test("incremental LSH dedup rejects exact/near dups vs history and within batches") {
    implicit val sql = spark.sqlContext
    import graft.streaming.IncrementalDedup
    import StreamingVariantsSpec.Doc
    def doc(id: Long, text: String) = Doc(id, text, "en", "src", text.length)
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val t2 = "completely different content about distributed query engines and shuffles"
    val t3 = "a third unique document mentioning sketches rollups and windows only"
    val t4 = "fresh fourth text with columnar scans vectorized readers and pruning"
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => IncrementalDedup.processBatch(b, id, s"$dir/admitted", s"$dir/index")
    }
    try {
      mem.addData(doc(1, t1), doc(2, t2), doc(3, t3))
      q.processAllAvailable()
      mem.addData(
        doc(10, t1),            // exact dup of history → rejected
        doc(11, t1 + " extra"), // near dup of history (J≈0.89) → rejected
        doc(12, t4),            // fresh → admitted
        doc(13, t4))            // within-batch exact dup → min id survives
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(s"$dir/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(1L, 2L, 3L, 12L))
    // the index holds bands for every admitted doc — and only those
    val indexed = spark.read.parquet(s"$dir/index")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(indexed === admitted)
  }

  test("stream runner releases the pinned frame an admission batch returns: cached RDDs don't grow with batches") {
    implicit val sql = spark.sqlContext
    import graft.streaming.IncrementalDedup
    import StreamingVariantsSpec.Doc
    // a local checkpoint has no checkpoint file, so the release only
    // unpersists its blocks
    val local = spark.range(3).toDF().localCheckpoint(true)
    assert(local.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
    } === Seq(None))
    graft.ops.NearDup.releaseCheckpoint(local)
    val words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      .split(" ")
    // every batch admits fresh, mutually distinct docs
    def doc(id: Long) = {
      val text = (0 until 12).map(j => s"${words(j)}$id x${id * 7 + j}").mkString(" ")
      Doc(id, text, "en", "src", text.length)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_runner_leak").toString
    val mem = MemoryStream[Doc]
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt") {
      (b, id) => IncrementalDedup.processBatch(b, id, s"$dir/admitted", s"$dir/index")
    }
    def cachedRdds() = spark.sparkContext.getRDDStorageInfo.length
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // unpersists are asynchronous: let each batch's releases land, but
    // a leaked pin stays cached until a GC runs the ContextCleaner
    val before = cachedRdds()
    try {
      (0 to 3).foreach { k =>
        mem.addData(doc(10L * k + 1), doc(10L * k + 2))
        q.processAllAvailable()
        eventually(timeout(10.seconds), interval(100.millis)) {
          assert(cachedRdds() <= before,
            s"cached RDDs grew from $before to ${cachedRdds()} by batch ${k + 1}")
        }
      }
    } finally q.stop()
    assert(spark.read.parquet(s"$dir/admitted").count() === 8)
  }

  test("ingest-time decontamination drops exactly the bloom-flagged overlap set") {
    implicit val sql = spark.sqlContext
    import graft.streaming.DocPipeline
    val d = Tables.documents(spark, sfDir)
    val eval = d.filter(col("doc_id") < 10)
    val train = d.filter(col("doc_id") >= 10)
    val bloom = DocPipeline.evalSketch(eval)
    // batch-side expectation: contaminated = any shared 3-gram with
    // the eval set (the exact op); the bloom drop must cover it —
    // conservative, never admitting a contaminated doc
    val contaminated = graft.ops.NearDup
      .contaminationOverlap(train, eval, n = 3)
      .select("doc_id").as[Long].collect().toSet
    val kept = DocPipeline.decontaminate(train, bloom)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.intersect(contaminated).isEmpty,
      "a contaminated doc survived ingest decontamination")
    // at fpp=1e-6 spurious drops are ~none on this corpus: the drop
    // set IS the exact overlap set
    val all = train.select("doc_id").as[Long].collect().toSet
    assert(all -- kept === contaminated, "bloom dropped clean docs")
    // composes into the stream: the curated sink contains no
    // contaminated fingerprints
    val docsSeq = train
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(x => StreamingVariantsSpec.Doc(x._1, x._2, x._3, x._4, x._5))
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    val mem = MemoryStream[StreamingVariantsSpec.Doc]
    docsSeq.grouped(200).foreach(mem.addData(_))
    val q = DocPipeline.start(spark, mem.toDF(), s"$dir/kept", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      evalBloom = Some(bloom))
    try q.awaitTermination() finally q.stop()
    val sunk = spark.read.parquet(s"$dir/kept").select("doc_id").as[Long].collect().toSet
    assert(sunk.intersect(contaminated).isEmpty)
    assert(sunk.nonEmpty)
  }

  test("streaming PQ ingest: stream-appended IVFADC index equals the batch build") {
    import graft.serving.PqIndex
    implicit val sql = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_ingest").toString
    // seed: codebooks trained offline over the low-id slice (which is
    // exactly what a full rebuild trains on), stream feeds the rest
    PqIndex.materialize(spark, emb.filter(col("vec_id") < 250), s"$dir/index")
    val rest = emb.filter(col("vec_id") >= 250)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    rest.grouped(100).foreach(mem.addData(_))
    // frozen codebooks: an absent root does not bootstrap — PQ needs a
    // trained seed corpus; append is content-keyed, replays admit nothing
    val q = StreamRunner.start(mem.toDF().toDF("vec_id", "embedding"),
        s"$dir/ckpt", Trigger.AvailableNow()) { (b, _) =>
      if (!b.isEmpty) PqIndex.append(spark, s"$dir/index", b)
    }
    try q.awaitTermination() finally q.stop()
    // at-least-once replay: re-delivering a slice admits nothing
    PqIndex.append(spark, s"$dir/index", emb.filter(col("vec_id") >= 250).limit(50))
    val batchDir = java.nio.file.Files.createTempDirectory("graft_pq_full").toString
    PqIndex.materialize(spark, emb, s"$batchDir/index")
    def codes(root: String) = spark.read.parquet(s"$root/codes")
      .collect().map(_.toSeq).toSet
    assert(codes(s"$dir/index") === codes(s"$batchDir/index"),
      "stream-built code table diverges from batch rebuild")
    def served(root: String) = PqIndex.query(spark, root,
        emb.filter(col("vec_id") < 10), topK = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(served(s"$dir/index") === served(s"$batchDir/index"))
    assert(served(s"$dir/index").nonEmpty)
  }

  test("streaming star-tree ingest equals a batch rebuild; replay is a no-op") {
    implicit val sql = spark.sqlContext
    import graft.serving.StarTree
    import StreamingVariantsSpec.StarEvt
    val evAll = Tables.events(spark, sfDir)
    val seed = evAll.filter($"event_id" % 2 === 0)
    val delta = evAll.filter($"event_id" % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_startree_ingest").toString
    StarTree.materializeInto(spark, s"$dir/tree", seed)
    val mem = MemoryStream[StarEvt]
    delta.select($"ts", $"event_type", $"value_cents")
      .as[StarEvt].collect().grouped(1500).foreach(mem.addData(_))
    // StarTree.refresh's batch-id guard makes a re-delivered batch a no-op
    val q = StreamRunner.start(mem.toDF(), s"$dir/ckpt", Trigger.AvailableNow()) {
      (b, id) => if (!b.isEmpty) StarTree.refresh(spark, s"$dir/tree", b, id)
    }
    try q.awaitTermination() finally q.stop()
    def nodes(r: String) = spark.read.parquet(s"$r/nodes")
      .collect().map(_.toSeq).toSet
    val full = java.nio.file.Files.createTempDirectory("graft_startree_full").toString
    StarTree.materializeInto(spark, s"$full/tree", evAll)
    assert(nodes(s"$dir/tree") === nodes(s"$full/tree"),
      "stream-built tree diverges from batch rebuild")
    // at-least-once replay: a re-delivered batch id admits nothing
    StarTree.refresh(spark, s"$dir/tree", delta, batchId = 0L)
    assert(nodes(s"$dir/tree") === nodes(s"$full/tree"),
      "replayed batch changed the tree")
  }

  test("horizon fold bounds list state under a hot key; compacted == unbounded recompute") {
    import graft.streaming.{BurstStream, TransitionsStream, TypeHistoryStream}
    import graft.streaming.TypeHistoryStream.StEv
    val minUs = 60L * 1000000L
    val horizonUs = 60L * minUs // 1 hour
    // one hot key: 5,000 events, one per minute, types cycling with a
    // repeat so runs have length > 1; fed through the pure step in
    // batches of 50 — the full list would be 5,000 entries
    val types = Seq("a", "a", "b", "c", "c", "c", "d")
    val all = (0 until 5000).map(i => StEv(i * minUs, i + 1L, types(i % types.size)))
    var th = TypeHistoryStream.emptySt
    var tr = TransitionsStream.emptySt
    var bu = BurstStream.emptySt
    all.grouped(50).foreach { batch =>
      th = TypeHistoryStream.step(th, batch, horizonUs)
      tr = TransitionsStream.step(tr, batch, horizonUs)
      bu = BurstStream.step(bu, batch.map(e => BurstStream.ErrEv(e.tu, e.id)), horizonUs)
      // tail holds at most horizon-of-minutes + one in-flight batch
      assert(th.tail.size <= 61 + 50, s"type-history tail ${th.tail.size}")
      assert(tr.tail.size <= 61 + 50, s"transitions tail ${tr.tail.size}")
      assert(bu.tail.size <= 61 + 50, s"burst tail ${bu.tail.size}")
    }
    // settled summaries are compact: alphabet² pair counts, one change
    // point per run, O(1) burst stats
    assert(tr.settled.size <= types.distinct.size * types.distinct.size)
    // unbounded-horizon twin (nothing ever settles) = full-list semantics
    var th0 = TypeHistoryStream.emptySt
    var tr0 = TransitionsStream.emptySt
    var bu0 = BurstStream.emptySt
    val noHorizon = Long.MaxValue / 2
    all.grouped(50).foreach { batch =>
      th0 = TypeHistoryStream.step(th0, batch, noHorizon)
      tr0 = TransitionsStream.step(tr0, batch, noHorizon)
      bu0 = BurstStream.step(bu0, batch.map(e => BurstStream.ErrEv(e.tu, e.id)), noHorizon)
    }
    assert(th0.tail.size === 5000 && th0.changes.isEmpty) // the old shape
    assert(TypeHistoryStream.runsFromState(th) === TypeHistoryStream.runsFromState(th0))
    assert(TransitionsStream.countsFromState(tr) === TransitionsStream.countsFromState(tr0))
    assert(BurstStream.statsFromState(bu) === BurstStream.statsFromState(bu0))
  }

  test("horizon fold: late-WITHIN-horizon still splits a settled-adjacent pair; beyond drops") {
    import graft.streaming.{BurstStream, TransitionsStream, TypeHistoryStream}
    import graft.streaming.TypeHistoryStream.{StEv, TypeRun}
    val minUs = 60L * 1000000L
    val horizonUs = 60L * minUs
    // a@0 settles once b@100min arrives (threshold 40min); the a->b
    // pair then straddles the settle boundary
    val tr1 = TransitionsStream.step(TransitionsStream.emptySt,
      Seq(StEv(0L, 1L, "a"), StEv(100L * minUs, 2L, "b")), horizonUs)
    assert(tr1.boundary.map(_.id) === Some(1L) && tr1.tail.map(_.id) === Seq(2L))
    assert(TransitionsStream.countsFromState(tr1) ===
      Seq(TransitionsStream.PairCount("a", "b", 1L)))
    // late c@70min is within the horizon (maxTu 100min): must split
    // the boundary-straddling a->b into a->c, c->b
    val tr2 = TransitionsStream.step(tr1, Seq(StEv(70L * minUs, 3L, "c")), horizonUs)
    assert(TransitionsStream.countsFromState(tr2) ===
      Seq(TransitionsStream.PairCount("a", "c", 1L),
        TransitionsStream.PairCount("c", "b", 1L)))
    // beyond-horizon late (at-or-before the boundary in the (tu, id)
    // total order): out-of-contract, dropped — including a replay of
    // the settled boundary event itself
    val tr3 = TransitionsStream.step(tr2, Seq(StEv(0L, 0L, "z"), StEv(0L, 1L, "a")), horizonUs)
    assert(tr3 === tr2)
    // same shape for SCD2 runs
    val th1 = TypeHistoryStream.step(TypeHistoryStream.emptySt,
      Seq(StEv(0L, 1L, "a"), StEv(100L * minUs, 2L, "b")), horizonUs)
    val th2 = TypeHistoryStream.step(th1, Seq(StEv(70L * minUs, 3L, "c")), horizonUs)
    assert(TypeHistoryStream.runsFromState(th2) === Seq(
      TypeRun("a", 0L, Some(70L * minUs / 1000L)),
      TypeRun("c", 70L * minUs / 1000L, Some(100L * minUs / 1000L)),
      TypeRun("b", 100L * minUs / 1000L, None)))
    // bursts: e1@0h settles (horizon 10h) once e2@20h arrives; the
    // qualifying (e1,e2) pair straddles the boundary; late e3@15h
    // splits it into TWO qualifying pairs and moves first_burst earlier
    val hUs = 3600L * 1000000L
    val bu1 = BurstStream.step(BurstStream.emptySt,
      Seq(BurstStream.ErrEv(0L, 1L), BurstStream.ErrEv(20L * hUs, 2L)), 10L * hUs)
    assert(bu1.boundary.map(_.id) === Some(1L))
    assert(BurstStream.statsFromState(bu1) === ((1L, 20L * hUs)))
    val bu2 = BurstStream.step(bu1, Seq(BurstStream.ErrEv(15L * hUs, 3L)), 10L * hUs)
    assert(BurstStream.statsFromState(bu2) === ((2L, 15L * hUs)))
  }

  test("transitions with an aggressive horizon equal the batch matrix on a time-ordered feed") {
    import graft.streaming.TransitionsStream
    import graft.streaming.TransitionsStream.{PairCount, Pairs}
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value_cents")
      .as[(Long, Timestamp, Long, String, Long)].collect().toSeq
      .map(e => TimerDedup.Ev(e._1, e._2, e._3, e._4, e._5))
      .sortBy(e => (e.ts.getTime, e.event_id)) // in-contract: time-ordered
    val mem = MemoryStream[TimerDedup.Ev]
    // 1-day horizon over a ~month-long fixture: nearly every event
    // settles, so this drives the compaction path end-to-end
    val updates = TransitionsStream.pairs(spark, mem.toDF(),
      horizonUs = 86400L * 1000000L)
    val last = new java.util.concurrent.ConcurrentHashMap[Long, Seq[PairCount]]()
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Pairs], _: Long) =>
        b.collect().foreach(p => last.put(p.user_id, p.pairs))
      }.start()
    try {
      evs.grouped(2000).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val emissions = last.asScala.toSeq.map { case (u, ps) => (u, ps) }
      .toDF("user_id", "pairs")
    val streamed = TransitionsStream.matrixOf(emissions)
      .as[(String, String, Long, Long)].collect().toSet
    val batch = graft.queries.AnalyticsQueries.eventTransitions(spark, sfDir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("transitions idle TTL evicts an idle key; history restarts fresh") {
    import graft.streaming.TransitionsStream
    import graft.streaming.TransitionsStream.{PairCount, Pairs}
    implicit val sql = spark.sqlContext
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.getOption(ndKey)
    spark.conf.set(ndKey, "false") // see the per-element TTL test
    try {
      val mem = MemoryStream[TimerDedup.Ev]
      val updates = TransitionsStream.pairs(spark, mem.toDF(),
        idleTtl = Some(java.time.Duration.ofMillis(300)))
      val last = new java.util.concurrent.ConcurrentHashMap[Long, Seq[PairCount]]()
      val q = updates.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Pairs], _: Long) =>
          b.collect().foreach(p => last.put(p.user_id, p.pairs))
        }.start()
      try {
        mem.addData(
          TimerDedup.Ev(1, new Timestamp(1000), 7, "a", 0),
          TimerDedup.Ev(2, new Timestamp(2000), 7, "b", 0))
        q.processAllAvailable()
        assert(last.get(7L) === Seq(PairCount("a", "b", 1L)))
        Thread.sleep(1500) // idle well past the TTL
        // a batch for ANOTHER key fires key 7's expired timer
        mem.addData(TimerDedup.Ev(3, new Timestamp(3000), 8, "x", 0))
        q.processAllAvailable()
        // key 7 restarts from empty: no a->b memory, just the new pair
        mem.addData(
          TimerDedup.Ev(4, new Timestamp(4000), 7, "c", 0),
          TimerDedup.Ev(5, new Timestamp(5000), 7, "d", 0))
        q.processAllAvailable()
        assert(last.get(7L) === Seq(PairCount("c", "d", 1L)))
      } finally q.stop()
    } finally prevNd match {
      case Some(v) => spark.conf.set(ndKey, v)
      case None    => spark.conf.unset(ndKey)
    }
  }

  test("in-band erasure tombstone clears keyed stream state; replay no-op; other keys untouched") {
    import graft.streaming.{BurstStream, CohortStream, StreamErase, TransitionsStream, TypeHistoryStream}
    import graft.streaming.TransitionsStream.{PairCount, Pairs}
    import graft.streaming.TypeHistoryStream.{History, TypeRun}
    implicit val sql = spark.sqlContext
    val hourMs = 3600L * 1000L
    val evs = Seq(
      TimerDedup.Ev(1, new Timestamp(1L * hourMs), 7, "error", 100),
      TimerDedup.Ev(2, new Timestamp(2L * hourMs), 7, "click", 200),
      TimerDedup.Ev(3, new Timestamp(3L * hourMs), 7, "error", 300),
      TimerDedup.Ev(4, new Timestamp(1L * hourMs), 8, "view", 400))
    val tomb = TimerDedup.Ev(99, new Timestamp(4L * hourMs), 7, StreamErase.Marker, 0)

    val mem = MemoryStream[TimerDedup.Ev]
    val lastTr = new java.util.concurrent.ConcurrentHashMap[Long, Seq[PairCount]]()
    val lastTh = new java.util.concurrent.ConcurrentHashMap[Long, Seq[TypeRun]]()
    val lastBu = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val lastCo = new java.util.concurrent.ConcurrentHashMap[Long, CohortStream.UserCohort]()
    val src = mem.toDF()
    val qs = Seq(
      TransitionsStream.pairs(spark, src).writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Pairs], _: Long) =>
          b.collect().foreach(p => lastTr.put(p.user_id, p.pairs)) }.start(),
      TypeHistoryStream.histories(spark, src).writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[History], _: Long) =>
          b.collect().foreach(h => lastTh.put(h.user_id, h.runs)) }.start(),
      BurstStream.bursts(spark, src).writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[BurstStream.Burst], _: Long) =>
          b.collect().foreach { x =>
            if (x.n_bursts == 0L) lastBu.remove(x.user_id) // delete marker
            else lastBu.put(x.user_id, (x.n_bursts, x.first_burst_us)) } }.start(),
      CohortStream.cohorts(spark, src).writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[CohortStream.UserCohort], _: Long) =>
          b.collect().foreach(u => lastCo.put(u.user_id, u)) }.start())
    try {
      mem.addData(evs: _*)
      qs.foreach(_.processAllAvailable())
      assert(lastTr.get(7L).nonEmpty && lastTh.get(7L).nonEmpty)
      assert(lastBu.get(7L) === ((1L, 3L * hourMs * 1000L)))
      assert(lastCo.get(7L).offsets.nonEmpty)
      // tombstone for user 7: every operator clears the key and emits
      // the cleared/delete emission
      mem.addData(tomb)
      qs.foreach(_.processAllAvailable())
      assert(lastTr.get(7L) === Seq.empty)
      assert(lastTh.get(7L) === Seq.empty)
      assert(!lastBu.containsKey(7L))
      assert(lastCo.get(7L).offsets === Seq.empty)
      // replayed tombstone: same cleared emissions, nothing resurfaces
      mem.addData(tomb)
      qs.foreach(_.processAllAvailable())
      assert(lastTr.get(7L) === Seq.empty && lastTh.get(7L) === Seq.empty)
      // user 8 untouched throughout
      assert(lastTh.get(8L) === Seq(TypeRun("view", 1L * hourMs, None)))
      assert(lastCo.get(8L).offsets === Seq(0L))
      // post-erase traffic starts the key FRESH — no erased history
      mem.addData(TimerDedup.Ev(50, new Timestamp(10L * hourMs), 7, "signup", 0))
      qs.foreach(_.processAllAvailable())
      assert(lastTr.get(7L) === Seq.empty) // one event: no pairs yet
      assert(lastTh.get(7L) === Seq(TypeRun("signup", 10L * hourMs, None)))
    } finally qs.foreach(_.stop())
  }

  private implicit class Tup3Ops[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(t => (t._1, (t._2, t._3))).toMap
  }
}

object StreamingVariantsSpec {
  case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  case class StarEvt(ts: java.sql.Timestamp, event_type: String, value_cents: Long)
}

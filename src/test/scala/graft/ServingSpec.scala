package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{EventQueries, ServingQueries}
import graft.serving.Serving

/** The materialized serving path: built tables are reused across
  * calls, the count-path lookup matches the recompute-from-raw
  * formulation, and the revenue path obeys its ordering contract.
  */
class ServingSpec extends SparkSuite {
  import spark.implicits._

  test("count-path served lookup equals recompute-from-events lookup") {
    val served = ServingQueries.topKLookupServed(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val recomputed = EventQueries.topKLookup(spark, sfDir)
      .select("window_start_ms", "rank", "user_id", "order_count", "total_cents")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    assert(served === recomputed)
  }

  test("served percentiles equal the binned quantile recomputed from raw events") {
    val served = ServingQueries.percentilesServed(spark, sfDir)
      .select("event_type", "n", "p50_cents", "p90_cents", "p99_cents")
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (t, n, p50, p90, p99) => t -> ((n, p50, p90, p99)) }.toMap
    // independent brute force in Scala over the same filter: sort the
    // per-type bins, walk the cumulative count to the first bin with
    // 100*cum >= p*n — the operator's documented integer definition
    val t0 = Serving.anchorMs(spark, sfDir) - 24L * 3600 * 1000
    val rows = Tables.events(spark, sfDir)
      .filter(unix_millis(date_trunc("minute", col("ts"))) > t0)
      .select(col("event_type"), col("value_cents"))
      .as[(String, Long)].collect()
    assert(rows.nonEmpty)
    val expected = rows.groupBy(_._1).map { case (tpe, vs) =>
      val n = vs.length.toLong
      val binCounts = vs.map(_._2 / Serving.histBinCents)
        .groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      def est(p: Long): Long = {
        var cum = 0L
        binCounts.iterator.map { case (b, c) => cum += c; (b, cum) }
          .collectFirst { case (b, acc) if acc * 100 >= p * n => b * Serving.histBinCents }
          .get
      }
      tpe -> ((n, est(50), est(90), est(99)))
    }
    assert(served === expected)
  }

  test("log-histogram bucket math: monotone, edge <= v, relative error <= 1/16") {
    // the DDSketch determinism/accuracy claim, checked over a dense
    // value sweep plus the large-value tail: bucket ids are monotone
    // in v (so cumsums order correctly), the reconstructed lower edge
    // never exceeds v, and for v >= 16 the error is within one
    // sixteenth of an octave
    val vs = spark.range(0, 300000).toDF("v")
      .unionByName(Seq(1L << 40, (1L << 40) + 12345L, Long.MaxValue / 4)
        .toDF("v"))
    val checked = vs
      .select(col("v"), Serving.logBucket(col("v")).as("b"))
      .withColumn("edge", Serving.logBucketEdge(col("b")))
    val bad = checked.filter(
      col("edge") > col("v") ||
        (col("v") >= 16 && (col("v") - col("edge")) * 16 > col("v")))
    assert(bad.count() === 0L, bad.limit(5).collect().mkString(","))
    // monotonicity: bucket never decreases as v increases
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
    val nonMono = checked
      .withColumn("pb", lag(col("b"), 1).over(w))
      .filter(col("pb") > col("b"))
    assert(nonMono.count() === 0L)
    // state bound: buckets over the whole sweep stay small
    assert(checked.select("b").distinct().count() <= 1000L)
  }

  test("revenue lookup: 10 rows, revenue-desc then window-desc order") {
    val rows = ServingQueries.topKLookupRevenue(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.length === 10)
    val key = rows.map { case (_, we, uid, _, cents) => (-cents, -we, uid) }
    assert(key === key.sorted)
  }

  private def assertRefreshEqualsRebuild(): Unit = {
    val ev = Tables.events(spark, sfDir)
    val cutoff = ev.selectExpr("percentile(unix_millis(ts), 0.7)").head.getDouble(0).toLong
    val before = ev.filter(unix_millis(col("ts")) <= cutoff)
    val after = ev.filter(unix_millis(col("ts")) > cutoff)
    assert(after.count() > 0 && before.count() > 0)

    val incRoot = tempDir("graft_inc")
    val fullRoot = tempDir("graft_full")
    Serving.materializeInto(spark, incRoot, before)
    Serving.refreshWithBatch(spark, incRoot, after) // the streaming micro-batch path
    Serving.materializeInto(spark, fullRoot, ev)

    for (t <- Serving.allTables if t != "meta") {
      val inc = spark.read.parquet(s"$incRoot/$t").drop("w_ts")
      val full = spark.read.parquet(s"$fullRoot/$t").drop("w_ts")
      val cols = full.columns.sorted.toSeq
      val a = inc.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val b = full.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(a === b, s"table $t diverged after incremental refresh")
    }
    assert(spark.read.parquet(s"$incRoot/meta").head.getLong(0) ===
      spark.read.parquet(s"$fullRoot/meta").head.getLong(0))
  }

  test("incremental refresh equals full rebuild") {
    assertRefreshEqualsRebuild()
  }

  // +05:30: local midnight falls at 18:30 UTC, INSIDE the
  // epoch-aligned 18:00 UTC hour window, so that window's minutes
  // straddle a local date boundary. The batch lives ENTIRELY in the
  // 18:00 hour but past local midnight.
  private def inKolkata(f: (DataFrame, DataFrame) => Unit): Unit = {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      def ev(utc: String, uid: Long, cents: Long, typ: String) =
        (java.sql.Timestamp.from(java.time.Instant.parse(utc)), uid, typ, cents)
      def frame(rows: Seq[(java.sql.Timestamp, Long, String, Long)]) =
        rows.toDF("ts", "user_id", "event_type", "value_cents")
      val seed = frame(Seq(
        ev("2024-06-01T17:10:00Z", 1L, 100L, "click"),
        ev("2024-06-01T18:20:00Z", 2L, 200L, "click"),   // local 23:50 Jun 1
        ev("2024-06-01T18:35:00Z", 3L, 300L, "purchase"), // local 00:05 Jun 2
        ev("2024-06-01T18:40:00Z", 4L, 400L, "click")))   // local 00:10 Jun 2
      val batch = frame(Seq(
        ev("2024-06-01T18:50:00Z", 5L, 500L, "click"),    // local 00:20 Jun 2,
        ev("2024-06-01T18:55:00Z", 3L, 250L, "click")))   // hour window 18:00
      f(seed, batch)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("incremental refresh equals rebuild in a fractional-offset session timezone") {
    // The refresh batch's hour date set alone would exclude the
    // next-date partition where the seed's 18:3x-UTC minute rows
    // already live, and the dynamic partition overwrite would drop
    // them (inc ≠ rebuild). A dense batch masks this (the following
    // hour window contributes the next date); a batch ending mid-hour
    // is the trailing-edge case.
    inKolkata { (seed, batch) =>
      val incRoot = tempDir("graft_inc_tz")
      val fullRoot = tempDir("graft_full_tz")
      Serving.materializeInto(spark, incRoot, seed)
      Serving.refreshWithBatch(spark, incRoot, batch)
      Serving.materializeInto(spark, fullRoot, seed.unionAll(batch))
      for (t <- Serving.allTables if t != "meta") {
        val inc = spark.read.parquet(s"$incRoot/$t").drop("w_ts")
        val full = spark.read.parquet(s"$fullRoot/$t").drop("w_ts")
        val cols = full.columns.sorted.toSeq
        val a = inc.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
        val b = full.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
        assert(a === b, s"table $t diverged after fractional-offset refresh")
      }
    }
  }

  test("user erasure equals rebuild in a fractional-offset session timezone") {
    // user 5's hour window starts 23:30 Jun 1 local, its minute and
    // day rows fall on Jun 2: the erase must cover the hour window's
    // own date (where agg_by_window stores the user), not only the
    // local dates of the event
    inKolkata { (seed, batch) =>
      val events = seed.unionAll(batch)
      val root = tempDir("graft_erase_tz")
      Serving.materializeInto(spark, root, events)
      assert(Serving.eraseUser(spark, root, events, 5L) === Seq("2024-06-01", "2024-06-02"))
      val rebuilt = tempDir("graft_erase_tz_rb")
      Serving.materializeInto(spark, rebuilt, events.filter(col("user_id") =!= 5L))
      for (t <- Serving.allTables if t != "meta") {
        val erased = spark.read.parquet(s"$root/$t").drop("w_ts")
        val full = spark.read.parquet(s"$rebuilt/$t").drop("w_ts")
        val cols = full.columns.sorted.toSeq
        val a = erased.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
        val b = full.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
        assert(a === b, s"table $t diverged after fractional-offset erasure")
      }
    }
  }

  test("user erasure: layout == rebuild without the user; untouched dates not rewritten; sole-owner date vanishes") {
    import java.sql.Timestamp
    val root = tempDir("graft_erase")
    def ev(id: Long, t: String, u: Long, et: String, cents: Long) =
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    val rows = Seq(
      ev(1, "2024-01-01 10:10:00", 1, "click", 300),
      ev(2, "2024-01-01 10:20:00", 2, "view", 500),
      ev(3, "2024-01-01 10:40:00", 1, "click", 200),
      ev(4, "2024-01-02 09:00:00", 3, "click", 900)) // user 3 owns the whole date
    val mkDf = (rs: Seq[(Long, Timestamp, Long, String, Double)]) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("value_cents", round(col("value") * 100).cast("long"))
    Serving.materializeInto(spark, root, mkDf(rows))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes(t: String, d: String): Seq[Long] =
      fs.listStatus(new Path(s"$root/$t/p_date=$d"))
        .map(_.getModificationTime).toSeq.sorted
    val before = mtimes("rollup_1m", "2024-01-01")

    // unknown user: no-op
    assert(Serving.eraseUser(spark, root, mkDf(rows), 99L) === Seq.empty)

    val affected = Serving.eraseUser(spark, root, mkDf(rows), 3L)
    assert(affected === Seq("2024-01-02"))
    // the sole-owner date is gone from every date-partitioned table
    for (t <- Serving.allTables if t != "meta" && t != "profile_upsert")
      assert(!fs.exists(new Path(s"$root/$t/p_date=2024-01-02")),
        s"$t still has the erased user's date")
    // untouched date partitions were neither read back nor rewritten
    assert(mtimes("rollup_1m", "2024-01-01") === before)
    // full layout equals a rebuild from the surviving events
    val fullRoot = tempDir("graft_erase_full")
    Serving.materializeInto(spark, fullRoot, mkDf(rows.take(3)))
    for (t <- Serving.allTables if t != "meta") {
      val cols = spark.read.parquet(s"$fullRoot/$t").drop("w_ts").columns.sorted.toSeq
      val a = spark.read.parquet(s"$root/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$fullRoot/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(a === b, s"table $t diverged after user erasure")
    }
    // a shared date recomputes without the erased user
    val affected2 = Serving.eraseUser(spark, root, mkDf(rows.take(3)), 2L)
    assert(affected2 === Seq("2024-01-01"))
    val users = spark.read.parquet(s"$root/agg_by_window")
      .select("user_id").distinct().as[Long].collect().toSet
    assert(users === Set(1L))
    // the erased user is gone from EVERY user-keyed table, asserted
    // per table (not just via the whole-layout comparison): the
    // user-keyed profile_upsert and the ranked boards each hold
    // user_id directly
    for (t <- Seq("agg_by_window", "agg_keyed_by_window", "rollup_1m_users",
        "topk_by_count", "topk_by_revenue", "topk_keyed_by_count",
        "topk_keyed_by_revenue", "profile_upsert"))
      assert(spark.read.parquet(s"$root/$t")
        .filter(col("user_id") === 2L).isEmpty, s"$t still holds user 2")
    // and every table — the day-grain sketch tables included — equals
    // the rebuild without the user, asserted individually
    val rb2 = tempDir("graft_erase_full2")
    Serving.materializeInto(spark, rb2,
      mkDf(rows.take(3)).filter(col("user_id") =!= 2L))
    for (t <- Serving.allTables if t != "meta") {
      val cols = spark.read.parquet(s"$rb2/$t").drop("w_ts").columns.sorted.toSeq
      val a = spark.read.parquet(s"$root/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$rb2/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(a === b, s"table $t diverged after the second user erasure")
    }
  }

  test("user erasure: crash between manifest and apply recovers to the complete erase (staged commit)") {
    import java.sql.Timestamp
    val root = tempDir("graft_erase_crash")
    def ev(id: Long, t: String, u: Long, et: String, cents: Long) =
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    val rows = Seq(
      ev(1, "2024-01-01 10:10:00", 1, "click", 300),
      ev(2, "2024-01-01 10:20:00", 2, "view", 500),
      ev(3, "2024-01-01 10:40:00", 1, "click", 200),
      ev(4, "2024-01-02 09:00:00", 3, "click", 900))
    val mkDf = (rs: Seq[(Long, Timestamp, Long, String, Double)]) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("value_cents", round(col("value") * 100).cast("long"))
    Serving.materializeInto(spark, root, mkDf(rows))
    // stage the full 17-leg erase of user 2 and CRASH at the commit
    // point — then go further: delete one table's affected partition,
    // the exact mid-apply window that used to leave a multi-table hole
    val plan = Serving.eraseLegs(spark, root, mkDf(rows), 2L)
    assert(plan.dates === Seq("2024-01-01") && plan.legs.size === 17)
    graft.serving.EraseStage.stage(spark, root, plan.legs)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$root/rollup_1m/p_date=2024-01-01"), true)
    fs.delete(new Path(s"$root/agg_by_window/p_date=2024-01-01"), true)
    // recovery (the start of any later maintenance op, or startup)
    assert(graft.serving.EraseStage.recover(spark, root))
    // every table equals the rebuild without the user — including the
    // two tables whose partitions the "crash" had already deleted
    val rb = tempDir("graft_erase_crash_rb")
    Serving.materializeInto(spark, rb, mkDf(rows).filter(col("user_id") =!= 2L))
    for (t <- Serving.allTables if t != "meta") {
      val cols = spark.read.parquet(s"$rb/$t").drop("w_ts").columns.sorted.toSeq
      val a = spark.read.parquet(s"$root/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$rb/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(a === b, s"table $t diverged after crash-recovered erasure")
    }
    // the meta stamp committed WITH the rewrites: erase_gen bumped once
    val meta = spark.read.parquet(s"$root/meta").head()
    assert(meta.getAs[Long]("erase_gen") === 1L)
    // and the stage is consumed — recover is idempotent
    assert(!graft.serving.EraseStage.recover(spark, root))

    // READ-PATH recovery: crash a SECOND erase (user 3) at the
    // manifest, then a plain TABLE READ — not a maintenance op —
    // completes it
    val plan2 = Serving.eraseLegs(spark, root, mkDf(rows).filter(col("user_id") =!= 2L), 3L)
    graft.serving.EraseStage.stage(spark, root, plan2.legs)
    val viaRead = Serving.readTableAt(spark, root, "agg_by_window")
    assert(viaRead.filter(col("user_id") === 3L).isEmpty,
      "table read must recover the staged erase, not serve the old rows")
    assert(!new java.io.File(s"$root/_erase_stage").exists)
    assert(spark.read.parquet(s"$root/meta").head()
      .getAs[Long]("erase_gen") === 2L)
  }

  test("user erasure refuses a stale frame that hides the user's stored dates") {
    import java.sql.Timestamp
    val root = tempDir("graft_erase_stale")
    def ev(id: Long, t: String, u: Long, et: String, cents: Long) =
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    val rows = Seq(
      ev(1, "2024-01-01 10:10:00", 1, "click", 300),
      ev(2, "2024-01-01 10:20:00", 2, "view", 500),
      ev(3, "2024-01-02 09:00:00", 2, "click", 900))
    val mkDf = (rs: Seq[(Long, Timestamp, Long, String, Double)]) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("value_cents", round(col("value") * 100).cast("long"))
    Serving.materializeInto(spark, root, mkDf(rows))
    // the frame is missing user 2's 2024-01-02 row: stored state says
    // the user touches that date too — a silent partial erase (or,
    // with no user rows at all, a silent no-op) must instead fail loud
    val ex = intercept[IllegalArgumentException] {
      Serving.eraseUser(spark, root, mkDf(rows.take(2)), 2L)
    }
    assert(ex.getMessage.contains("2024-01-02"))
    val exNoUser = intercept[IllegalArgumentException] {
      Serving.eraseUser(spark, root, mkDf(rows.take(1)), 2L)
    }
    assert(exNoUser.getMessage.contains("stale"))
    // state untouched by the refused calls
    val users = spark.read.parquet(s"$root/agg_by_window")
      .select("user_id").distinct().as[Long].collect().toSet
    assert(users === Set(1L, 2L))
  }

  test("a FOREIGN writer's commit invalidates pinned serving frames within one gen-probe TTL") {
    import java.sql.Timestamp
    val root = tempDir("graft_genprobe")
    def ev(id: Long, t: String, u: Long, et: String, cents: Long) =
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    val mkDf = (rs: Seq[(Long, Timestamp, Long, String, Double)]) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("value_cents", round(col("value") * 100).cast("long"))
    Serving.materializeInto(spark, root,
      mkDf(Seq(ev(1, "2024-01-01 10:10:00", 1, "click", 300))))
    spark.conf.set("graft.read.gen.ttl.ms", "600000")
    try {
      val t0 = Serving.readTableAt(spark, root, "agg_by_window")
      assert(Serving.readTableAt(spark, root, "agg_by_window") eq t0,
        "pinned frame not reused")
      // a FOREIGN process's refresh: emulated by the on-disk token
      // rewrite its write body performs ([[graft.serving.RootCache]] —
      // this JVM's in-process invalidation never ran)
      graft.serving.RootCache.bumpToken(spark, root)
      // within the TTL the pinned frame still serves (freshness bound)
      assert(Serving.readTableAt(spark, root, "agg_by_window") eq t0)
      // past the TTL the probe drops every pinned frame for the root
      // and the next read serves the new generation
      spark.conf.set("graft.read.gen.ttl.ms", "0")
      val t1 = Serving.readTableAt(spark, root, "agg_by_window")
      assert(!(t1 eq t0), "foreign commit not picked up past the TTL")
    } finally spark.conf.unset("graft.read.gen.ttl.ms")
  }

  test("streaming serving-refresh sink keeps the layout equal to batch rebuild") {
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    val root = tempDir("graft_srs")
    def ev(id: Long, t: String, u: Long, et: String, cents: Long) =
      (id, Timestamp.valueOf(t), u, et, cents / 100.0)
    val batch1 = Seq(
      ev(1, "2024-01-01 10:10:00", 1, "click", 300),
      ev(2, "2024-01-01 10:20:00", 2, "view", 500))
    val batch2 = Seq(
      ev(3, "2024-01-01 10:40:00", 1, "click", 200), // same window as batch1
      ev(4, "2024-01-02 09:00:00", 3, "click", 900)) // new date partition
    val mkDf = (rows: Seq[(Long, Timestamp, Long, String, Double)]) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("value_cents", org.apache.spark.sql.functions.round(col("value") * 100).cast("long"))
    Serving.materializeInto(spark, root, mkDf(batch1))

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Timestamp, Long, String, Double)]
    mem.addData(batch2)
    val q = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("value_cents", org.apache.spark.sql.functions.round(col("value") * 100).cast("long"))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(graft.streaming.StreamingPipeline.servingRefreshSink(root))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val fullRoot = tempDir("graft_srs_full")
    Serving.materializeInto(spark, fullRoot, mkDf(batch1 ++ batch2))
    for (t <- Serving.allTables if t != "meta") {
      val cols = spark.read.parquet(s"$fullRoot/$t").drop("w_ts").columns.sorted.toSeq
      val a = spark.read.parquet(s"$root/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$fullRoot/$t").drop("w_ts")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(a === b, s"table $t diverged after streaming refresh")
    }
  }

  test("refreshWithBatch skips an already-applied batch id (replay guard)") {
    import java.sql.Timestamp
    def mk(rows: (Long, String, Long, String, Long)*) =
      rows.map { case (id, t, u, et, c) => (id, Timestamp.valueOf(t), u, et, c / 100.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("value_cents", round(col("value") * 100).cast("long"))
    val root = tempDir("graft_replay")
    Serving.materializeInto(spark, root, mk((1, "2024-01-01 10:10:00", 1, "click", 300)))
    val delta = mk((2, "2024-01-01 10:40:00", 1, "click", 200))
    def totalCents() = spark.read.parquet(s"$root/agg_by_window")
      .agg(sum(col("total_cents"))).head.getLong(0)
    Serving.refreshWithBatch(spark, root, delta, batchId = 0L)
    val applied = totalCents()
    assert(applied === 500L)
    // foreachBatch replay after restart: same batch id re-delivered
    Serving.refreshWithBatch(spark, root, delta, batchId = 0L)
    assert(totalCents() === applied, "replayed batch must not double-merge")
    // a NEW batch id does apply
    Serving.refreshWithBatch(spark, root, delta, batchId = 1L)
    assert(totalCents() === 700L)
  }

  test("materializeInto on an empty events frame fails with a clear error") {
    import java.sql.Timestamp
    val empty = Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("value_cents", round(col("value") * 100).cast("long"))
    val root = tempDir("graft_empty")
    val e = intercept[IllegalArgumentException] {
      Serving.materializeInto(spark, root, empty)
    }
    assert(e.getMessage.contains("empty events"))
  }

  test("materialize is idempotent: second call rebuilds nothing") {
    val root = Serving.materialize(spark, sfDir)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m0 = fs.getFileStatus(new Path(s"$root/topk_by_count/_SUCCESS")).getModificationTime
    Serving.materialize(spark, sfDir)
    val m1 = fs.getFileStatus(new Path(s"$root/topk_by_count/_SUCCESS")).getModificationTime
    assert(m0 === m1)
  }

  test("a refresh leaves no RDD persisted: its local checkpoints are released") {
    import java.sql.Timestamp
    def mk(rows: (String, Long, String, Long)*) =
      rows.map { case (t, u, et, c) => (Timestamp.valueOf(t), u, et, c) }
        .toDF("ts", "user_id", "event_type", "value_cents")
    val root = tempDir("graft_ckpt_leak")
    Serving.materializeInto(spark, root, mk(("2024-01-01 10:10:00", 1L, "click", 300L)))
    // no RootCache slot of the root is live: materializeInto dropped them
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Serving.refreshWithBatch(spark, root, mk(("2024-01-01 10:40:00", 2L, "view", 200L)))
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"refresh left ${left.size} RDD(s) persisted")
  }

  // each date-partitioned table's file sort order: what row-group
  // pruning on every served route relies on
  private val fileSortOrder = Map(
    "agg_by_window" -> Seq("window_start_ms", "user_id"),
    "agg_keyed_by_window" -> Seq("event_type", "window_start_ms", "user_id"),
    "rollup_1m" -> Seq("event_type", "window_start_ms"),
    "rollup_1m_users" -> Seq("event_type", "window_start_ms", "user_id"),
    "rollup_1m_hist" -> Seq("event_type", "window_start_ms", "bin"),
    "rollup_1m_vals" -> Seq("event_type", "window_start_ms", "value_cents"),
    "rollup_1m_loghist" -> Seq("event_type", "window_start_ms", "lbucket"),
    "cm_daily" -> Seq("i", "bucket"),
    "kmv_daily" -> Seq("event_type", "window_start_ms"),
    "tuple_daily" -> Seq("event_type", "window_start_ms"),
    "bitmap_daily" -> Seq("event_type", "window_start_ms"),
    "topk_by_count" -> Seq("window_start_ms", "rank"),
    "topk_by_revenue" -> Seq("window_start_ms", "rank"),
    "topk_keyed_by_count" -> Seq("event_type", "window_start_ms", "rank"),
    "topk_keyed_by_revenue" -> Seq("event_type", "window_start_ms", "rank"))

  /** Every file of every date-partitioned table of `root` holds its
    * rows in the table's sort order.
    */
  private def assertFilesSorted(root: String, after: String): Unit =
    for ((t, sortCols) <- fileSortOrder) {
      // one small file is one split, read in file order
      val files = spark.read.parquet(s"$root/$t")
        .select(input_file_name() +: sortCols.map(col): _*).collect()
        .groupBy(_.getString(0)).values
      assert(files.exists(_.length > 1), s"$t: no file of two rows to order")
      // ascending, nulls first: the order of Spark's sortWithinPartitions
      def cmp(x: Any, y: Any): Int =
        if (x == null || y == null) (x != null).compare(y != null)
        else x.asInstanceOf[Comparable[Any]].compareTo(y)
      for (rows <- files; (a, b) <- rows.zip(rows.tail)) {
        val c = sortCols.indices.iterator.map(i => cmp(a.get(i + 1), b.get(i + 1)))
          .find(_ != 0).getOrElse(0)
        assert(c <= 0, s"$t after $after: ${a.mkString(",")} before ${b.mkString(",")}")
      }
    }

  test("every file of every date-partitioned table is in its sort order after build, refresh and erase") {
    assert(fileSortOrder.keySet === Serving.allTables.toSet -- Set("profile_upsert", "meta"))
    import java.sql.Timestamp
    def mk(rows: (String, Long, String, Long)*) =
      rows.map { case (t, u, et, c) => (Timestamp.valueOf(t), u, et, c) }
        .toDF("ts", "user_id", "event_type", "value_cents")
    val seed = mk(
      ("2024-01-01 10:10:00", 3L, "click", 300L),
      ("2024-01-01 10:20:00", 1L, "view", 500L),
      ("2024-01-01 10:40:00", 2L, "click", 200L),
      ("2024-01-01 11:05:00", 1L, "click", 700L))
    val batch = mk(
      ("2024-01-01 10:50:00", 4L, "view", 100L),
      ("2024-01-01 11:30:00", 2L, "purchase", 900L),
      ("2024-01-02 09:00:00", 3L, "click", 400L))
    val root = tempDir("graft_sorted")
    Serving.materializeInto(spark, root, seed)
    assertFilesSorted(root, "materializeInto")
    Serving.refreshWithBatch(spark, root, batch)
    assertFilesSorted(root, "refreshWithBatch")
    assert(Serving.eraseUser(spark, root, seed.unionAll(batch), 1L) === Seq("2024-01-01"))
    assertFilesSorted(root, "eraseUser")
  }
}

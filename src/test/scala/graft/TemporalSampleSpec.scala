package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{Ann, AsOfJoin, Sample, Sessionize}

/** Round-4 operators: as-of join, range join, sessionization (batch +
  * streaming parity), deterministic sampling, semantic dedup.
  */
class TemporalSampleSpec extends SparkSuite {
  import spark.implicits._
  import TemporalSampleSpec.Ev

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---------- as-of join ----------

  test("asOf: equal-ts match admitted, tie goes to max tie col, no-prior is null") {
    val left = Seq((1L, "u", ts("2024-01-01 10:00:00")), (2L, "u", ts("2024-01-01 09:00:00")),
      (3L, "v", ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, "u", ts("2024-01-01 10:00:00")), // equal ts: visible to left id 1
      (11L, "u", ts("2024-01-01 10:00:00")), // equal ts tie: max event_id wins
      (12L, "u", ts("2024-01-01 09:30:00"))  // after left id 2: invisible to it
    ).toDF("click_id", "user_id", "cts")
      .select(col("user_id"), col("cts").as("ts"), col("click_id").as("event_id"), col("click_id"))
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "event_id", Seq("click_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(out === Map(1L -> Some(11L), 2L -> None, 3L -> None))
  }

  test("asOf matches the brute-force latest-prior join on real events") {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("cts"), $"event_id".as("cid"))
    // independent formulation: theta join + argmax by (ts, id)
    val matched = p.join(c, $"user_id" === $"cu" && $"cts" <= $"ts")
      .groupBy($"event_id").agg(max(struct($"cts", $"cid")).as("m"))
      .select($"event_id", $"m.cid".as("want"))
    val expected = p.join(matched, Seq("event_id"), "left")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    val got = AsOfJoin.asOf(p,
        c.select($"cu".as("user_id"), $"cts".as("ts"), $"cid".as("event_id"), $"cid".as("click_id")),
        Seq("user_id"), "ts", "event_id", Seq("click_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(got === expected)
  }

  test("asOf plans exactly one shuffle (union-merge, not a join)") {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id", $"event_id".as("click_id"))
    val df = AsOfJoin.asOf(p, c, Seq("user_id"), "ts", "event_id", Seq("click_id"))
    df.collect()
    // AQE's toString repeats the pre-adaptive plan under
    // "== Initial Plan ==" — count shuffles in the final plan only.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("asOf and rangeJoin match brute force on random inputs with ts ties") {
    import org.scalacheck.{Gen, Prop, Test => PropTest}
    // µs timestamps drawn from a tiny range so ties and exact
    // boundary collisions actually occur
    val genRows: Gen[(List[(String, Long, Long)], List[(String, Long, Long)], Long)] = for {
      nl <- Gen.choose(1, 12); nr <- Gen.choose(0, 12)
      keys = List("a", "b")
      l <- Gen.listOfN(nl, for { k <- Gen.oneOf(keys); t <- Gen.choose(0L, 20L) } yield (k, t))
      r <- Gen.listOfN(nr, for { k <- Gen.oneOf(keys); t <- Gen.choose(0L, 20L) } yield (k, t))
      hi <- Gen.choose(1L, 8L)
    } yield (
      l.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
      r.zipWithIndex.map { case ((k, t), i) => (k, t, 100L + i) },
      hi)
    val prop = Prop.forAll(genRows) { case (lRows, rRows, hi) =>
      val left = lRows.toDF("k", "tu", "lid")
        .select($"k", timestamp_micros($"tu").as("ts"), $"lid")
      val right = rRows.toDF("k", "tu", "rid")
        .select($"k", timestamp_micros($"tu").as("ts"), $"rid".as("lid"), $"rid")
      // asOf: latest right with ts <= left.ts, max (ts, id) wins ties
      val gotAsof = AsOfJoin.asOf(left, right, Seq("k"), "ts", "lid", Seq("rid"))
        .select($"lid", $"asof_rid").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      val wantAsof = lRows.map { case (k, t, lid) =>
        lid -> rRows.filter(r => r._1 == k && r._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      }.toMap
      // rangeJoin: pairs with right.ts in [left.ts, left.ts + hi]
      val gotRange = AsOfJoin.rangeJoin(
          left, right.select($"k", $"ts".as("rts"), $"rid"),
          Seq("k"), "ts", "rts", 0L, hi)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      val wantRange = (for {
        (k, t, lid) <- lRows
        (rk, rt, rid) <- rRows if rk == k && rt >= t && rt <= t + hi
      } yield (lid, rid)).toSet
      gotAsof == wantAsof && gotRange == wantRange
    }
    val res = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------- range join ----------

  test("rangeJoin boundary µs: [lo, hi] closed on both ends") {
    val left = Seq((1L, "u", ts("2024-01-01 10:00:00"))).toDF("lid", "user_id", "p_ts")
    val right = Seq(
      (20L, "u", ts("2024-01-01 09:59:59.999999")), // before lo=0 → out
      (21L, "u", ts("2024-01-01 10:00:00")),        // at lo → in
      (22L, "u", ts("2024-01-01 10:05:00")),        // at hi → in
      (23L, "u", ts("2024-01-01 10:05:00.000001"))  // past hi → out
    ).toDF("rid", "user_id", "e_ts")
    val out = AsOfJoin.rangeJoin(left, right, Seq("user_id"), "p_ts", "e_ts",
      loUs = 0L, hiUs = 5L * 60 * 1000000).select("rid").as[Long].collect().toSet
    assert(out === Set(21L, 22L))
  }

  test("rangeJoin matches the theta join on real events, with an equi-join plan") {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val e = ev.filter($"event_type" === "error")
      .select($"event_id".as("error_id"), $"user_id".as("eu"), $"ts".as("e_ts"))
    val hiUs = 6L * 3600 * 1000000
    val naive = p.join(e, $"user_id" === $"eu" &&
        unix_micros($"e_ts") >= unix_micros($"p_ts") &&
        unix_micros($"e_ts") <= unix_micros($"p_ts") + hiUs)
      .select($"purchase_id", $"error_id").as[(Long, Long)].collect().toSet
    val df = AsOfJoin.rangeJoin(p, e.withColumnRenamed("eu", "user_id"),
      Seq("user_id"), "p_ts", "e_ts", 0L, hiUs)
    val got = df.select($"purchase_id", $"error_id").as[(Long, Long)].collect().toSet
    assert(got === naive)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  // ---------- sessionization ----------

  test("sessionize: only a gap > 30min starts a new session (µs-exact boundary)") {
    val df = Seq(
      Ev("u", ts("2024-01-01 10:00:00"), 1L),
      Ev("u", ts("2024-01-01 10:30:00"), 2L),        // == gap → merged (lands on window end)
      Ev("u", ts("2024-01-01 11:00:00.000001"), 4L), // > gap by 1µs → NEW session
      Ev("u", ts("2024-01-01 11:29:59.999999"), 8L)  // < gap → same session
    ).toDF()
    val out = Sessionize.sessions(df, "user_id", "ts", "30 minutes", "value_cents")
      .orderBy("session_start_ms")
      .select("n_events", "sum_value_cents").as[(Long, Long)].collect().toSeq
    assert(out === Seq((2L, 3L), (2L, 12L)))
  }

  test("session_window sessions equal the lag-based definition on real events") {
    val ev = Tables.events(spark, sfDir)
    val gapUs = 30L * 60 * 1000000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy(unix_micros($"ts"))
    val lagged = ev.withColumn("tu", unix_micros($"ts"))
      .withColumn("ns", when(lag($"tu", 1).over(w).isNull ||
        $"tu" - lag($"tu", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum($"ns").over(w.rowsBetween(Long.MinValue, 0)))
    val expected = lagged.groupBy($"user_id", $"sid")
      .agg((min($"tu") / 1000).cast("long").as("session_start_ms"),
        ((max($"tu") / 1000).cast("long") + 30L * 60 * 1000).as("session_end_ms"),
        count(lit(1)).as("n_events"), sum($"value_cents").as("sum_value_cents"))
      .drop("sid")
    val got = Sessionize.sessions(ev, "user_id", "ts", "30 minutes", "value_cents")
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).isEmpty)
    assert(expected.select(got.columns.map(col): _*).exceptAll(got).isEmpty)
  }

  test("streaming session_window equals batch sessionize") {
    implicit val sql = spark.sqlContext
    val rows = Seq(
      Ev("u1", ts("2024-01-01 10:00:00"), 100L),
      Ev("u1", ts("2024-01-01 10:10:00"), 200L),
      Ev("u1", ts("2024-01-01 11:00:00"), 300L),
      Ev("u2", ts("2024-01-01 10:05:00"), 400L))
    val sentinels = Seq(
      Ev("zz", ts("2024-01-03 00:00:00"), 0L),
      Ev("zz", ts("2024-01-05 00:00:00"), 0L))
    val mem = MemoryStream[Ev]
    val sessions = Sessionize.sessions(
      mem.toDF().withWatermark("ts", "1 second"),
      "user_id", "ts", "30 minutes", "value_cents")
    val q = sessions.writeStream.format("memory")
      .queryName("stream_sessions").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every real session, the second flushes them to the sink.
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      val streamed = spark.table("stream_sessions").filter($"user_id" =!= "zz")
      val batch = Sessionize.sessions(rows.toDF(), "user_id", "ts", "30 minutes", "value_cents")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      assert(streamed.count() === 3) // u1: two sessions, u2: one
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sql = spark.sqlContext
    import TemporalSampleSpec.{PEv, REv}
    val purchases = Seq(
      PEv(1L, "u", ts("2024-01-01 10:00:00")),
      PEv(2L, "u", ts("2024-01-01 12:00:00")),
      PEv(3L, "v", ts("2024-01-01 10:00:00")))
    val errors = Seq(
      REv(10L, "u", ts("2024-01-01 10:03:00")), // in [0,5m] of p1
      REv(11L, "u", ts("2024-01-01 10:06:00")), // past hi → out
      REv(12L, "u", ts("2024-01-01 12:05:00")), // at hi of p2 → in
      REv(13L, "v", ts("2024-01-01 09:59:00")), // before p3 → out
      REv(14L, "w", ts("2024-01-01 10:00:00"))) // no left key → out
    val lMem = MemoryStream[PEv]; val rMem = MemoryStream[REv]
    val joined = graft.streaming.StreamJoin.intervalJoin(
      lMem.toDF(), rMem.toDF(), Seq("user_id"), "p_ts", "e_ts",
      hi = "5 minutes", watermarkDelay = "10 seconds")
    val q = joined.writeStream.format("memory")
      .queryName("stream_ivj").outputMode("append").start()
    try {
      lMem.addData(purchases: _*); rMem.addData(errors: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_ivj")
        .select("purchase_id", "error_id").as[(Long, Long)].collect().toSet
      val batch = graft.ops.AsOfJoin.rangeJoin(purchases.toDF(), errors.toDF(),
          Seq("user_id"), "p_ts", "e_ts", 0L, 5L * 60 * 1000000)
        .select("purchase_id", "error_id").as[(Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set((1L, 10L), (2L, 12L)))
    } finally q.stop()
  }

  test("leftOuter interval join with lookback: nulls emit after the watermark flush") {
    implicit val sql = spark.sqlContext
    import TemporalSampleSpec.{PEv, REv}
    // p1 has a click 3 min back (in the 5-min lookback), p2's only
    // click is 6 min back (out), p3 has none at all
    val purchases = Seq(
      PEv(1L, "u", ts("2024-01-01 10:00:00")),
      PEv(2L, "u", ts("2024-01-01 12:00:00")),
      PEv(3L, "v", ts("2024-01-01 10:00:00")))
    val clicks = Seq(
      REv(10L, "u", ts("2024-01-01 09:57:00")),
      REv(11L, "u", ts("2024-01-01 11:54:00")))
    val lMem = MemoryStream[PEv]; val rMem = MemoryStream[REv]
    val joined = graft.streaming.StreamJoin.intervalJoinBounds(
      lMem.toDF(), rMem.toDF(), Seq("user_id"), "p_ts", "e_ts",
      loUs = -5L * 60 * 1000000, hiUs = 0L,
      watermarkDelay = "10 seconds", joinType = "leftOuter")
    val q = joined.writeStream.format("memory")
      .queryName("stream_ivj_outer").outputMode("append").start()
    try {
      lMem.addData(purchases: _*); rMem.addData(clicks: _*)
      q.processAllAvailable()
      // matched pair emits without any watermark progress
      val matched = spark.table("stream_ivj_outer")
        .filter($"error_id".isNotNull)
        .select("purchase_id", "error_id").as[(Long, Long)].collect().toSet
      assert(matched === Set((1L, 10L)))
      // outer rows need BOTH watermarks past the window ends
      lMem.addData(PEv(99L, "z", ts("2024-01-02 00:00:00")))
      rMem.addData(REv(99L, "z", ts("2024-01-02 00:00:00")))
      q.processAllAvailable(); q.processAllAvailable()
      val outer = spark.table("stream_ivj_outer")
        .filter($"error_id".isNull && $"purchase_id" < 90)
        .select("purchase_id").as[Long].collect().toSet
      assert(outer === Set(2L, 3L))
    } finally q.stop()
  }

  // ---------- deterministic sampling ----------

  private val docsDir = "/root/testdata/sf0.01"

  test("stratifiedBernoulli is row-local: sampling a subset = subset of the sample") {
    val docs = Tables.documents(spark, docsDir)
    val rates = Map("en" -> 0.5, "zh" -> 0.3)
    val whole = Sample.stratifiedBernoulli(docs, "doc_id", "lang", rates, 0.25)
      .filter($"doc_id" % 2 === 0).select("doc_id").as[Long].collect().toSet
    val part = Sample.stratifiedBernoulli(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "lang", rates, 0.25).select("doc_id").as[Long].collect().toSet
    assert(whole === part)
  }

  test("stratifiedBernoulli hits per-stratum rates within binomial tolerance") {
    val docs = Tables.documents(spark, docsDir)
    val kept = Sample.stratifiedBernoulli(docs, "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.3), 0.25)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    def ratio(l: String) = kept.getOrElse(l, 0L).toDouble / totals(l)
    assert(math.abs(ratio("en") - 0.5) < 0.15, kept.toString)
    assert(math.abs(ratio("zh") - 0.3) < 0.2, kept.toString)
  }

  test("perGroupFixedN returns exactly min(n, |group|) rows, stable under repartition") {
    val docs = Tables.documents(spark, docsDir)
    val out = Sample.perGroupFixedN(docs, "source", "doc_id", 5)
    val counts = out.groupBy("source").count().as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (s, n) => assert(counts(s) === math.min(5L, n), s) }
    val again = Sample.perGroupFixedN(docs.repartition(13), "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(again === out.select("doc_id").as[Long].collect().toSet)
  }

  test("mixtureSample keeps ~budget*weight tokens per stratum") {
    val docs = Tables.documents(spark, docsDir)
      .select($"doc_id", $"lang", graft.functions.Text.estBpeTokens($"n_chars").as("tok"))
    val weights = Map("en" -> 0.4, "zh" -> 0.2, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1)
    val kept = Sample.mixtureSample(docs, "doc_id", "lang", "tok", weights, 20000.0)
      .groupBy("lang").agg(sum($"tok").as("t")).as[(String, Long)].collect().toMap
    weights.foreach { case (lang, wt) =>
      val target = 20000.0 * wt
      assert(math.abs(kept(lang) - target) < target * 0.45,
        s"$lang kept=${kept(lang)} target=$target")
    }
  }

  test("weightedTopK matches the brute-force A-ES selection and is repartition-stable") {
    val docs = Tables.documents(spark, docsDir)
      .select($"doc_id", graft.functions.Text.estBpeTokens($"n_chars").as("w"))
    val out = Sample.weightedTopK(docs, "doc_id", "w", 100)
      .select("doc_id").as[Long].collect().toSet
    assert(out.size === 100)
    // brute force with the identical math (md5-60-bit u, ln(u)/w key)
    def h60(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = docs.as[(Long, Long)].collect().map { case (id, w) =>
      val u = (h60(id).toDouble + 1.0) / Sample.HashSpace.toDouble
      (math.log(u) / w.toDouble, id)
    }.sortBy { case (k, id) => (-k, id) }.take(100).map(_._2).toSet
    assert(out === expected)
    val again = Sample.weightedTopK(docs.repartition(13), "doc_id", "w", 100)
      .select("doc_id").as[Long].collect().toSet
    assert(again === out)
  }

  test("weightedTopK favors heavy rows; plans as TakeOrderedAndProject (no global sort)") {
    val docs = Tables.documents(spark, docsDir)
      .select($"doc_id", graft.functions.Text.estBpeTokens($"n_chars").as("w"))
    val sel = Sample.weightedTopK(docs, "doc_id", "w", 100)
    sel.collect()
    val p = sel.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    // inclusion probability ∝ weight ⇒ the sample over-represents
    // heavy docs: its mean weight must beat the corpus mean
    val meanSel = sel.agg(avg($"w")).as[Double].head()
    val meanAll = docs.agg(avg($"w")).as[Double].head()
    assert(meanSel > meanAll, s"sample mean $meanSel !> corpus mean $meanAll")
  }

  test("weightedTopKPerGroup: per-group brute-force parity, WindowGroupLimit plan, stability") {
    val docs = Tables.documents(spark, docsDir)
      .select($"doc_id", $"lang", graft.functions.Text.estBpeTokens($"n_chars").as("w"))
    val sel = Sample.weightedTopKPerGroup(docs, "lang", "doc_id", "w", 5)
    val out = sel.select("lang", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def h60(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = docs.as[(Long, String, Long)].collect()
      .groupBy(_._2).view.mapValues { g =>
        g.map { case (id, _, w) =>
          val u = (h60(id).toDouble + 1.0) / Sample.HashSpace.toDouble
          (math.log(u) / w.toDouble, id)
        }.sortBy { case (k, id) => (-k, id) }.take(5).map(_._2).toSet
      }.toMap
    assert(out === expected)
    // per-group rank state is bounded: the filter plans as WindowGroupLimit
    sel.collect()
    assert(sel.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      sel.queryExecution.executedPlan.toString)
    // placement-independent
    val again = Sample.weightedTopKPerGroup(docs.repartition(13), "lang", "doc_id", "w", 5)
      .select("lang", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(again === out)
  }

  // ---------- semantic dedup ----------

  test("importanceWeights ranks target-profile docs above off-profile docs") {
    // target = lang 'en'. Doc 10 repeats the exact target bigrams; doc
    // 20 shares none of them — its buckets carry only the +1 smoothing
    // numerator, so its score must land strictly below.
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog sat on the rug", "en"),
      (10L, "the cat sat on the rug", "xx"),
      (20L, "ein hund liegt auf dem teppich", "xx"))
      .toDF("doc_id", "text", "lang")
    val scores = Sample.importanceWeights(corpus, col("lang") === "en")
      .as[(Long, Long)].collect().toMap
    assert(scores.keySet === Set(1L, 2L, 10L, 20L)) // every doc scored
    assert(scores(10L) > scores(20L))
    // a doc of pure target bigrams scores at least the target docs' floor
    assert(scores(10L) > 0 && scores(20L) >= 0)
    // partition invariance: pure function of corpus content
    val reparted = Sample.importanceWeights(
      corpus.repartition(7), col("lang") === "en")
      .as[(Long, Long)].collect().toMap
    assert(reparted === scores)
  }

  test("importance profile: served ≡ direct; split-batch deltas merge to the one-shot profile") {
    import graft.serving.ImportanceProfile
    val docs = Tables.documents(spark, sfDir)
    val direct = graft.queries.SampleQueries.sampleImportance(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    // one-shot materialized root (the gate's own path)
    val served = graft.queries.SampleQueries.sampleImportanceServed(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(served === direct)
    // rebuild the same state as two additive deltas → identical scores
    val dir = java.nio.file.Files.createTempDirectory("graft_imp_split").toString
    val pred = col("lang") === "en"
    ImportanceProfile.writeDelta(
      graft.ops.Sample.bucketProfile(docs.filter($"doc_id" % 2 === 0), pred), 0L, dir)
    ImportanceProfile.writeDelta(
      graft.ops.Sample.bucketProfile(docs.filter($"doc_id" % 2 === 1), pred), 1L, dir)
    val split = ImportanceProfile.score(spark, dir, docs)
      .as[(Long, Long)].collect().toMap
    assert(split === direct)
  }

  test("importance profile root: a documents table rewritten in place deletes the superseded root") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imp_evict").toString
    def land(n: Int): Unit = Tables.documents(spark, sfDir).filter($"doc_id" < n)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    land(40)
    val first = graft.queries.SampleQueries.importanceRoot(spark, dir)
    land(30) // a new fingerprint for the same source path
    val second = graft.queries.SampleQueries.importanceRoot(spark, dir)
    assert(second !== first)
    assert(new java.io.File(second).exists)
    assert(!new java.io.File(first).exists, "the superseded profile root leaked")
  }

  test("semanticDedupPairs ⊆ exact cosine near-dup pairs; no cartesian in the plan") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Ann.coarseCentroids(emb, nCells = 8)
    val sem = Ann.semanticDedupPairs(emb, centroids, threshold = 0.2)
    val semPairs = sem.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Ann.cosineNearDupPairs(emb, threshold = 0.2)
      .as[(Long, Long)].collect().toSet
    assert(semPairs.subsetOf(exact), s"${semPairs.size} vs ${exact.size}")
    assert(semPairs.nonEmpty)
    val plan = sem.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }
}

object TemporalSampleSpec {
  case class Ev(user_id: String, ts: Timestamp, value_cents: Long)
  case class PEv(purchase_id: Long, user_id: String, p_ts: Timestamp)
  case class REv(error_id: Long, user_id: String, e_ts: Timestamp)
}

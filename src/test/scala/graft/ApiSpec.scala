package graft

import org.apache.spark.sql.functions._
import graft.api.TopKApi
import graft.serving.Serving

/** TopKApi façade contract: defaults, sentinel routing, k bounds. */
class ApiSpec extends SparkSuite {
  import spark.implicits._

  test("defaults: now-1h..now windows only, k=10, global sentinel rows") {
    val now = Serving.anchorMs(spark, sfDir)
    val rows = TopKApi.topk(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("restaurant_id") === "all")
      val ws = r.getAs[Long]("window_start_ms")
      assert(ws < now && ws + Serving.hourMs > now - Serving.hourMs)
      assert(r.getAs[Long]("rank") <= 10)
    }
  }

  test("\"all\" sentinel is case-insensitive") {
    val a = TopKApi.topk(spark, sfDir, restaurantId = "all").collect().toSeq
    val b = TopKApi.topk(spark, sfDir, restaurantId = "ALL").collect().toSeq
    assert(a === b)
  }

  test("restaurant routing filters the keyed table to that restaurant") {
    val now = Serving.anchorMs(spark, sfDir)
    val rows = TopKApi.topk(spark, sfDir, restaurantId = "click",
      fromMs = Some(now - 24 * Serving.hourMs), k = 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("restaurant_id") === "click")
      assert(r.getAs[Long]("rank") <= 3)
    }
  }

  test("byRevenue returns a flat k-row list in revenue-desc order") {
    val now = Serving.anchorMs(spark, sfDir)
    val rows = TopKApi.topk(spark, sfDir,
      fromMs = Some(now - 72 * Serving.hourMs), k = 5, byRevenue = true)
      .select("total_cents", "window_end_ms").as[(Long, Long)].collect().toSeq
    assert(rows.length === 5)
    val key = rows.map { case (c, w) => (-c, -w) }
    assert(key === key.sorted)
  }

  test("topkResponse mirrors the reference's TopKResponse envelope exactly") {
    val now = Serving.anchorMs(spark, sfDir)
    val from = now - 24 * Serving.hourMs
    val json = TopKApi.topkResponse(spark, sfDir, restaurantId = "Click",
      fromMs = Some(from), toMs = Some(now), k = 3).as[String].head()
    // envelope field names, verbatim from TopKController.kt:134-140
    Seq("\"restaurantId\":\"click\"", s""""startTime":$from""", s""""endTime":$now""",
      "\"k\":3", "\"items\":[").foreach(f => assert(json.contains(f), s"$f missing in $json"))
    // item field names from TopKResult (models/Models.kt:39-49)
    Seq("\"restaurant_id\"", "\"menu_item_id\"", "\"rank\"", "\"order_count\"",
      "\"total_revenue_in_cents\"", "\"window_start\"", "\"window_end\"")
      .foreach(f => assert(json.contains(f), s"$f missing in $json"))
    // decode round-trip: the items are exactly the topk() rows, in order
    val itemSchema = "ARRAY<STRUCT<restaurant_id: STRING, menu_item_id: STRING, rank: BIGINT, " +
      "order_count: BIGINT, total_revenue_in_cents: BIGINT, window_start: BIGINT, window_end: BIGINT>>"
    val schema = s"STRUCT<restaurantId: STRING, startTime: BIGINT, endTime: BIGINT, k: INT, items: $itemSchema>"
    val decoded = TopKApi.topkResponse(spark, sfDir, restaurantId = "click",
      fromMs = Some(from), toMs = Some(now), k = 3)
      .select(from_json(col("response"), org.apache.spark.sql.types.DataType.fromDDL(schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).as("r"))
      .select(explode(col("r.items")).as("i"))
      .select("i.menu_item_id", "i.rank", "i.order_count", "i.total_revenue_in_cents")
      .as[(String, Long, Long, Long)].collect().toSeq
    val direct = TopKApi.topk(spark, sfDir, restaurantId = "click",
      fromMs = Some(from), toMs = Some(now), k = 3)
      .select(col("user_id").cast("string"), col("rank"), col("order_count"), col("total_cents"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(decoded === direct)
  }

  test("k outside [1, K] is rejected") {
    intercept[IllegalArgumentException] { TopKApi.topk(spark, sfDir, k = 0) }
    intercept[IllegalArgumentException] { TopKApi.topk(spark, sfDir, k = Serving.K + 1) }
  }

  test("distinctUsers: routed count equals the raw recompute; empty range rejected") {
    val now = Serving.anchorMs(spark, sfDir)
    val (from, to) = (now - 48L * Serving.hourMs, now)
    val served = TopKApi.distinctUsers(spark, sfDir, restaurantId = "Click",
        fromMs = Some(from), toMs = Some(to))
      .select("restaurant_id", "distinct_users").as[(String, Long)].head()
    val exact = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .filter(unix_millis(date_trunc("minute", col("ts"))) < to &&
        unix_millis(date_trunc("minute", col("ts"))) + 60000L > from)
      .select("user_id").distinct().count()
    assert(served === ("click", exact)) // id lowercased, state == raw
    intercept[IllegalArgumentException] {
      TopKApi.distinctUsers(spark, sfDir, fromMs = Some(5L), toMs = Some(5L))
    }
  }

  test("API routes through replica groups; both copies serve identical rows") {
    import graft.serving.{ReplicaRouter, Replicas}
    val servingRoot = Serving.materialize(spark, sfDir)
    // the table's N mirrors, each with its manifest
    def mirrored(table: String): Boolean =
      (0 until ReplicaRouter.N).forall(i => new java.io.File(
        s"${Replicas.area(servingRoot, table)}/replica=$i/_replica_manifest").exists)
    // a routed call converges the mirrors lazily
    val routed = TopKApi.topk(spark, sfDir).collect()
    assert(routed.nonEmpty)
    assert(mirrored("topk_by_count"), "API topk call must have built the mirrors")
    val area = Replicas.area(servingRoot, "topk_by_count")
    val a = spark.read.parquet(s"$area/replica=0")
      .collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(s"$area/replica=1")
      .collect().map(_.toString).sorted.toSeq
    assert(a === b) // copy-equality: any replica serves the same envelope
    assert(a.nonEmpty)
    // the routed read equals the unrouted primary table
    val primary = Serving.readTable(spark, sfDir, "topk_by_count")
      .collect().map(_.toString).sorted.toSeq
    assert(a === primary)
    // the histogram/users states route too (percentiles/distinctUsers)
    TopKApi.percentiles(spark, sfDir).collect()
    TopKApi.distinctUsers(spark, sfDir).collect()
    assert(mirrored("rollup_1m_hist"))
    assert(mirrored("rollup_1m_users"))
  }

  test("sketch quantiles honor the 6.25% relative-error bound against the exact route") {
    val now = Serving.anchorMs(spark, sfDir)
    val (from, to) = (now - 48L * Serving.hourMs, now)
    val ps = Seq(100L, 250L, 500L, 900L, 990L)
    val exact = TopKApi.quantile(spark, sfDir, pPerMille = ps,
        fromMs = Some(from), toMs = Some(to)).head()
    val approx = TopKApi.quantileApprox(spark, sfDir, pPerMille = ps,
        fromMs = Some(from), toMs = Some(to)).head()
    assert(exact.getAs[Long]("n") === approx.getAs[Long]("n"))
    ps.foreach { p =>
      val e = exact.getAs[Long](s"p${p}_cents")
      val a = approx.getAs[Long](s"p${p}_cents_est")
      // the estimate is the bucket lower edge: never above the exact
      // order statistic, within one sixteenth of an octave below it
      assert(a <= e, s"p$p: est $a above exact $e")
      if (e >= 16L) assert((e - a) * 16 <= e, s"p$p: est $a vs exact $e")
      else assert(a === e, s"p$p: small-value regime must be exact")
    }
    // keyed routing: per-type sketch answers match the same bound
    val exactK = TopKApi.quantile(spark, sfDir, restaurantId = "click",
      pPerMille = Seq(500L), fromMs = Some(from), toMs = Some(to)).head()
    val approxK = TopKApi.quantileApprox(spark, sfDir, restaurantId = "click",
      pPerMille = Seq(500L), fromMs = Some(from), toMs = Some(to)).head()
    val (eK, aK) = (exactK.getAs[Long]("p500_cents"), approxK.getAs[Long]("p500_cents_est"))
    assert(aK <= eK && (eK < 16L || (eK - aK) * 16 <= eK))
  }

  test("percentiles: a range with no data still answers ONE envelope row (n=0, NULL pcts)") {
    // valid range, but decades before any event: the route's contract
    // is an envelope row per call, never zero rows
    val rows = TopKApi.percentiles(spark, sfDir,
      fromMs = Some(0L), toMs = Some(60000L)).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("restaurant_id") === "all")
    assert(r.getAs[Long]("n") === 0L)
    assert(r.isNullAt(r.fieldIndex("p50_cents")) &&
      r.isNullAt(r.fieldIndex("p90_cents")) &&
      r.isNullAt(r.fieldIndex("p99_cents")))
  }

  /** The prepared plan a route frame was bound from (its template). */
  private def templateOf(df: org.apache.spark.sql.DataFrame): AnyRef =
    df.queryExecution.analyzed match {
      case r: graft.plans.PreparedRelation => r.template
      case other => fail(s"not a prepared frame: $other")
    }

  test("prepared routes equal their literal-planned twin over a range × restaurant × k grid, before and after a refresh") {
    import java.sql.Timestamp
    import graft.plans.Prepared
    import graft.serving.{ReplicaRouter, Replicas}
    // isolated dataset: the refresh rewrites the serving root
    val dir = eventsCopy("graft_api_prepared")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // every route over from × to × restaurant × k, each frame with its
    // route shape; "absent" is a type with no rows in any range
    def grid(): Seq[(String, String, org.apache.spark.sql.DataFrame)] = {
      val now = Serving.anchorMs(spark, dir)
      val ranges = for (to <- Seq(now, now - 30L * Serving.hourMs);
          span <- Seq(2L, 48L)) yield (Some(to - span * Serving.hourMs), Some(to))
      ranges.map { case (from, to) => ("all-types", s"all-types $from $to",
        TopKApi.quantileApproxAllTypes(spark, dir, Seq(125L, 975L), from, to))
      } ++ (for ((from, to) <- ranges; rid <- Seq("all", "click", "absent")) yield {
        val at = s"$rid $from $to"
        val routing = if (rid == "all") "global" else s"${Replicas.replicaFor(rid, ReplicaRouter.N)}"
        (Seq(1, 10).flatMap(k => Seq(false, true).map(rev =>
            (s"topk k=$k rev=$rev", TopKApi.topk(spark, dir, rid, from, to, k, rev)))) ++
          Seq("distinct" -> TopKApi.distinctUsers(spark, dir, rid, from, to),
            "exact" -> TopKApi.distinctUsersExact(spark, dir, rid, from, to),
            "percentiles" -> TopKApi.percentiles(spark, dir, rid, from, to),
            "quantile" -> TopKApi.quantile(spark, dir, rid, Seq(125L, 975L), from, to),
            "approx" -> TopKApi.quantileApprox(spark, dir, rid, Seq(125L, 975L), from, to)))
          .map { case (route, df) => (s"$route $routing", s"$route $at", df) }
      }).flatten
    }
    def check(): (Seq[Seq[String]], Set[AnyRef]) = {
      val frames = grid()
      val answers = frames.map { case (_, label, df) =>
        // the per-type sweep has no row order; every other route has
        val order = if (label.startsWith("all-types")) (r: Seq[String]) => r.sorted
          else (r: Seq[String]) => r
        val got = order(rows(df))
        assert(got === order(rows(Prepared.inlined(df))), label)
        got
      }
      // one prepared plan per route shape across the whole grid
      frames.groupBy(_._1).foreach { case (shape, fs) =>
        val plans = fs.map(f => templateOf(f._3))
        assert(plans.forall(_ eq plans.head), s"one plan build for $shape")
      }
      (answers, frames.map(f => templateOf(f._3)).toSet)
    }
    val (first, firstPlans) = check()
    val anchor = Serving.anchorMs(spark, dir)
    val batch = (1 to 5).map(i => (new Timestamp(anchor - i * 60000L), 424242L, "click", 9900L))
      .toDF("ts", "user_id", "event_type", "value_cents")
    Serving.refreshWithBatch(spark, Serving.materialize(spark, dir), batch, batchId = 0L)
    val (second, secondPlans) = check()
    assert(second !== first, "the refresh must change some answer")
    assert(firstPlans.forall(p => !secondPlans.exists(_ eq p)),
      "the refresh drops every route plan")
    // two frames of one route, built before either is collected, and
    // collected in reverse order: each answers its own range
    val a = TopKApi.percentiles(spark, dir, fromMs = Some(anchor - 2L * Serving.hourMs),
      toMs = Some(anchor))
    val b = TopKApi.percentiles(spark, dir, fromMs = Some(anchor - 48L * Serving.hourMs),
      toMs = Some(anchor - 24L * Serving.hourMs))
    val (rb, ra) = (rows(b), rows(a))
    assert(ra !== rb)
    assert(ra === rows(Prepared.inlined(a)) && rb === rows(Prepared.inlined(b)))
  }

  test("a root keeps a bounded number of p-list route plans; further p-lists plan per call") {
    val dir = eventsCopy("graft_api_plists")
    val lists = (1L to TopKApi.MaxQuantilePlans + 4L).map(p => Seq(p, 1000L - p))
    def plans(): Seq[AnyRef] = lists.map(ps => templateOf(TopKApi.quantile(spark, dir, pPerMille = ps)))
    val (once, again) = (plans(), plans())
    val kept = once.zip(again).map { case (a, b) => a eq b }
    assert(kept === lists.indices.map(_ < TopKApi.MaxQuantilePlans),
      "the first p-lists keep their plan, the ones past the bound do not")
    // the bound holds the quantile family only
    assert(templateOf(TopKApi.percentiles(spark, dir)) eq templateOf(TopKApi.percentiles(spark, dir)))
    // every answer still equals its literal-planned twin
    val df = TopKApi.quantile(spark, dir, pPerMille = lists.last)
    assert(df.collect().toSeq === graft.plans.Prepared.inlined(df).collect().toSeq)
  }

  test("head, take, first and show on a route frame evaluate on the calling thread: no job") {
    val now = Serving.anchorMs(spark, sfDir)
    def route() = TopKApi.topk(spark, sfDir, fromMs = Some(now - 72 * Serving.hourMs), k = 5,
      byRevenue = true)
    val all = route().collect().toSeq // warm: pin and plan built
    assert(all.length === 5)
    val shown = new java.io.ByteArrayOutputStream()
    val calls = Seq[(String, () => Any, Any)](
      ("collect", () => route().collect().toSeq, all),
      ("head", () => route().head(2).toSeq, all.take(2)),
      ("take", () => route().take(3).toSeq, all.take(3)),
      ("first", () => route().first(), all.head),
      ("show", () => Console.withOut(shown)(route().show(2)), ()))
    for ((name, call, expected) <- calls) {
      val (got, jobs) = withJobCount(call())
      assert(got === expected, name)
      assert(jobs === 0, name)
    }
    val table = shown.toString
    assert(table.contains(s"${all.head.getAs[Long]("user_id")}|") &&
      table.contains("only showing top 2 rows"), table)
  }
}

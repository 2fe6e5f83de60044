package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType}
import graft.plans.{Param, Prepared}
import graft.serving.{ReplicaRouter, Replicas, RootCache, Serving}

/** Query-API façade — the reference's REST surface re-expressed as a
  * library call (TopKController.kt:34-38, QueryService.kt:43-129).
  *
  * Parameter semantics match the reference:
  *  - `fromMs`/`toMs` default to now-1h / now (the controller's
  *    relative defaults); "now" on static data is the dataset's max
  *    event ts (the anchor the serving layer stores).
  *  - `k` defaults to 10 and is capped at [[Serving.K]] — the ranks
  *    the serving tables materialize.
  *  - `restaurantId = "all"` (case-insensitive, TopKController.kt:108)
  *    routes to the global table; anything else filters the keyed
  *    table (QueryService.kt:105's per-restaurant vs global routing).
  *    Output rows carry `restaurant_id` — the literal `"all"` for
  *    global results, mirroring the reference's ALL-sentinel rows
  *    (ProcessFunctions.kt:117-132).
  *  - `byRevenue = false` → per-window rank-by-count rows, window
  *    desc / rank asc (QueryService.kt:43-61);
  *    `byRevenue = true`  → flat top-k across the range by revenue
  *    desc, window end desc (QueryService.kt:99-129).
  *
  * A window is in range when it OVERLAPS [from, to) — the default
  * 1-hour range therefore returns the in-progress window plus the
  * previous one, which is what a "last hour" dashboard wants.
  *
  * Every route is a PREPARED route: its query is built over
  * [[graft.plans.Param]]s standing for `from`, `to`, the restaurant
  * id and the `p_date` bounds, and physically planned once per
  * served-root generation and route SHAPE (table, global vs keyed,
  * ordering, `k`, the p-list, and the replica the tenant routes to).
  * The plan is the serving root's [[RootCache]] slot `api:<shape>`,
  * so a refresh, an erase or a foreign commit drops it together with
  * the replica pins it scans. A call only binds its values into a
  * copy of that plan ([[graft.plans.Prepared]]): no analysis,
  * optimization or planning per call — that was 50-220 ms per call,
  * more than the execution. Each pin is ONE partition and a route
  * plans no exchange, so a call's collect evaluates that partition on
  * the calling thread, with no Spark job.
  * Reusing one plan across the calls of a session is the idea of
  * PAPERS.md's "Incremental … Top-K Similarity Search in Interactive
  * Data Analysis Sessions" (EDBT 2020).
  */
object TopKApi {

  val All = "all"

  private val hourMs = Serving.hourMs

  private val fromP = Param.column("from", LongType)
  private val toP = Param.column("to", LongType)
  private val ridP = Param.column("rid", StringType)
  private val fromDateP = Param.column("from_date", DateType)
  private val toDateP = Param.column("to_date", DateType)

  /** The windows of `grainMs` that OVERLAP [from, to), with two-sided
    * `p_date` bounds: a historical range reads only its own days.
    */
  private def inRange(grainMs: Long): Column =
    col("p_date") >= fromDateP && col("p_date") <= toDateP &&
      col("window_start_ms") < toP && col("window_start_ms") + grainMs > fromP

  /** Route plans of the quantile family kept per served root. Every
    * other route shape is bounded by the code (k ≤ [[Serving.K]], two
    * orderings, three routings: 69 shapes); a p-list is the caller's
    * free choice, so past this many kept plans a new p-list is planned
    * for its call alone.
    */
  private[graft] val MaxQuantilePlans = 16

  /** One call of the route `name` over the routed serving `table`:
    * resolve the range (default: the `spanMs` before now) and the
    * tenant, fetch the route's prepared plan — `build` makes its query
    * on the first call of this root generation, from the tenant's
    * routed pin (already filtered to the restaurant when keyed) and
    * the restaurant-id column — and bind the call's values into it.
    */
  private def serve(spark: SparkSession, dataDir: String, name: String,
      table: String, restaurantId: String, fromMs: Option[Long],
      toMs: Option[Long], spanMs: Long)(
      build: (DataFrame, Column) => DataFrame): DataFrame = {
    val root = Serving.materialize(spark, dataDir)
    val to = toMs.getOrElse(Serving.metaStamp(spark, root)._1)
    val from = fromMs.getOrElse(to - spanMs)
    require(from < to, s"empty range [$from, $to)")
    // ids are normalized to lowercase for BOTH the "all" sentinel and
    // the keyed filter (the reference lowercases its routing check,
    // TopKController.kt:108; table keys are lowercase) — a caller
    // passing "Click" gets "click", not silently zero rows.
    val rid = restaurantId.toLowerCase(java.util.Locale.ROOT)
    val keyed = rid != All
    // every API call routes through the replica set, pinned by its
    // tenant (here: the restaurant id) — the reference's replica-group
    // routing applies to EVERY query class, and copies are identical,
    // so routing never changes a result (ApiSpec proves copy-equality)
    val shape = s"$name:${if (keyed) "keyed" else "global"}:" +
      s"replica=${Replicas.replicaFor(rid, ReplicaRouter.N)}"
    val route = RootCache.get(spark, root, s"api:$shape", family = "api:quantile",
        max = MaxQuantilePlans) {
      val scan = ReplicaRouter.table(spark, dataDir, table, tenant = rid)
      Prepared(
        if (keyed) build(scan.filter(col("event_type") === ridP), ridP)
        else build(scan, lit(All)))
    }
    route.bind(spark, Map("from" -> from, "to" -> to, "rid" -> rid,
      "from_date" -> Serving.utcDay(from), "to_date" -> Serving.utcDay(to)))
  }

  /** The quantile routes' answer: order statistics of a weighted
    * value multiset per group of `keys`, one row per group labelled
    * `rid` and the call's range. For each named point p (per `scale`),
    * `edge` of the smallest `value` whose cumulative `cnt` reaches
    * p/scale of the group's total — the exact integer form
    * `cum·scale >= p·n`.
    *
    * ONE window stage computes the running total and the total: the
    * default RANGE frame makes same-value rows share the through-value
    * running total, so the first row whose shared cum crosses p·n sits
    * in exactly the crossing value and no value-collapse groupBy is
    * needed (a groupBy → cumsum → per-p groupBy → pivot chain was 6
    * scheduled stages of ~40 ms each on a ~1k-row frame). One
    * aggregate per group then takes the estimates: without keys it
    * answers ONE row over any input — `n` 0 and null estimates over an
    * empty range, the envelope contract — with no union or join. The
    * estimates are minima of one-field structs, and struct-typed
    * buffers plan as a sort aggregate that streams the window's
    * already-sorted output. Rows of zero weight never answer.
    */
  private def orderStats(rows: DataFrame, rid: Column, keys: Seq[Column], scale: Long,
      points: Seq[(String, Long)], edge: Column => Column): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("value"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = rows
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(full))
    val figures = max(col("n")).as("n") +: points.map { case (name, p) =>
      min(when(col("cnt") > 0 && col("cum") * scale >= lit(p) * col("n"),
        struct(edge(col("value")).as("v")))).as(name)
    }
    val one = if (keys.isEmpty) ranked.agg(figures.head, figures.tail: _*)
      else ranked.groupBy(keys: _*).agg(figures.head, figures.tail: _*)
    one.select(rid.as("restaurant_id") +: fromP.as("from_ms") +: toP.as("to_ms") +:
      coalesce(col("n"), lit(0L)).as("n") +:
      points.map(pt => col(s"${pt._1}.v").as(pt._1)): _*)
  }

  /** The per-mille p list of a quantile route, validated. */
  private def perMille(pPerMille: Seq[Long]): Seq[Long] = {
    require(pPerMille.nonEmpty && pPerMille.forall(p => p >= 1 && p <= 1000),
      s"per-mille p values must be in [1, 1000], got $pPerMille")
    require(pPerMille.distinct == pPerMille, s"duplicate p values: $pPerMille")
    pPerMille
  }

  def topk(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None,
      k: Int = 10,
      byRevenue: Boolean = false): DataFrame = {
    require(k >= 1 && k <= Serving.K, s"k must be in [1, ${Serving.K}], got $k")
    val ordering = if (byRevenue) "revenue" else "count"
    val keyed = restaurantId.toLowerCase(java.util.Locale.ROOT) != All
    val table = if (keyed) s"topk_keyed_by_$ordering" else s"topk_by_$ordering"
    serve(spark, dataDir, s"topk:$table:k=$k", table, restaurantId, fromMs,
        toMs, hourMs) { (scan, rid) =>
      val inRangeRows = scan.filter(inRange(hourMs))
        .select(rid.as("restaurant_id"), col("window_start_ms"),
          (col("window_start_ms") + hourMs).as("window_end_ms"),
          col("rank"), col("user_id"), col("order_count"), col("total_cents"))
      if (byRevenue)
        // Flat revenue top-k over the stored per-window top-K rows; the
        // true global top-k rows all have window-rank <= k <= K, so the
        // serving table loses nothing.
        inRangeRows
          .orderBy(col("total_cents").desc, col("window_end_ms").desc, col("user_id").asc)
          .limit(k)
      else
        // serving result is k×windows rows — sort in one partition
        // rather than paying a range-partitioning sampling pass.
        inRangeRows.filter(col("rank") <= k)
          .coalesce(1)
          .sortWithinPartitions(col("window_start_ms").desc, col("rank").asc)
    }
  }

  /** Distinct-users endpoint — the API-shaped companion to the topk
    * routes (same defaults, sentinel, and lowercase routing): how
    * many distinct users were active in [from, to)? Served from the
    * MINUTE-GRAIN distinct-user state (`rollup_1m_users` — the
    * DISTINCTCOUNT query a Pinot rollup table answers from its
    * sketch/user column), never a raw-event scan; range semantics
    * are minute-window overlap, the minute-grain analog of topk's
    * hour-window overlap.
    */
  def distinctUsers(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame =
    serve(spark, dataDir, "distinct_users", "rollup_1m_users", restaurantId,
        fromMs, toMs, hourMs) { (scan, rid) =>
      scan.filter(inRange(60000L))
        .agg(countDistinct(col("user_id")).as("distinct_users"))
        .select(rid.as("restaurant_id"), fromP.as("from_ms"), toP.as("to_ms"),
          col("distinct_users"))
    }

  /** EXACT distinct-users endpoint — the no-error-bar upgrade of
    * [[distinctUsers]] for day-grain ranges, answered from the
    * replica-routed `bitmap_daily` state
    * ([[graft.functions.BitmapDistinct]], Pinot's
    * DISTINCTCOUNTBITMAP serving shape): the overlapping day
    * bitmaps OR-merge into exactly the range's user set, so the
    * count equals a raw rescan at any scale while reading only ≤
    * range-days × types pruned state rows. Default range: the last
    * 3 days. Same envelope/sentinel/routing contract as the other
    * routes, including the one-row empty-range envelope (a global
    * aggregate always yields its row; an empty merge counts 0).
    */
  def distinctUsersExact(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    import graft.functions.BitmapDistinct
    val dayMs = 24L * hourMs
    serve(spark, dataDir, "distinct_exact", "bitmap_daily", restaurantId,
        fromMs, toMs, 3L * dayMs) { (scan, rid) =>
      scan.filter(inRange(dayMs))
        .agg(BitmapDistinct.bitmapMerge(col("bm")).as("bm"))
        .select(rid.as("restaurant_id"), fromP.as("from_ms"), toP.as("to_ms"),
          BitmapDistinct.cardinality(col("bm")).as("distinct_users"))
    }
  }

  /** Percentiles endpoint — order-value p50/p90/p99 for [from, to)
    * with the same defaults/sentinel/routing as the other routes,
    * answered from the minute-grain value HISTOGRAM state
    * (`rollup_1m_hist`, the PERCENTILEEST serving shape): bins
    * re-merge additively for any range, the estimate is the lower
    * edge of the first bin whose cumulative count reaches p% (exact
    * integer form `100·cum >= p·n`). Bin re-aggregation is bounded
    * (occupied bins), so the cumsum is a final step over a tiny
    * frame, never a fact scan.
    */
  def percentiles(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    val points = Seq(50L, 90L, 99L).map(p => s"p${p}_cents" -> p)
    serve(spark, dataDir, "percentiles", "rollup_1m_hist", restaurantId,
        fromMs, toMs, hourMs) { (scan, rid) =>
      val rows = scan.filter(inRange(60000L))
        .select(col("bin").as("value"), col("cnt"))
      orderStats(rows, rid, Nil, 100L, points, _ * lit(Serving.histBinCents))
    }
  }

  /** Arbitrary-p quantile endpoint — `quantile(p, from, to)` for ANY
    * per-mille p list, served from the minute-grain EXACT value
    * state (`rollup_1m_vals`, [[Serving.minuteValueVals]]). Unlike
    * [[percentiles]] (fixed $1 bins, estimates snap to bin edges),
    * this answers from one row per occupied value, so the result is
    * the exact order statistic `min v : cum(v)·1000 >= p·n` over the
    * true value multiset — no bin-resolution cliff at any p. The
    * range re-aggregation is additive (counts re-sum), the cumsum
    * runs over the bounded occupied-value frame (domain-bounded,
    * never a fact scan), and the route keeps the envelope contract:
    * one row per call, NULL quantiles over a data-free range.
    * Output pivots one `p<ppm>_cents` column per requested p.
    */
  def quantile(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      pPerMille: Seq[Long] = Seq(500L),
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    val points = perMille(pPerMille).map(p => s"p${p}_cents" -> p)
    serve(spark, dataDir, s"quantile:${pPerMille.mkString(",")}", "rollup_1m_vals",
        restaurantId, fromMs, toMs, hourMs) { (scan, rid) =>
      val rows = scan.filter(inRange(60000L))
        .select(col("value_cents").as("value"), col("cnt"))
      orderStats(rows, rid, Nil, 1000L, points, identity)
    }
  }

  /** Approximate arbitrary-p quantiles from the HARD-BOUNDED integer
    * log-histogram state (`rollup_1m_loghist`,
    * [[Serving.minuteValueLogHist]] — the DDSketch shape): estimates
    * are bucket lower edges with worst-case relative error
    * 1/16 = 6.25%, and the state stays ≤ ~16 buckets per octave
    * whatever the value domain — the right quantile state for
    * unbounded metrics (latencies, sizes) where the exact
    * value-grain table ([[quantile]]) would grow with the domain.
    * Same route shape as the exact one: one window stage over the
    * routed pin, one-row envelope, `p<ppm>_cents_est` columns.
    */
  def quantileApprox(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      pPerMille: Seq[Long] = Seq(500L),
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    val points = perMille(pPerMille).map(p => s"p${p}_cents_est" -> p)
    serve(spark, dataDir, s"quantile_approx:${pPerMille.mkString(",")}",
        "rollup_1m_loghist", restaurantId, fromMs, toMs, hourMs) { (scan, rid) =>
      val rows = scan.filter(inRange(60000L))
        .select(col("lbucket").as("value"), col("cnt"))
      orderStats(rows, rid, Nil, 1000L, points, Serving.logBucketEdge)
    }
  }

  /** [[quantileApprox]] for EVERY event type in ONE pass — the
    * dashboard's "all tenants" sweep as a single serving scan of the
    * per-type log-histogram state with the quantile window
    * PARTITIONED by type, instead of one routed call per type (the
    * per-call plan/schedule overhead dominates at five types and
    * grows with the alphabet). Rows outside the requested range weigh
    * zero instead of being filtered out, so every type of the state
    * keeps its row — n=0 and null estimates when none of its rows is
    * in range — and the result is row-identical to the per-type route
    * union, with no join against the type alphabet.
    *
    * Latency posture: this is the REPORT route (one sweep for the
    * whole tenant alphabet), not a single-key lookup; the ≤200 ms
    * serving bar applies to the per-tenant [[quantileApprox]] it
    * replaces five calls of.
    */
  def quantileApproxAllTypes(
      spark: SparkSession,
      dataDir: String,
      pPerMille: Seq[Long] = Seq(500L),
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None): DataFrame = {
    val points = perMille(pPerMille).map(p => s"p${p}_cents_est" -> p)
    serve(spark, dataDir, s"quantile_approx_all:${pPerMille.mkString(",")}",
        "rollup_1m_loghist", All, fromMs, toMs, hourMs) { (scan, _) =>
      val rows = scan.select(col("event_type"), col("lbucket").as("value"),
        when(inRange(60000L), col("cnt")).otherwise(lit(0L)).as("cnt"))
      orderStats(rows, col("event_type"), Seq(col("event_type")), 1000L, points,
        Serving.logBucketEdge)
    }
  }

  /** EP1 wire envelope — the reference's `TopKResponse`
    * (TopKController.kt:134-140) as one JSON document per call:
    * `{restaurantId, startTime, endTime, k, items: [...]}` with items
    * carrying the `TopKResult` field names (models/Models.kt:39-49;
    * menu_item_id is this domain's item key, i.e. user_id). The HTTP
    * transport itself is out of scope by driver contract — this is
    * the exact payload a thin controller would write back.
    */
  def topkResponse(
      spark: SparkSession,
      dataDir: String,
      restaurantId: String = All,
      fromMs: Option[Long] = None,
      toMs: Option[Long] = None,
      k: Int = 10,
      byRevenue: Boolean = false): DataFrame = {
    val now = Serving.anchorMs(spark, dataDir)
    val to = toMs.getOrElse(now)
    val from = fromMs.getOrElse(to - hourMs)
    val rows = topk(spark, dataDir, restaurantId, Some(from), Some(to), k, byRevenue)
    val item = struct(
      col("restaurant_id"),
      col("user_id").cast("string").as("menu_item_id"),
      col("rank"),
      col("order_count"),
      col("total_cents").as("total_revenue_in_cents"),
      col("window_start_ms").as("window_start"),
      col("window_end_ms").as("window_end"))
    // rows arrive ordered in one partition (see topk), so collect_list
    // preserves the response ordering contract.
    rows
      .agg(collect_list(item).as("items"))
      .select(to_json(struct(
        lit(restaurantId.toLowerCase(java.util.Locale.ROOT)).as("restaurantId"),
        lit(from).as("startTime"),
        lit(to).as("endTime"),
        lit(k).as("k"),
        col("items"))).as("response"))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Rollup, TopK}

/** Reference-parity queries over the `events` table (SURVEY §2).
  *
  * Mapping of the reference's restaurant-order domain onto the test
  * schema: event_id → event_id (dedup PK), user_id → customer_id,
  * event_type → restaurant/menu-item dimension, value → order revenue
  * (kept as integer cents), ts → event time.
  *
  * Every query returns only BIGINT/STRING columns (doubles avoided)
  * so the driver's hash-compare against DuckDB is exact: money is
  * `round(x*100)::long` cents, timestamps are epoch-millis longs,
  * ranks are cast to long.
  */
object EventQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** D1-D4: deterministic first-wins dedup by event_id + derived
    * revenue column (P1 ingest transform).
    */
  def dedupEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Dedup.firstWins(ev, Seq("event_id"), Seq(col("ts").asc, col("user_id").asc))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        unix_millis(col("ts")).as("ts_ms"),
        col("value_cents"))
  }

  /** D-upsert: latest-wins dedup by event_id — Pinot's upsert-table
    * mode on the timestamp comparison column (the raw table is BOTH
    * upsert and dedup configured; pinot/README.md §1).
    */
  def dedupUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Dedup.lastWins(ev, Seq("event_id"), "ts", Seq(col("user_id").asc))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        unix_millis(col("ts")).as("ts_ms"),
        col("value_cents"))
  }

  /** PARTIAL upsert (Pinot partial-upsert mode,
    * [[graft.ops.Dedup.partialUpsert]]) applied as a user-profile
    * merge: each event is a sparse patch — purchase rows set the
    * last-purchase-cents field, click rows the last-click time, every
    * row the last event type — and the merged profile takes each
    * field from the LATEST row that set it, so different fields of
    * one profile come from different rows (what whole-row lastWins
    * cannot express). The patch projection and order key are shared
    * with the streaming twin and the served profile state
    * ([[graft.ops.Dedup.profilePatches]]).
    */
  def partialUpsertProfile(spark: SparkSession, dir: String): DataFrame =
    Dedup.partialUpsert(
      Dedup.profilePatches(Tables.events(spark, dir)), "user_id", col("ord"),
      Seq(
        "last_type" -> col("typ"),
        "last_purchase_cents" -> col("purchase_cents"),
        "last_click_ms" -> col("click_ms")))

  /** The same merged profiles SERVED from the materialized
    * `profile_upsert` state under the serving root (Pinot serves
    * upserted rows from its upsert metadata, not by re-merging raw
    * segments) — per-field order keys persist in the state so the
    * incremental refresh merges exactly like the one-shot build;
    * shares [[partialUpsertProfile]]'s oracle.
    */
  def partialUpsertServed(spark: SparkSession, dir: String): DataFrame =
    graft.serving.Serving.readTable(spark, dir, "profile_upsert")
      .select("user_id", "last_type", "last_purchase_cents", "last_click_ms")

  /** A1/A3/A4-exact: 1-minute tumbling rollup per event_type (with
    * the carried hour_of_day / ISO day_of_week dims, P2).
    */
  def rollup1m(spark: SparkSession, dir: String): DataFrame =
    Rollup.rollup1m(Tables.events(spark, dir))

  /** A4 sketch path: HLL rollup (mergeable sketch). The gate surface
    * is fully deterministic: exact sums/counts/distincts hash-checked
    * against DuckDB, plus `est_ok` — the in-tolerance predicate on the
    * sketch estimate, which the oracle asserts as a constant 1 (see
    * [[Rollup.estOk]]); estimate tolerance itself is also covered in
    * OpsSpec.
    */
  def rollup1mHll(spark: SparkSession, dir: String): DataFrame =
    Rollup.rollup1mHll(Tables.events(spark, dir), withExact = true)
      .select(col("window_start_ms"), col("event_type"),
        col("hour_of_day"), col("day_of_week_iso"),
        col("order_count"), col("sum_value_cents"), col("unique_users"),
        Rollup.estOk(col("unique_users_est"), col("unique_users")).as("est_ok"))

  /** Segment-compaction twin of the streaming rollup: the corpus is
    * split into two "micro-batch" segments (even/odd event_id — any
    * split works, which is the property under test), each rolled up
    * separately with HLL bytes, then compacted back to one row per
    * window. Counts/sums/exact distinct hash-check against the plain
    * rollup oracle; the merged-sketch estimate checks in-tolerance
    * via est_ok.
    */
  def compactSegments(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val seg1 = Rollup.rollup1mHll(ev.filter(col("event_id") % 2 === 0))
    val seg2 = Rollup.rollup1mHll(ev.filter(col("event_id") % 2 =!= 0))
    val compacted = Rollup.compactSegments(seg1.unionByName(seg2))
    val exact = ev
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("unique_users"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("unique_users"))
    compacted.join(exact, Seq("window_start_ms", "event_type"))
      .select(col("window_start_ms"), col("event_type"),
        col("hour_of_day"), col("day_of_week_iso"),
        col("order_count"), col("sum_value_cents"), col("unique_users"),
        Rollup.estOk(col("unique_users_est"), col("unique_users")).as("est_ok"))
  }

  /** A7: hourly compaction of the 1-minute rollup. */
  def compactHourly(spark: SparkSession, dir: String): DataFrame =
    Rollup.compactHourly(Rollup.rollup1m(Tables.events(spark, dir)))

  /** A7 sketch leg: hourly compaction with HLL_MERGE of the user
    * sketches. The merged-sketch estimate is checked in-tolerance
    * against the exact hourly distinct (computed independently from
    * raw events) via `est_ok`; sums/counts/exacts hash-check directly.
    */
  def compactHourlyHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val compact = Rollup.compactHourlyHll(Rollup.rollup1mHll(ev))
    val exact = ev
      .groupBy(unix_millis(date_trunc("HOUR", col("ts"))).as("hour_start_ms"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("unique_users"))
    compact.join(exact, Seq("hour_start_ms", "event_type"))
      .select(col("hour_start_ms"), col("event_type"), col("order_count"),
        col("sum_value_cents"), col("unique_users"),
        Rollup.estOk(col("unique_users_est"), col("unique_users")).as("est_ok"))
  }

  /** A6 sketch leg: query-time DISTINCTCOUNTHLL re-agg over the 1m
    * sketch rollup (per event_type across all time), estimate checked
    * in-tolerance against the independent exact distinct via est_ok.
    */
  def distinctUsersHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val est = Rollup.distinctOverRollupHll(Rollup.rollup1mHll(ev), Seq("event_type"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("unique_users"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("unique_users"),
        Rollup.estOk(col("unique_users_est"), col("unique_users")).as("est_ok"))
  }

  /** P2: hour-of-day / ISO day-of-week activity profile. */
  def hourProfile(spark: SparkSession, dir: String): DataFrame = {
    val p = Rollup.hourOfDayProfile(Tables.events(spark, dir))
    p.select(
      col("hour_of_day").cast("long").as("hour_of_day"),
      col("day_of_week_iso").cast("long").as("day_of_week_iso"),
      col("order_count"),
      col("sum_value_cents"))
  }

  /** K3/K5: global top-10 users by total revenue (the generator's
    * min-heap oracle, DataGenerator.kt:98-128).
    */
  def topKGlobalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(col("value_cents")).as("total_cents"),
        count(lit(1)).as("order_count"))
    TopK.topKGlobal(agg, Seq(col("total_cents").desc, col("user_id").asc), 10)
      .select(col("rank").cast("long").as("rank"), col("user_id"),
        col("total_cents"), col("order_count"))
  }

  /** Time-DECAYED top-K — the "hot right now" ranking every feed and
    * leaderboard uses, where the sliding-window family's hard cutoff
    * is the wrong shape (an event just outside the window counts
    * zero; decay wants it to count a little): each event contributes
    * weight 2²⁰ halved every 12 h of age (anchor = max event time),
    * an EXACT integer shift — no float pow, so the whole ranking
    * hash-checks. Events older than 20 half-lives floor at weight 0.
    * Scale shape: the weight is row-local, scores collapse map-side
    * in one user-keyed aggregate, top-10 is the bounded heap.
    */
  def topKDecayed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // 1-row aggregate: bounded driver metadata (the decay anchor)
    val anchorUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val halfLifeUs = 12L * 3600L * 1000000L
    // integer DIV (`/` on longs is double division in Spark) and an
    // integer right-shift — the whole weight is exact
    val w = expr(
      s"shiftright(1048576L, CAST(least(($anchorUs - unix_micros(ts)) DIV $halfLifeUs, 20L) AS INT))")
    val agg = ev
      .select(col("user_id"), w.as("w"))
      .groupBy(col("user_id"))
      .agg(sum(col("w")).as("score_micro"), count(lit(1)).as("n_events"))
    graft.ops.TopK.topKGlobal(agg,
        Seq(col("score_micro").desc, col("user_id").asc), 10)
      .select(col("rank").cast("long").as("rank"), col("user_id"),
        col("score_micro"), col("n_events"))
  }

  /** K2: per-event_type top-3 users by order count. */
  def topKPerType(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("total_cents"))
    TopK.topKPerKey(agg, Seq("event_type"),
        Seq(col("order_count").desc, col("total_cents").desc, col("user_id").asc), 3)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("user_id"), col("order_count"), col("total_cents"))
  }

  /** K1/K2: per-1-hour-window top-5 users by order count — the
    * windowed ranked table the reference materializes to
    * restaurant_topk/global_topk.
    */
  def topKWindowed(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("total_cents"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("user_id"), col("order_count"), col("total_cents"))
    TopK.topKPerKey(agg, Seq("window_start_ms"),
        Seq(col("order_count").desc, col("total_cents").desc, col("user_id").asc), 5)
      .select(col("window_start_ms"), col("rank").cast("long").as("rank"),
        col("user_id"), col("order_count"), col("total_cents"))
  }

  /** K4/EP1: query-side lookup over the ranked windowed table —
    * time-range + rank<=k filter, window desc / rank asc order
    * (QueryService.kt:43-61). Range anchored at max(ts)-72h so the
    * query is deterministic on static data (the API's now-relative
    * defaults, TopKController.kt:34-38).
    *
    * BENCH NOTE — this entry is the deliberate "wrong architecture"
    * baseline: it RECOMPUTES the ranked table from the raw fact on
    * every call (full scan + shuffle + window), so its wall time
    * rides full-scan variance and drifts 0.6–1.1 s run to run. That
    * drift is the point, not a regression to chase: the served twins
    * (`q_topk_lookup_served` / `q_topk_lookup_replica`, the
    * architecture answer) answer the same question from pinned state
    * in ~30 ms and are the entries the latency bar applies to.
    */
  def topKLookup(spark: SparkSession, dir: String): DataFrame = {
    val ranked = topKWindowed(spark, dir)
    val anchor = Tables.events(spark, dir)
      .agg((unix_millis(max(col("ts"))) - lit(72L * 3600 * 1000)).as("t0"))
    ranked.crossJoin(broadcast(anchor))
      .filter(col("window_start_ms") >= col("t0") && col("rank") <= 3)
      .drop("t0")
      .orderBy(col("window_start_ms").desc, col("rank").asc)
  }

  /** K1 gate — CONTINUOUS top-K, driven through the REAL streaming
    * engine: the deduped corpus splits into three id-ordered parquet
    * files consumed one-per-trigger by a file-source query running
    * [[graft.streaming.ContinuousTopK.rank]] (flatMapGroupsWithState
    * keyed state — the reference's TopKProcessFunction,
    * ProcessFunctions.kt:62-134), per-restaurant keys PLUS the ALL
    * sentinel (ProcessFunctions.kt:117-132). Emissions are
    * cumulative, so folding the LAST emission per key equals the
    * batch ranking over total metrics — the oracle recomputes that
    * ranking from raw events in SQL, closing the one SURVEY §2 op
    * whose correctness previously rested on specs alone.
    *
    * Harness notes (gate-only, not operator semantics): itemId is
    * zero-padded so the operator's lexicographic tie-break equals
    * numeric user order, and `stateCap` is set above the fixture's
    * user cardinality so truncation (the reference's own
    * approximation) cannot perturb the exact oracle comparison.
    */
  private val topkContFeedCache = new graft.FpMemo.TempRoots("graft_feed")

  def topkContinuous(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.ContinuousTopK
    val ev = Dedup.firstWins(Tables.events(spark, dir), Seq("event_id"),
        Seq(col("ts").asc, col("user_id").asc))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value_cents"))
    // The deduped id-ordered-thirds feed is a pure function of the
    // events table — land it once per corpus fingerprint and fan the
    // per-call streaming runs out of the shared copy (the
    // OlapQueries.eventsFeed discipline; every call still runs the
    // full ContinuousTopK streaming query with fresh state). Dedup
    // keeps every event_id, so the raw table's id cuts apply.
    val feed = OlapQueries.cachedFeedDir(topkContFeedCache, spark, dir)(
      OlapQueries.idThirds(spark, ev, "event_id", s"$dir/events.parquet"))
    val src = OlapQueries.fileFeedSource(spark, feed, ev.schema)
    def upd(key: org.apache.spark.sql.Column) = src.select(
      key.as("groupKey"),
      lpad(col("user_id").cast("string"), 12, "0").as("itemId"),
      lit(1L).as("count"),
      col("value_cents").as("valueCents"),
      lit(null).cast("timestamp").as("ts"))
    val updates = upd(col("event_type")).unionByName(upd(lit("ALL")))
      .as[ContinuousTopK.ItemUpdate]
    val ranked = ContinuousTopK.rank(spark, updates, k = 10,
      stateCap = 100000)
    // distributed last-emission fold (the harness every update-mode
    // stream gate uses): each trigger re-emits a group's WHOLE
    // current top-k and rank sets only grow (counts are cumulative,
    // so top-k size is min(k, items), monotone) — folding per
    // (groupKey, rank) with max_by(batch_id) therefore reconstructs
    // exactly each group's latest emission, with nothing key-sized
    // through the driver
    OlapQueries.streamFoldLastKeys(spark, ranked.toDF(),
        Seq("groupKey", "rank"), outputMode = "append")
      .select(col("groupKey").as("restaurant_id"),
        col("rank").cast("long").as("rank"),
        col("itemId").cast("long").as("user_id"),
        col("count").as("order_count"),
        col("valueCents").as("total_cents"))
  }

  /** S3: JSON decode of the props payload + predicate pushdown. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") < 50)

  /** P7: relative-time predicate (`ago('PT24H')`) — last 24 h of
    * activity, anchored at max(ts) for determinism.
    */
  def recent24h(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val anchor = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(anchor))
      .filter(col("ts") > col("max_ts") - expr("INTERVAL 24 HOURS"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("sum_value_cents"))
  }

  val queries: Map[String, QFn] = Map(
    "q_dedup_events" -> (dedupEvents _),
    "q_dedup_upsert" -> (dedupUpsert _),
    "q_partial_upsert" -> (partialUpsertProfile _),
    "q_partial_upsert_served" -> (partialUpsertServed _),
    "q_rollup_1m" -> (rollup1m _),
    "q_rollup_1m_hll" -> (rollup1mHll _),
    "q_compact_hourly" -> (compactHourly _),
    "q_compact_segments" -> (compactSegments _),
    "q_compact_hourly_hll" -> (compactHourlyHll _),
    "q_distinct_users_hll" -> (distinctUsersHll _),
    "q_hour_profile" -> (hourProfile _),
    "q_topk_global_revenue" -> (topKGlobalRevenue _),
    "q_topk_decayed" -> (topKDecayed _),
    "q_topk_per_type" -> (topKPerType _),
    "q_topk_windowed" -> (topKWindowed _),
    "q_topk_lookup" -> (topKLookup _),
    "q_topk_continuous" -> (topkContinuous _),
    "q_json_extract" -> (jsonExtract _),
    "q_recent_24h" -> (recent24h _),
  )

  private val cents = "CAST(round(value*100) AS BIGINT)"

  /** Per-column latest-non-null merge: arg_max over the shared
    * zero-padded (us, cents, type) order string, null patches
    * excluded per column via the CASE'd order key.
    */
  private val partialUpsertOracle =
    s"""WITH p AS (
       |  SELECT user_id, event_type,
       |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
       |    lpad(CAST($cents AS VARCHAR), 12, '0') || event_type AS ord,
       |    CASE WHEN event_type = 'purchase' THEN $cents END AS pc,
       |    CASE WHEN event_type = 'click' THEN epoch_ms(ts) END AS cm
       |  FROM events)
       |SELECT user_id,
       |  arg_max(event_type, ord) AS last_type,
       |  arg_max(pc, CASE WHEN pc IS NOT NULL THEN ord END) AS last_purchase_cents,
       |  arg_max(cm, CASE WHEN cm IS NOT NULL THEN ord END) AS last_click_ms
       |FROM p GROUP BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // NOTE: the parquet ts is nanosecond-grain; Spark reads it floored
    // to microseconds (Tables.events). Oracles that compare/order on
    // raw ts therefore do so at epoch_us grain, matching the engine's
    // precision instead of silently racing it at ns.
    "q_dedup_events" ->
      s"""SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, $cents AS value_cents
         |FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY epoch_us(ts), user_id) AS rn FROM events)
         |WHERE rn = 1""".stripMargin,
    "q_dedup_upsert" ->
      s"""SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, $cents AS value_cents
         |FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY epoch_us(ts) DESC, user_id) AS rn FROM events)
         |WHERE rn = 1""".stripMargin,
    // K1: the continuous stream's last emission per key == the batch
    // ranking over TOTAL deduped metrics, per restaurant + ALL
    "q_topk_continuous" ->
      s"""WITH d AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY epoch_us(ts), user_id) AS rn FROM events) WHERE rn = 1),
         |m AS (
         |  SELECT event_type AS restaurant_id, user_id, count(*) AS order_count,
         |         CAST(SUM($cents) AS BIGINT) AS total_cents
         |  FROM d GROUP BY event_type, user_id
         |  UNION ALL
         |  SELECT 'ALL' AS restaurant_id, user_id, count(*) AS order_count,
         |         CAST(SUM($cents) AS BIGINT) AS total_cents
         |  FROM d GROUP BY user_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY restaurant_id
         |  ORDER BY order_count DESC, total_cents DESC, user_id ASC) AS rnk FROM m)
         |SELECT restaurant_id, CAST(rnk AS BIGINT) AS rank, user_id, order_count, total_cents
         |FROM r WHERE rnk <= 10""".stripMargin,
    // per-column latest-non-null merge: arg_max over the shared
    // zero-padded (us, id, cents, type) order string, null patches
    // excluded per column via the CASE'd order key
    "q_partial_upsert" -> partialUpsertOracle,
    // the served state merges with per-field ord guards, so the
    // materialized profiles are exactly the one-shot merge
    "q_partial_upsert_served" -> partialUpsertOracle,
    "q_rollup_1m" ->
      s"""SELECT epoch_ms(date_trunc('minute', ts)) AS window_start_ms, event_type,
         |  CAST(hour(ts) AS BIGINT) AS hour_of_day,
         |  CAST(isodow(ts) AS BIGINT) AS day_of_week_iso,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents,
         |  count(DISTINCT user_id) AS unique_users
         |FROM events GROUP BY 1, 2, 3, 4""".stripMargin,
    "q_rollup_1m_hll" ->
      s"""SELECT epoch_ms(date_trunc('minute', ts)) AS window_start_ms, event_type,
         |  CAST(hour(ts) AS BIGINT) AS hour_of_day,
         |  CAST(isodow(ts) AS BIGINT) AS day_of_week_iso,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents,
         |  count(DISTINCT user_id) AS unique_users,
         |  1::BIGINT AS est_ok
         |FROM events GROUP BY 1, 2, 3, 4""".stripMargin,
    // identical surface to q_rollup_1m_hll: compaction of any segment
    // split must reproduce the direct rollup exactly
    "q_compact_segments" ->
      s"""SELECT epoch_ms(date_trunc('minute', ts)) AS window_start_ms, event_type,
         |  CAST(hour(ts) AS BIGINT) AS hour_of_day,
         |  CAST(isodow(ts) AS BIGINT) AS day_of_week_iso,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents,
         |  count(DISTINCT user_id) AS unique_users,
         |  1::BIGINT AS est_ok
         |FROM events GROUP BY 1, 2, 3, 4""".stripMargin,
    "q_compact_hourly_hll" ->
      s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms, event_type,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents,
         |  count(DISTINCT user_id) AS unique_users,
         |  1::BIGINT AS est_ok
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q_distinct_users_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS unique_users, 1::BIGINT AS est_ok
        |FROM events GROUP BY 1""".stripMargin,
    "q_compact_hourly" ->
      s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms, event_type,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q_hour_profile" ->
      s"""SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
         |  CAST(isodow(ts) AS BIGINT) AS day_of_week_iso,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1, 2""".stripMargin,
    // exact shift-decay: weight = 2^20 >> min(age div 12h, 20), same
    // integer chain in DuckDB
    "q_topk_decayed" ->
      """WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
        |w AS (
        |  SELECT user_id,
        |    (1048576 >> least((a.anchor - epoch_us(ts)) // 43200000000, 20))
        |      AS w
        |  FROM events CROSS JOIN a),
        |s AS (SELECT user_id, CAST(sum(w) AS BIGINT) AS score_micro,
        |        count(*) AS n_events
        |      FROM w GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, user_id ASC)
        |    AS BIGINT) AS rank,
        |  user_id, score_micro, n_events
        |FROM s ORDER BY rank LIMIT 10""".stripMargin,
    "q_topk_global_revenue" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY total_cents DESC, user_id ASC) AS BIGINT) AS rank,
         |  user_id, total_cents, order_count
         |FROM (SELECT user_id, CAST(SUM($cents) AS BIGINT) AS total_cents, count(*) AS order_count
         |      FROM events GROUP BY 1)
         |ORDER BY total_cents DESC, user_id ASC LIMIT 10""".stripMargin,
    "q_topk_per_type" ->
      s"""SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id, order_count, total_cents FROM (
         |  SELECT event_type, user_id, order_count, total_cents,
         |    row_number() OVER (PARTITION BY event_type ORDER BY order_count DESC, total_cents DESC, user_id ASC) AS rank
         |  FROM (SELECT event_type, user_id, count(*) AS order_count,
         |          CAST(SUM($cents) AS BIGINT) AS total_cents
         |        FROM events GROUP BY 1, 2))
         |WHERE rank <= 3""".stripMargin,
    "q_topk_windowed" ->
      s"""SELECT window_start_ms, CAST(rank AS BIGINT) AS rank, user_id, order_count, total_cents FROM (
         |  SELECT window_start_ms, user_id, order_count, total_cents,
         |    row_number() OVER (PARTITION BY window_start_ms ORDER BY order_count DESC, total_cents DESC, user_id ASC) AS rank
         |  FROM (SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, user_id,
         |          count(*) AS order_count, CAST(SUM($cents) AS BIGINT) AS total_cents
         |        FROM events GROUP BY 1, 2))
         |WHERE rank <= 5""".stripMargin,
    "q_topk_lookup" ->
      s"""SELECT window_start_ms, CAST(rank AS BIGINT) AS rank, user_id, order_count, total_cents FROM (
         |  SELECT window_start_ms, user_id, order_count, total_cents,
         |    row_number() OVER (PARTITION BY window_start_ms ORDER BY order_count DESC, total_cents DESC, user_id ASC) AS rank
         |  FROM (SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, user_id,
         |          count(*) AS order_count, CAST(SUM($cents) AS BIGINT) AS total_cents
         |        FROM events GROUP BY 1, 2))
         |WHERE rank <= 3
         |  AND window_start_ms >= (SELECT epoch_ms(max(ts)) - 72*3600*1000 FROM events)
         |ORDER BY window_start_ms DESC, rank ASC""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 50""".stripMargin,
    "q_recent_24h" ->
      s"""SELECT event_type, count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents
         |FROM events
         |WHERE epoch_us(ts) > (SELECT epoch_us(max(ts)) FROM events) - 24::BIGINT*3600*1000000
         |GROUP BY 1""".stripMargin,
  )
}

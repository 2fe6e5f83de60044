package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Rank, Rollup}
import graft.streaming.{Merge, MergeableState}

/** Classic OLAP query surface over `events` — the Pinot-style
  * capabilities a reference user reaches for beyond top-K: sketch
  * percentiles (PERCENTILEEST), sketch set-operations
  * (DISTINCTCOUNT* intersection via inclusion-exclusion), moving
  * window frames, pivot, and CUBE grouping sets.
  *
  * Gate pattern matches the HLL family: every deterministic column
  * hash-checks against DuckDB; sketch estimates ship as an `est_ok`
  * in-tolerance predicate the oracle asserts as constant 1.
  */
object OlapQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** Sketch percentiles per event_type: exact p50/p95 (linear
    * interpolation — same definition as DuckDB quantile_cont) plus
    * approx_percentile estimates checked in-tolerance. The approx
    * sketch returns an element of the value set, so its error bound
    * is a rank bound — the tolerance compares on the value scale with
    * the estOk envelope.
    */
  def percentileEst(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("event_type"))
      .agg(
        percentile(col("value_cents"), lit(0.5)).as("p50_exact"),
        percentile(col("value_cents"), lit(0.95)).as("p95_exact"),
        approx_percentile(col("value_cents"), lit(0.5), lit(10000)).as("p50_est"),
        approx_percentile(col("value_cents"), lit(0.95), lit(10000)).as("p95_est"))
      .select(col("event_type"), col("p50_exact"), col("p95_exact"),
        Rollup.estOk(col("p50_est"), col("p50_exact")).as("p50_ok"),
        Rollup.estOk(col("p95_est"), col("p95_exact")).as("p95_ok"))
  }

  /** Sketch set-operation: distinct users who BOTH clicked and
    * purchased — exact via a distinct-set semi-join, estimated via
    * HLL inclusion-exclusion (|A∩B| ≈ est(A) + est(B) - est(A∪B),
    * the DISTINCTCOUNTTHETASKETCH-style query shape). Sketches for A,
    * B, and A∪B are built mergeably (one pass + one union merge).
    */
  def distinctIntersectHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    val exact = clicks.select(col("user_id")).distinct()
      .join(purchases.select(col("user_id")).distinct(), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("both_exact"))
    val sketches = ev
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = sketches.agg(
      sum(when(col("event_type") === "click",
        hll_sketch_estimate(col("sk")))).as("est_a"),
      sum(when(col("event_type") === "purchase",
        hll_sketch_estimate(col("sk")))).as("est_b"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
      .select((col("est_a") + col("est_b") - col("est_union")).as("both_est"))
    exact.crossJoin(est)
      .select(col("both_exact"),
        Rollup.estOk(col("both_est"), col("both_exact")).as("est_ok"))
  }

  /** Moving window frame: per event_type daily revenue with a 7-day
    * trailing sum and day count (RANGE frame over epoch-ms — the
    * time-series smoothing query). All-integer output.
    */
  def movingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(col("event_type"),
        unix_millis(date_trunc("DAY", col("ts"))).as("day_ms"))
      .agg(sum(col("value_cents")).as("day_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_ms"))
      .rangeBetween(-6L * 86400000, 0)
    daily
      .withColumn("trail7_cents", sum(col("day_cents")).over(w))
      .withColumn("trail7_days", count(lit(1)).over(w))
  }

  /** Pivot: one row per user, event-type counts spread into columns
    * plus total revenue — the wide activity-profile query.
    */
  def pivotUserTypes(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val types = Seq("click", "view", "purchase", "signup", "error")
    // conditional aggregation, not Dataset.pivot: the builtin plans
    // TWO aggregations (pre-agg on (key, pivot) then PivotFirst on
    // key) = two shuffles of the fact table. Known pivot values make
    // the one-shuffle form available — sum-of-indicators per type,
    // total revenue in the same pass, partial aggregation intact.
    val perType = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"))
    ev.groupBy(col("user_id"))
      .agg(perType.head, perType.tail :+ sum(col("value_cents")).as("total_cents"): _*)
  }

  /** CUBE grouping sets over (event_type, hour_of_day): all four
    * aggregation grains in one pass, subtotal rows marked by
    * grouping_id and dims coalesced to sentinels ('ALL' / -1) so the
    * output stays null-free.
    */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("hour_of_day", hour(col("ts")).cast("long"))
    ev.cube(col("event_type"), col("hour_of_day"))
      .agg(count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("sum_value_cents"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("hour_of_day"), lit(-1L)).as("hour_of_day"),
        col("gid"), col("order_count"), col("sum_value_cents"))
  }

  /** Exact set operation: users with no high-value purchase (>$95) —
    * the EXCEPT physical operator over two distinct sets.
    */
  def usersNoBigPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(col("user_id")).distinct()
      .except(ev.filter(col("event_type") === "purchase" &&
        col("value_cents") > 9500).select(col("user_id")))
  }

  /** Equi-width value histogram per event_type (20 buckets over the
    * type's [min, max] cents range) — the distribution-profile query
    * behind dashboards and outlier triage. Bucket ids are exact
    * integer arithmetic: b = (v - mn)·20 DIV (mx - mn + 1), values
    * non-negative so truncating DIV is floor in both engines.
    *
    * Scale: one pass for the per-type extrema (5 rows, broadcast
    * back), one map-side-combining pass for the bucket counts —
    * the fact table is read once, shuffled only by the tiny
    * (type, bucket) key space.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 20
    val ev = Tables.events(spark, dir)
    val stats = ev.groupBy(col("event_type"))
      .agg(min(col("value_cents")).as("mn"), max(col("value_cents")).as("mx"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("bucket",
        expr(s"CAST((value_cents - mn) * $nBuckets DIV (mx - mn + 1) AS BIGINT)"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("bucket_cents"))
  }

  /** Time-series gap-fill at minute grain per event_type: the dense
    * spine query monitoring and feature pipelines need — silent
    * minutes appear with zero-filled count/revenue, an `is_gap`
    * marker, and a forward-filled "last observed minute revenue"
    * (`last(_, ignoreNulls)` over an ordered running frame).
    *
    * Scale: the spine is TIME-bounded, not data-bounded — rows =
    * span-minutes × event types regardless of input size, so both the
    * `sequence` explode and the per-type ordered window stay small at
    * 100 TB (a year is ~526k minutes/type). The raw table is touched
    * once, by the minute rollup; everything after operates on the
    * rollup. The spine bounds come from a per-type min/max aggregate
    * (5 rows), and the spine⋈rollup join shuffles only span-sized
    * sides. Leading nulls are impossible (each type's spine starts at
    * its first observed minute), so `filled_cents` is total.
    */
  def gapfillMinutes(spark: SparkSession, dir: String): DataFrame = {
    val stepMs = 60000L
    val ev = Tables.events(spark, dir)
    val perMin = ev.groupBy(col("event_type"),
        unix_millis(date_trunc("MINUTE", col("ts"))).as("minute_ms"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("minute_cents"))
    val spine = perMin.groupBy(col("event_type"))
      .agg(min(col("minute_ms")).as("mn"), max(col("minute_ms")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(stepMs))).as("minute_ms"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(perMin, Seq("event_type", "minute_ms"), "left")
      .select(col("event_type"), col("minute_ms"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("minute_cents"), lit(0L)).as("minute_cents"),
        col("n_events").isNull.cast("long").as("is_gap"),
        last(col("minute_cents"), ignoreNulls = true).over(w).as("filled_cents"))
  }

  /** Window navigation functions per user: event count, max
    * inter-event gap (µs), first/last event type in (ts, event_id)
    * order — lag + first_value/last_value in one windowed pass.
    */
  def userGaps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("tu", unix_micros(col("ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ev.select(col("user_id"), col("event_type"), col("tu"),
        (col("tu") - lag(col("tu"), 1).over(w)).as("gap_us"),
        first(col("event_type")).over(full).as("first_type"),
        last(col("event_type")).over(full).as("last_type"))
      // group on user_id ONLY (first/last are constant per user —
      // min() just picks that constant): the aggregation then reuses
      // the window's hashpartitioning(user_id) with no second shuffle.
      .groupBy(col("user_id"))
      .agg(min(col("first_type")).as("first_type"),
        min(col("last_type")).as("last_type"),
        count(lit(1)).as("n_events"), max(col("gap_us")).as("max_gap_us"))
      .select("user_id", "first_type", "last_type", "n_events", "max_gap_us")
  }

  /** SCD2-style change history: per user, the validity interval of
    * each event-TYPE run — a new row opens when the type differs from
    * the previous event, closes at the next change (open-ended NULL
    * for the current run). The slowly-changing-dimension shape a
    * warehouse keeps for "what was this user's state at time T".
    * One user-keyed exchange; lag (change detection) and the
    * closing lead both ride user-keyed windows.
    */
  def typeHistory(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("tu", unix_micros(col("ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    val changes = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val cw = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    changes
      .withColumn("next_tu", lead(col("tu"), 1).over(cw))
      .select(col("user_id"), col("event_type"),
        expr("tu div 1000").as("valid_from_ms"),
        expr("next_tu div 1000").as("valid_to_ms"))
  }

  /** [[typeHistory]] rebuilt from a REAL micro-batched
    * [[graft.streaming.TypeHistoryStream]] run — the id-ordered-
    * thirds file feed (events arrive out of EVENT-TIME order across
    * batches, exercising the late-split path), update-mode
    * last-emission-per-user fold, runs exploded back to SCD2
    * intervals. The horizon-bounded list state (the r9 scale fix)
    * proven equal to the batch lag/lead windows at the driver gate
    * level, not just in specs — shares `q_type_history`'s oracle.
    */
  def typeHistoryStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.TypeHistoryStream
    val src = eventsFeed(spark, dir)
    val updates = TypeHistoryStream.histories(spark, src)
    streamFoldLast(spark, updates.toDF(), "user_id")
      .select(col("user_id"), explode(col("runs")).as("r"))
      .select(col("user_id"), col("r.event_type").as("event_type"),
        col("r.valid_from_ms").as("valid_from_ms"),
        col("r.valid_to_ms").as("valid_to_ms"))
  }

  /** Cumulative distinct-user growth curve: per day, how many users
    * have EVER been seen by the end of that day — the expanding-
    * window DISTINCTCOUNT no rollup column answers directly. First
    * reduce to each user's first-seen day (one user-keyed shuffle —
    * the only fact-sized exchange), then a day-grain running sum
    * over the bounded day table.
    */
  def userGrowth(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(expr("unix_millis(ts) div 86400000")).as("day"))
    val newPerDay = firstDay.groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
    newPerDay
      .withColumn("total_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((col("day") * 86400000L).as("day_start_ms"),
        col("new_users"), col("total_users"))
  }

  /** [[userGrowth]] rebuilt from a REAL micro-batched
    * [[graft.streaming.UserGrowthStream]] run — min-first-day keyed
    * state over the id-ordered-thirds file feed, last-emission-per-
    * user fold, growth curve re-derived from the folded (user,
    * first_day) table exactly as the batch op derives it from its
    * keyed aggregate. Shares `q_user_growth`'s oracle.
    */
  def userGrowthStream(spark: SparkSession, dir: String): DataFrame = {
    // served off the SHARED streamed cohort state (one CohortStream
    // run feeds this gate and the retention gate — the
    // typePagerankStream sharing discipline): a user's cohort_day IS
    // the min-merge first-seen day, so the growth curve derives
    // identically. UserGrowthStream's own operator stays spec'd in
    // StreamingVariantsSpec.
    val newPerDay = AnalyticsQueries.cohortEmissionsStreamed(spark, dir)
      .groupBy(col("cohort_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    newPerDay
      .withColumn("total_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((col("day") * 86400000L).as("day_start_ms"),
        col("new_users"), col("total_users"))
  }

  /** ntile decile bucketing of users by total revenue (deterministic
    * total order: revenue desc, user asc) — via [[Rank.globalNtile]],
    * the distributed exclusive-scan form, NOT `Window.orderBy` (which
    * plans a single-partition window).
    */
  /** Percent-of-total (ratio_to_report): each event type's share of
    * its DAY's revenue, in basis points — the classic OLAP window
    * ratio, integer-exact as `share_bp = revenue·10000 DIV day_total`
    * (no float division crosses the engine boundary). One day-grain
    * aggregation (map-side partial), then a day-keyed window over the
    * bounded (day × type) table for the denominator — never a second
    * fact scan or a join back.
    */
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"), col("event_type"))
      .agg(sum(col("value_cents")).as("revenue_cents"))
    val w = Window.partitionBy(col("day"))
    daily
      .withColumn("day_total_cents", sum(col("revenue_cents")).over(w))
      .select((col("day") * 86400000L).as("day_start_ms"), col("event_type"),
        col("revenue_cents"), col("day_total_cents"),
        expr("revenue_cents * 10000 div day_total_cents").as("share_bp"))
  }

  def revenueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(col("value_cents")).as("total_cents"))
    Rank.globalNtile(totals,
      Seq(col("total_cents").desc, col("user_id").asc), n = 10, out = "decile")
  }

  /** Distributed PERCENT_RANK + CUME_DIST over per-user revenue —
    * the remaining two members of the global-ranking window family
    * (row_number and ntile are already gated), computed from the
    * same range-partitioned exclusive scan ([[Rank.globalRowNumber]])
    * instead of a single-task `Window.orderBy`. Both statistics are
    * exact integer micro-units ((rn−1)·10⁶ DIV (n−1) and
    * rn·10⁶ DIV n) so no float division crosses the engine boundary;
    * the 1-row count broadcast-crosses onto the ranked table.
    */
  def revenuePctRank(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(col("value_cents")).as("total_cents"))
    val ranked = Rank.globalRowNumber(totals,
      Seq(col("total_cents").asc, col("user_id").asc), out = "rn")
    ranked
      .crossJoin(broadcast(totals.agg(count(lit(1)).as("n"))))
      .select(col("user_id"), col("total_cents"),
        when(col("n") > 1,
          expr("(rn - 1) * 1000000 DIV (n - 1)")).otherwise(lit(0L))
          .as("pct_rank_micro"),
        expr("rn * 1000000 DIV n").as("cume_dist_micro"))
  }

  /** Exact moment aggregates for covariance/correlation — the
    * stats-agg family (covar_pop / corr) with NO floats on the wire:
    * per event_type, n, Σx, Σy, Σxy, Σx², Σy² over
    * (x = value_cents, y = hour-of-day), plus the integer covariance
    * NUMERATOR n·Σxy − Σx·Σy (its sign is the covariance sign;
    * consumers divide by n² off the engine for the value, and build
    * corr from the same six moments). One map-side-combining pass;
    * sums accumulate in DECIMAL(38,0) so no row count overflows.
    * The BIGINT wire casts are GUARDED, not assumed: outside the
    * long domain Spark's non-ANSI cast nulls/wraps where a 128-bit
    * engine raises — the [[graft.ops.Dedup.profilePatches]] idiom
    * makes both paths fail together instead of diverging.
    */
  def corrComponents(spark: SparkSession, dir: String): DataFrame =
    corrComponentsOf(Tables.events(spark, dir))

  /** [[corrComponents]] over any events-schema frame. */
  def corrComponentsOf(events: DataFrame): DataFrame =
    corrWire(corrState.merge(corrState.partial(events)))

  /** The MERGEABLE moment state: per event_type partial
    * (n, Σx, Σy, Σxy, Σx², Σy²) in DECIMAL(38,0) — plain sums, so
    * partials from any split of the input re-aggregate to the same
    * state, and the stored state is bounded by the type alphabet.
    */
  val corrState: MergeableState = MergeableState({ events =>
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    events
      .select(col("event_type"), col("value_cents").as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
  }, Seq("event_type"), Seq("n", "sx", "sy", "sxy", "sxx", "syy").map(Merge.Sum))

  /** Cross the BIGINT wire from the merged moment state with the
    * guarded casts (see [[corrComponents]]'s doc).
    */
  def corrWire(state: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def toLong(c: org.apache.spark.sql.Column, name: String) =
      when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
        raise_error(concat(
          lit(s"corrComponents $name exceeds the BIGINT wire domain: "),
          c.cast("string"))))
        .otherwise(c.cast("long")).as(name)
    state
      .select(col("event_type"), col("n"),
        toLong(col("sx"), "sum_x"),
        toLong(col("sy"), "sum_y"),
        toLong(col("sxy"), "sum_xy"),
        toLong(col("sxx"), "sum_xx"),
        toLong(col("syy"), "sum_yy"),
        toLong(dec(col("n")) * col("sxy") - col("sx") * col("sy"),
          "cov_num"))
  }

  /** Frequent-items sketch over event_type: k=8 counters > 5 distinct
    * values, so the Misra-Gries sketch is provably EXACT here and
    * hash-checks against a plain GROUP BY; the approximate regime
    * (distinct > k) is bound-tested in FreqSketchSpec.
    */
  def freqEventTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(graft.functions.FreqSketch.freq_items(col("event_type"), 8).as("fi"))
      .select(explode(col("fi")).as("x"))
      .select(col("x.item").as("event_type"), col("x.est").as("est_count"))

  /** Hourly OHLC bars per event_type — open/high/low/close of the
    * value stream, the time-series rollup shape (first/last by time
    * plus extremes). open/close use the struct-argmin trick: `min`
    * over `struct(tu, event_id, cents)` orders lexicographically, so
    * one hash aggregation (single shuffle, map-side partials) replaces
    * two full window passes; (tu, event_id) makes ties deterministic.
    */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    ohlcOf(Tables.events(spark, dir))

  /** Core OHLC over any frame with (ts, event_type, event_id,
    * value_cents).
    */
  def ohlcOf(events: DataFrame): DataFrame =
    ohlcMerge(ohlcState.merge(ohlcState.partial(events)))

  /** The MERGEABLE OHLC state: per (hour, type) partial — open/close
    * carried as the full min/max (tu, event_id, value_cents) structs
    * (not just the value: the struct is what stays mergeable — min of
    * mins IS the global min under the same lexicographic order), so
    * an hour's TRUE opening trade can arrive in the last batch and
    * still win — plus high/low/count. Partials from any split of the
    * input merge to the same bar.
    */
  val ohlcState: MergeableState = MergeableState(_.select(
        unix_millis(date_trunc("HOUR", col("ts"))).as("hour_start_ms"),
        col("event_type"),
        unix_micros(col("ts")).as("tu"),
        col("event_id"),
        col("value_cents"))
      .groupBy(col("hour_start_ms"), col("event_type"))
      .agg(
        min(struct(col("tu"), col("event_id"), col("value_cents"))).as("o"),
        max(struct(col("tu"), col("event_id"), col("value_cents"))).as("c"),
        max(col("value_cents")).as("high_cents"),
        min(col("value_cents")).as("low_cents"),
        count(lit(1)).as("n_events")),
    Seq("hour_start_ms", "event_type"),
    Seq(Merge.Min("o"), Merge.Max("c"), Merge.Max("high_cents"),
      Merge.Min("low_cents"), Merge.Sum("n_events")))

  /** Final bars from the merged OHLC state (the open/close struct
    * projection).
    */
  def ohlcMerge(state: DataFrame): DataFrame =
    state.select(col("hour_start_ms"), col("event_type"),
      col("o").getField("value_cents").as("open_cents"),
      col("c").getField("value_cents").as("close_cents"),
      col("high_cents"), col("low_cents"), col("n_events"))

  /** Per-type z-score outlier flags in EXACT integer arithmetic:
    * z² > k² rewrites to `(n·x − S)² · 4 > k²·4 · (n·SS − S²)` over
    * integer cents (k = 1.5 → k²·4 = 9), so the flag is
    * bit-deterministic across engines — no floating-point mean/stddev
    * on the wire. Stats per type are a 5-row aggregate broadcast back
    * onto the fact: one fact shuffle total, no window pass.
    * The sums and the comparison run in DECIMAL(38,0): in BIGINT,
    * n·SS ≤ n²·max(x)² silently wraps once n·max(x) ≳ 3·10⁹ (about
    * 3·10⁴ rows/type at 10⁵ cents — far below target scale), flipping
    * flags where DuckDB's 128-bit HUGEINT stays exact. DECIMAL(38,0)
    * keeps every product exact through ~10¹² rows/type, matching the
    * oracle at any realistic scale for integer-cent values.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value_cents"))
    val dec = "decimal(38,0)"
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("value_cents").cast(dec)).as("s"),
      // x² ≤ 10¹⁰ fits a long; the SUM is what needs 128-bit headroom
      sum((col("value_cents") * col("value_cents")).cast(dec)).as("ss"))
    val dev = col("n") * col("value_cents") - col("s")
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value_cents"),
        when(dev * dev * lit(4L) > lit(9L) * (col("n") * col("ss") - col("s") * col("s")),
          1L).otherwise(0L).as("is_outlier"))
  }

  /** Flink CUMULATE windows (the third window type next to tumble /
    * hop, both implemented elsewhere): per UTC day, expanding windows
    * ending at each hour mark — "running daily totals as of each
    * hour". Each event expands to the windows that contain it
    * (`24 − hour_offset` rows, bounded by period/step) BEFORE the
    * shuffle; an incremental deployment would instead fold the 1m/1h
    * rollup forward, but the batch recompute is the oracle-checkable
    * form.
    */
  def cumulateDaily(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val stepMs = 3600000L
    Tables.events(spark, dir)
      .select(unix_millis(col("ts")).as("tms"), col("event_type"), col("value_cents"))
      .withColumn("p0", col("tms") - pmod(col("tms"), lit(dayMs)))
      .withColumn("k",
        explode(sequence(expr(s"(tms - p0) DIV $stepMs") + 1, lit(dayMs / stepMs))))
      .groupBy(col("p0").as("day_start_ms"),
        (col("p0") + col("k") * stepMs).as("window_end_ms"), col("event_type"))
      .agg(count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("total_cents"))
  }

  /** The STREAMING moment-state composition, gated: replay
    * [[corrState]] over three id-ordered micro-batches, then the same
    * guarded wire. Sums are order-independent, so the oracle is the
    * plain batch SQL.
    */
  def corrComponentsStream(spark: SparkSession, dir: String): DataFrame =
    corrWire(corrState.replay(spark, idOrderedBatches(spark, dir)))

  /** The STREAMING OHLC composition, gated: partial bars per
    * micro-batch, struct-min/max merged at read — an hour's true
    * opening trade can land in any batch and still win the merge.
    */
  def ohlcStream(spark: SparkSession, dir: String): DataFrame =
    ohlcMerge(ohlcState.replay(spark, idOrderedBatches(spark, dir)))

  /** Three id-ranged micro-batches of `frame` (the shared stream-gate
    * split: ids up to max/3, up to 2·max/3, the rest). The cut points
    * are a pure function of the table, so they are memoized on `file`
    * ([[graft.FpMemo]]; two longs of driver metadata) instead of
    * re-running the max() aggregate on every stream-gate call — many
    * gates split the same table the same way.
    */
  private val idCuts = new graft.FpMemo[Seq[Long]]()

  private[queries] def idThirds(spark: SparkSession, frame: DataFrame,
      idCol: String, file: String): Seq[DataFrame] = {
    val cuts = idCuts.get(spark, file) {
      val maxId = frame.agg(max(col(idCol))).head().getLong(0)
      Seq(maxId / 3, 2 * maxId / 3)
    }
    Seq(
      frame.filter(col(idCol) <= cuts(0)),
      frame.filter(col(idCol) > cuts(0) && col(idCol) <= cuts(1)),
      frame.filter(col(idCol) > cuts(1)))
  }

  private[queries] def idOrderedBatches(spark: SparkSession,
      dir: String): Seq[DataFrame] =
    idThirds(spark, Tables.events(spark, dir), "event_id", s"$dir/events.parquet")

  private[queries] def docIdBatches(spark: SparkSession,
      dir: String): Seq[DataFrame] =
    idThirds(spark, Tables.documents(spark, dir), "doc_id", s"$dir/documents.parquet")

  /** The id-ordered-thirds EVENTS feed as an on-disk file-source
    * stream, landed ONCE per corpus fingerprint ([[graft.FpMemo]])
    * and shared by every events-driven stream gate (funnel, bursts,
    * type-history, transitions, cohorts): the production shape is one
    * landed feed fanned out to many stream consumers, not one copy of
    * the feed per consumer. Only the INPUT scaffolding is shared — each gate
    * still runs its own full micro-batched streaming query (fresh
    * checkpoint + state) on every call, so the measured operator is
    * untouched.
    */
  private val eventsFeedCache = new graft.FpMemo.TempRoots("graft_feed")

  private[queries] def eventsFeed(spark: SparkSession, dir: String): DataFrame =
    fileFeedSource(spark,
      cachedFeedDir(eventsFeedCache, spark, dir)(idOrderedBatches(spark, dir)),
      Tables.events(spark, dir).schema)

  /** Materialize `batches` as one parquet file each under a fresh
    * feed directory (modification times force trigger order) and
    * return the maxFilesPerTrigger=1 file-source stream over it —
    * the shared front half of every real-stream gate harness.
    */
  private[queries] def fileFeed(spark: SparkSession,
      batches: Seq[DataFrame]): DataFrame =
    fileFeedSource(spark, fileFeedDir(batches), batches.head.schema)

  /** The feed directory alone (`<tmp>/feed`, staged under `tmp`) —
    * for gates that need TWO independent sources over the same batch
    * sequence (stream-stream joins), or that land the feed inside a
    * [[graft.FpMemo.TempRoots]] root ([[cachedFeedDir]]).
    */
  private[queries] def fileFeedDir(batches: Seq[DataFrame], tmp: String =
      java.nio.file.Files.createTempDirectory("graft_feed").toString): String = {
    val feed = s"$tmp/feed"
    new java.io.File(feed).mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = s"$tmp/stage$i"
      b.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $stage"))
      val dst = new java.io.File(feed, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(10000L * (i + 1))
    }
    feed
  }

  /** [[fileFeedDir]] landed once per dataset fingerprint in `cache`. */
  private[queries] def cachedFeedDir(cache: graft.FpMemo.TempRoots, spark: SparkSession,
      dir: String)(batches: => Seq[DataFrame]): String =
    cache.root(spark, dir)(fileFeedDir(batches, _)) + "/feed"

  private[queries] def fileFeedSource(spark: SparkSession, feed: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)

  /** Run `body` with `spark.sql.shuffle.partitions` scoped down for a
    * GATE-SCALE streaming run: stateful-operator state stores
    * instantiate one per shuffle partition per micro-batch, and at
    * the gates' data volume the 32-wide default spends more time
    * opening/committing near-empty stores than joining (the
    * stream-stream join gates measured ~3× faster at 8). Production
    * sizing stays the session default — this scopes only the
    * harness-driven run; the conf is restored in a finally.
    */
  private[queries] def withGateStreamConf[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key, "200")
    spark.conf.set(key, "8")
    try body finally spark.conf.set(key, prev)
  }

  /** Run an update-mode keyed stream to completion and fold to the
    * LAST emission per key — fully distributed: per-batch emissions
    * land as idempotent `batch_id` partitions
    * ([[graft.streaming.StreamingPipeline.writeBatchIdempotent]]),
    * and the fold is a key-shuffled `max_by(payload, batch_id)` —
    * nothing key-sized ever passes through the driver, so the same
    * harness runs at any key cardinality. (A key emits at most once
    * per micro-batch in update mode, so batch_id totally orders its
    * emissions.)
    */
  private[queries] def streamFoldLast(spark: SparkSession,
      updates: DataFrame, keyCol: String): DataFrame =
    streamFoldLastKeys(spark, updates, Seq(keyCol))

  /** [[streamFoldLast]] on a COMPOSITE key, for operators that emit
    * a bounded SET of rows per logical key each trigger (a top-k
    * ranking re-emits its whole current table per group): folding
    * per (group, rank) keeps the group's latest emission exactly,
    * provided the per-group row-key set never shrinks across
    * emissions — true for cumulative rankings, whose top-k size is
    * min(k, items) and monotone. `outputMode` follows the stateful
    * operator's declared mode (flatMapGroupsWithState(Append) streams
    * must run in append mode).
    */
  private[queries] def streamFoldLastKeys(spark: SparkSession,
      updates: DataFrame, keyCols: Seq[String],
      outputMode: String = "update"): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fold").toString
    val out = s"$tmp/out"
    withGateStreamConf(spark) {
      val q = updates.writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode(outputMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.streaming.StreamingPipeline.writeBatchIdempotent(b, id, out)
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val df = spark.read.parquet(out)
    val payload = df.columns
      .filterNot(c => keyCols.contains(c) || c == "batch_id").toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col("batch_id")).as("_last"))
      .select(keyCols.map(col) ++
        payload.map(c => col("_last").getField(c).as(c)): _*)
  }

  val queries: Map[String, QFn] = Map(
    "q_cumulate_daily" -> (cumulateDaily _),
    "q_value_outliers" -> (valueOutliers _),
    "q_ohlc_hourly" -> (ohlcBars _),
    "q_freq_event_types" -> (freqEventTypes _),
    "q_percentile_est" -> (percentileEst _),
    "q_distinct_intersect_hll" -> (distinctIntersectHll _),
    "q_moving_revenue" -> (movingRevenue _),
    "q_pivot_user_types" -> (pivotUserTypes _),
    "q_cube_revenue" -> (cubeRevenue _),
    "q_users_no_big_purchase" -> (usersNoBigPurchase _),
    "q_user_gaps" -> (userGaps _),
    "q_gapfill_minutes" -> (gapfillMinutes _),
    "q_value_histogram" -> (valueHistogram _),
    "q_revenue_deciles" -> (revenueDeciles _),
    "q_revenue_pct_rank" -> (revenuePctRank _),
    "q_corr_components" -> (corrComponents _),
    "q_corr_components_stream" -> (corrComponentsStream _),
    "q_ohlc_hourly_stream" -> (ohlcStream _),
    "q_revenue_share" -> (revenueShare _),
    "q_type_history" -> (typeHistory _),
    "q_type_history_stream" -> (typeHistoryStream _),
    "q_user_growth_stream" -> (userGrowthStream _),
    "q_user_growth" -> (userGrowth _),
  )

  private val cents = "CAST(round(value*100) AS BIGINT)"

  // SCD2 run intervals, shared by the batch gate and the streamed twin
  private val typeHistoryOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tu,
      |    lag(event_type) OVER w AS prev_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |c AS (
      |  SELECT user_id, event_type, tu,
      |    lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS next_tu
      |  FROM o WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, event_type,
      |  tu // 1000 AS valid_from_ms, next_tu // 1000 AS valid_to_ms
      |FROM c""".stripMargin

  // first-seen-day growth curve, shared by batch gate and stream twin
  private val userGrowthOracle: String =
    """WITH f AS (
      |  SELECT user_id, min(epoch_ms(ts) // 86400000) AS day
      |  FROM events GROUP BY 1),
      |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      |SELECT day * 86400000 AS day_start_ms, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS total_users
      |FROM d""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    // SCD2 run intervals: rows open on type change, close at the next
    // change's timestamp (NULL for the live run)
    // stream-final ≡ batch: the horizon fold re-derives identical
    // SCD2 intervals under the id-ordered split, same oracle
    "q_type_history_stream" -> typeHistoryOracle,
    "q_type_history" -> typeHistoryOracle,
    // cumulative distinct users by first-seen day
    "q_user_growth" -> userGrowthOracle,
    // stream-final ≡ batch: min-first-day state folds to the same
    // (user, first_day) table; same oracle
    "q_user_growth_stream" -> userGrowthOracle,
    "q_cumulate_daily" ->
      s"""WITH t AS (
         |  SELECT epoch_ms(ts) AS tms, event_type, $cents AS value_cents
         |  FROM events),
         |p AS (
         |  SELECT tms - tms % 86400000 AS p0, tms, event_type, value_cents FROM t)
         |SELECT p0 AS day_start_ms,
         |  p0 + k * 3600000 AS window_end_ms, event_type,
         |  count(*) AS order_count,
         |  CAST(SUM(value_cents) AS BIGINT) AS total_cents
         |FROM p, unnest(range((tms - p0) // 3600000 + 1, 25)) AS u(k)
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_value_outliers" ->
      s"""WITH st AS (
         |  SELECT event_type, count(*) AS n, SUM($cents) AS s,
         |    SUM($cents * $cents) AS ss
         |  FROM events GROUP BY 1)
         |SELECT event_id, e.event_type, $cents AS value_cents,
         |  CASE WHEN 4 * (n * $cents - s) * (n * $cents - s)
         |            > 9 * (n * ss - s * s)
         |       THEN 1 ELSE 0 END::BIGINT AS is_outlier
         |FROM events e JOIN st USING (event_type)""".stripMargin,
    "q_ohlc_hourly" ->
      s"""WITH t AS (
         |  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms, event_type,
         |    epoch_us(ts) AS tu, event_id, $cents AS value_cents
         |  FROM events),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY hour_start_ms, event_type
         |                       ORDER BY tu, event_id) AS ra,
         |    row_number() OVER (PARTITION BY hour_start_ms, event_type
         |                       ORDER BY tu DESC, event_id DESC) AS rd
         |  FROM t)
         |SELECT hour_start_ms, event_type,
         |  max(CASE WHEN ra = 1 THEN value_cents END) AS open_cents,
         |  max(CASE WHEN rd = 1 THEN value_cents END) AS close_cents,
         |  max(value_cents) AS high_cents,
         |  min(value_cents) AS low_cents,
         |  count(*) AS n_events
         |FROM r GROUP BY 1, 2""".stripMargin,
    "q_freq_event_types" ->
      """SELECT event_type, count(*) AS est_count FROM events GROUP BY 1""",
    "q_percentile_est" ->
      s"""SELECT event_type,
         |  quantile_cont($cents, 0.5) AS p50_exact,
         |  quantile_cont($cents, 0.95) AS p95_exact,
         |  1::BIGINT AS p50_ok, 1::BIGINT AS p95_ok
         |FROM events GROUP BY 1""".stripMargin,
    "q_distinct_intersect_hll" ->
      """SELECT count(DISTINCT c.user_id) AS both_exact, 1::BIGINT AS est_ok
        |FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') c
        |JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id""".stripMargin,
    "q_moving_revenue" ->
      s"""SELECT event_type, day_ms, day_cents,
         |  CAST(SUM(day_cents) OVER w AS BIGINT) AS trail7_cents,
         |  count(*) OVER w AS trail7_days
         |FROM (
         |  SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
         |    CAST(SUM($cents) AS BIGINT) AS day_cents
         |  FROM events GROUP BY 1, 2)
         |WINDOW w AS (PARTITION BY event_type ORDER BY day_ms
         |             RANGE BETWEEN 518400000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_pivot_user_types" ->
      s"""SELECT user_id,
         |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
         |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
         |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
         |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
         |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
         |  CAST(SUM($cents) AS BIGINT) AS total_cents
         |FROM events GROUP BY 1""".stripMargin,
    "q_users_no_big_purchase" ->
      s"""SELECT DISTINCT user_id FROM events
         |EXCEPT
         |SELECT user_id FROM events
         |WHERE event_type = 'purchase' AND $cents > 9500""".stripMargin,
    // navigation functions at the engine's µs ts grain; window order
    // (tu, event_id) is a total order so first/last are deterministic.
    "q_user_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
        |    first_value(event_type) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS first_type,
        |    last_value(event_type) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS last_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, first_type, last_type,
        |  count(*) AS n_events, max(gap_us) AS max_gap_us
        |FROM g GROUP BY 1, 2, 3""".stripMargin,
    "q_value_histogram" ->
      s"""WITH st AS (
         |  SELECT event_type, min($cents) AS mn, max($cents) AS mx
         |  FROM events GROUP BY 1)
         |SELECT e.event_type,
         |  ($cents - mn) * 20 // (mx - mn + 1) AS bucket,
         |  count(*) AS n_events,
         |  CAST(SUM($cents) AS BIGINT) AS bucket_cents
         |FROM events e JOIN st USING (event_type)
         |GROUP BY 1, 2""".stripMargin,
    "q_gapfill_minutes" ->
      s"""WITH m AS (
         |  SELECT event_type, epoch_ms(date_trunc('minute', ts)) AS minute_ms,
         |    count(*) AS n_events, CAST(SUM($cents) AS BIGINT) AS minute_cents
         |  FROM events GROUP BY 1, 2),
         |s AS (
         |  SELECT event_type, unnest(range(mn, mx + 60000, 60000)) AS minute_ms
         |  FROM (SELECT event_type, min(minute_ms) AS mn, max(minute_ms) AS mx
         |        FROM m GROUP BY 1)),
         |j AS (
         |  SELECT event_type, minute_ms, n_events, minute_cents
         |  FROM s LEFT JOIN m USING (event_type, minute_ms))
         |SELECT event_type, minute_ms,
         |  coalesce(n_events, 0) AS n_events,
         |  coalesce(minute_cents, 0) AS minute_cents,
         |  (CASE WHEN n_events IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_gap,
         |  last_value(minute_cents IGNORE NULLS) OVER (
         |    PARTITION BY event_type ORDER BY minute_ms
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
         |FROM j""".stripMargin,
    "q_revenue_share" ->
      s"""WITH d AS (
         |  SELECT epoch_ms(ts) // 86400000 AS day, event_type,
         |    CAST(SUM($cents) AS BIGINT) AS revenue_cents
         |  FROM events GROUP BY 1, 2)
         |SELECT CAST(day * 86400000 AS BIGINT) AS day_start_ms, event_type,
         |  revenue_cents,
         |  CAST(SUM(revenue_cents) OVER (PARTITION BY day) AS BIGINT) AS day_total_cents,
         |  CAST(revenue_cents * 10000 // SUM(revenue_cents) OVER (PARTITION BY day) AS BIGINT) AS share_bp
         |FROM d""".stripMargin,
    "q_revenue_deciles" ->
      s"""SELECT user_id, total_cents,
         |  CAST(ntile(10) OVER (ORDER BY total_cents DESC, user_id ASC) AS BIGINT) AS decile
         |FROM (SELECT user_id, CAST(SUM($cents) AS BIGINT) AS total_cents
         |      FROM events GROUP BY 1)""".stripMargin,
    // six exact moments + the HUGEINT covariance numerator, BIGINT on
    // the wire (fixture domain fits)
    "q_corr_components" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(x) AS BIGINT) AS sum_x,
         |  CAST(SUM(y) AS BIGINT) AS sum_y,
         |  CAST(SUM(x::HUGEINT * y) AS BIGINT) AS sum_xy,
         |  CAST(SUM(x::HUGEINT * x) AS BIGINT) AS sum_xx,
         |  CAST(SUM(y::HUGEINT * y) AS BIGINT) AS sum_yy,
         |  CAST(count(*)::HUGEINT * SUM(x::HUGEINT * y)
         |    - SUM(x)::HUGEINT * SUM(y) AS BIGINT) AS cov_num
         |FROM (SELECT event_type, $cents AS x,
         |        CAST(hour(ts) AS BIGINT) AS y FROM events)
         |GROUP BY 1""".stripMargin,
    // integer-micro mirrors of SQL percent_rank/cume_dist over the
    // same (total, user) total order
    "q_revenue_pct_rank" ->
      s"""WITH t AS (SELECT user_id, CAST(SUM($cents) AS BIGINT) AS total_cents
         |           FROM events GROUP BY 1),
         |r AS (SELECT *,
         |    CAST(row_number() OVER (ORDER BY total_cents ASC, user_id ASC) AS BIGINT) AS rn,
         |    count(*) OVER () AS n
         |  FROM t)
         |SELECT user_id, total_cents,
         |  CAST(CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1) ELSE 0 END AS BIGINT)
         |    AS pct_rank_micro,
         |  CAST(rn * 1000000 // n AS BIGINT) AS cume_dist_micro
         |FROM r""".stripMargin,
    // GROUPING(a, b) bitmask: first argument = high bit — same
    // convention as Spark's grouping_id().
    "q_cube_revenue" ->
      s"""SELECT coalesce(event_type, 'ALL') AS event_type,
         |  coalesce(CAST(hour(ts) AS BIGINT), -1) AS hour_of_day,
         |  CAST(GROUPING(event_type, hour(ts)) AS BIGINT) AS gid,
         |  count(*) AS order_count,
         |  CAST(SUM($cents) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY CUBE (event_type, hour(ts))""".stripMargin,
  )

  /** The ingest-state twins share the batch oracles bit-for-bit. */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "q_corr_components_stream" -> oraclesBase("q_corr_components"),
    "q_ohlc_hourly_stream" -> oraclesBase("q_ohlc_hourly"))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{Merge, MergeableState}

/** Behavioral-analytics queries over the events stream — the funnel /
  * cohort surface a user of the reference's OLAP store (raw events in
  * Pinot, `pinot/README.md` §Sample Queries) would express as
  * query-time SQL. Both are classic "real-time user analytics on an
  * event table" shapes (the reference's stated use case,
  * `README.md` §Overview).
  *
  * Scale notes (100 TB):
  *  - both ops reduce on `user_id` FIRST (one hash shuffle with
  *    map-side partial aggregation); the second aggregation is over
  *    a domain bounded by stages × cohort-days — kilobytes — so the
  *    second exchange is negligible no matter the input size.
  *  - the funnel's per-user state is four timestamps (conditional
  *    `min`), not an event list: no `collect_list`, no sort, no skew
  *    sensitivity beyond the user-key distribution itself.
  *  - cohort assignment is a window `min` over `user_id` — one
  *    shuffle, no self-join of a per-user cohort table back onto the
  *    fact; the retention count's second shuffle carries only the
  *    DISTINCT (cohort, offset, user) triples, which partial
  *    aggregation dedups map-side to at most one row per user-day.
  */
object AnalyticsQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** First-touch conversion funnel signup → view → click → purchase:
    * a user reaches stage k when the first occurrence of each step is
    * strictly ordered after the first occurrence of the previous step
    * (first-touch semantics — the common approximation that needs only
    * one conditional-min pass, not per-sequence matching). Reports
    * users reaching each stage (stage 0 = any activity).
    *
    * Timestamps compare at microsecond grain — the engine's native
    * precision for this source (Tables.events floors the parquet's
    * nanos to micros).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(spark, Tables.events(spark, dir))

  /** Core funnel over any frame with (user_id, event_type, ts). */
  def funnelOf(spark: SparkSession, ev: DataFrame): DataFrame = {
    def firstUs(tpe: String) =
      min(when(col("event_type") === tpe, unix_micros(col("ts")))).as(s"t_$tpe")
    val perUser = ev.groupBy(col("user_id"))
      .agg(firstUs("signup"), firstUs("view"), firstUs("click"), firstUs("purchase"))
    val staged = perUser.select(
      (when(col("t_signup").isNotNull, 1L).otherwise(0L) +
        when(col("t_signup") < col("t_view"), 1L).otherwise(0L) +
        when(col("t_signup") < col("t_view") && col("t_view") < col("t_click"), 1L)
          .otherwise(0L) +
        when(col("t_signup") < col("t_view") && col("t_view") < col("t_click") &&
          col("t_click") < col("t_purchase"), 1L).otherwise(0L)).as("max_stage"))
    // collapse to <=5 rows FIRST, then the cumulative "users at or
    // beyond stage" is a trivial 5x5 triangular join — never a
    // nested-loop against the per-user frame
    val counts = staged.groupBy(col("max_stage")).agg(count(lit(1)).as("n"))
    val stages = spark.range(0, 5).toDF("stage")
    stages.join(counts, col("max_stage") >= col("stage"), "left")
      .groupBy(col("stage"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_users"))
  }

  /** SESSION-grain conversion funnel — the sessionize → funnel
    * COMPOSITION: each (user, 30-min-gap session) is staged by the
    * strict first-touch order signup < view < click < purchase
    * WITHIN the session, and the output counts sessions at or beyond
    * each stage. Where the user-grain funnel asks "did this user
    * ever convert", the session grain asks "how often does a single
    * visit convert" — the product-analytics default. Scale shape:
    * ONE user-keyed exchange feeds `session_window` (the same native
    * operator as the q_sessionize gate, so grouping parity with the
    * gap-lag oracle is already pinned); per-session state is four
    * conditional mins; the cumulative rollup is the funnel's 5×5
    * triangular join over a ≤5-row aggregate.
    */
  def sessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    def firstUs(tpe: String) =
      min(when(col("event_type") === tpe, unix_micros(col("ts")))).as(s"t_$tpe")
    val perSession = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(firstUs("signup"), firstUs("view"), firstUs("click"), firstUs("purchase"))
    val staged = perSession.select(
      (when(col("t_signup").isNotNull, 1L).otherwise(0L) +
        when(col("t_signup") < col("t_view"), 1L).otherwise(0L) +
        when(col("t_signup") < col("t_view") && col("t_view") < col("t_click"), 1L)
          .otherwise(0L) +
        when(col("t_signup") < col("t_view") && col("t_view") < col("t_click") &&
          col("t_click") < col("t_purchase"), 1L).otherwise(0L)).as("max_stage"))
    val counts = staged.groupBy(col("max_stage")).agg(count(lit(1)).as("n"))
    spark.range(0, 5).toDF("stage")
      .join(counts, col("max_stage") >= col("stage"), "left")
      .groupBy(col("stage"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_sessions"))
  }

  /** Time-BOUND conversion: users whose first purchase lands within
    * one hour of their first click, with the exact mean
    * time-to-convert — the conversion-window semantics every product
    * funnel report uses ("converted within H of the touchpoint"),
    * which the plain ordering funnel cannot express. One user-keyed
    * reduce (two conditional mins), a row-local window predicate,
    * and a 1-row rollup; mean delay is exact integer µs DIV.
    */
  def windowedConversion(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "click", unix_micros(col("ts")))).as("t_click"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("t_buy"))
      .filter(col("t_click").isNotNull)
    val hourUs = 3600L * 1000000L
    perUser
      .select(col("t_click"), col("t_buy"),
        (col("t_buy") > col("t_click") &&
          col("t_buy") <= col("t_click") + hourUs).as("conv"))
      .agg(
        count(lit(1)).as("n_clickers"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("n_converted"),
        sum(when(col("conv"), col("t_buy") - col("t_click")).otherwise(0L))
          .as("delay_sum_us"))
      .select(col("n_clickers"), col("n_converted"),
        when(col("n_converted") > 0,
          expr("delay_sum_us DIV n_converted")).otherwise(lit(null).cast("long"))
          .as("mean_delay_us"))
  }

  /** Rolling 7-day active users (WAU curve): for every UTC day, the
    * distinct users active in the trailing 7 days — the standard
    * engagement metric, computed like [[slidingActiveUsers]]: a
    * bounded ×7 day expand BEFORE the shuffle (each (user, day) pair
    * joins its 7 enclosing windows row-locally — never a
    * day-spine × fact join), then one distinct count per window day.
    * The expand input is the DISTINCT (user, day) table — map-side
    * deduped — so the ×7 blowup applies to user-days, not raw events.
    */
  def wauDaily(spark: SparkSession, dir: String): DataFrame =
    wauOf(wauState.merge(wauState.partial(Tables.events(spark, dir))))

  /** The WAU input as MERGEABLE state: the DISTINCT (user, day) set
    * only ever grows, and set union is associative, commutative and
    * idempotent — so batch partials from any split merge to the same
    * set, bounded by users × active days.
    */
  val wauState: MergeableState = MergeableState(
    _.select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct(),
    Seq("user_id", "day"), Nil)

  /** The WAU derivation over a DISTINCT (user_id, day) table —
    * shared by the batch op, the stream gate and the served curve.
    */
  def wauOf(userDays: DataFrame): DataFrame =
    userDays
      .withColumn("k", explode(sequence(lit(0L), lit(6L))))
      .select((col("day") + col("k")).as("wau_day"), col("user_id"))
      .groupBy(col("wau_day"))
      .agg(countDistinct(col("user_id")).as("n_active_7d"))

  /** The STREAMED WAU curve, gated against the batch gate's oracle:
    * replay [[wauState]] over three event-id-range micro-batches and
    * derive at read. Set-union state is order-independent, so the
    * shared oracle carries no arrival-order caveat.
    */
  def wauDailyStream(spark: SparkSession, dir: String): DataFrame =
    wauOf(wauState.replay(spark, OlapQueries.idOrderedBatches(spark, dir)))

  /** Daily cohort retention: cohort = the UTC day index of a user's
    * first event; for each (cohort_day, day_offset) count the distinct
    * users active that many days after their first touch. Day index is
    * integer `epoch_us DIV 86_400_000_000` so both engines do exact
    * integer arithmetic (no timezone/date types on the wire).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      // integer DIV — `/` on longs is double division in Spark
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    ev.withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** [[funnel]] rebuilt from a REAL micro-batched
    * [[graft.streaming.StreamingFunnel]] run — per-user first-touch
    * state (four conditional-min timestamps) over the id-ordered-
    * thirds file feed, update-mode last-emission-per-user stage
    * fold, then the batch op's 5-row cumulative rollup. Shares
    * `q_funnel`'s oracle.
    */
  def funnelStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingFunnel
    val src = OlapQueries.eventsFeed(spark, dir)
    val updates = StreamingFunnel.stageUpdates(spark, src)
    val staged = OlapQueries.streamFoldLast(spark, updates.toDF(), "user_id")
    val counts = staged.groupBy(col("max_stage")).agg(count(lit(1)).as("n"))
    spark.range(0, 5).toDF("stage")
      .join(counts, col("max_stage") >= col("stage"), "left")
      .groupBy(col("stage"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_users"))
  }

  private val cohortFold = new graft.FpMemo[DataFrame](_.unpersist())

  /** LAST per-user cohort-profile emissions from ONE real
    * [[graft.streaming.CohortStream]] run ([[graft.FpMemo]]) — the
    * [[transitionEmissionsStreamed]] discipline:
    * the per-user state (cohort day + active-day offsets) subsumes
    * the first-seen state, so this single run feeds BOTH the
    * retention gate and the user-growth gate instead of each paying
    * its own AvailableNow micro-batch harness.
    */
  private[queries] def cohortEmissionsStreamed(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.streaming.CohortStream
    cohortFold.get(spark, s"$dir/events.parquet") {
      val src = OlapQueries.eventsFeed(spark, dir)
      val updates = CohortStream.cohorts(spark, src)
      val folded = OlapQueries.streamFoldLast(spark, updates.toDF(), "user_id")
        .filter(size(col("offsets")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      folded.count()
      folded
    }
  }

  /** [[cohortRetention]] rebuilt from a REAL micro-batched
    * [[graft.streaming.CohortStream]] run — per-user day-set state
    * over the id-ordered-thirds file feed, update-mode last-emission-
    * per-user fold (each emission is the user's COMPLETE retention
    * profile), the triangle re-counted from the folded profiles.
    * Shares `q_cohort_retention`'s oracle.
    */
  def cohortRetentionStream(spark: SparkSession, dir: String): DataFrame =
    cohortEmissionsStreamed(spark, dir)
      .select(col("user_id"), col("cohort_day"),
        explode(col("offsets")).as("day_offset"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** CEP-style consecutive-pattern detection (the Flink-CEP shape the
    * reference's stack is known for, expressed with window
    * navigation): users with ≥2 'error' events inside any 24-hour
    * span. `lag(ts, k-1)` over the per-user error stream turns "k in
    * a span" into a per-row predicate — one shuffle on user_id, state
    * bounded by the lag depth, not the span.
    */
  def errorBursts(spark: SparkSession, dir: String): DataFrame =
    errorBurstsOf(Tables.events(spark, dir))

  /** Core burst detector over any frame with
    * (user_id, event_type, ts, event_id).
    */
  def errorBurstsOf(ev: DataFrame): DataFrame = {
    val errs = ev
      .filter(col("event_type") === "error")
      .select(col("user_id"), unix_micros(col("ts")).as("tu"), col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    errs
      .withColumn("t2", lag(col("tu"), 1).over(w))
      .filter(col("t2").isNotNull && col("tu") - col("t2") <= 86400L * 1000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_bursts"), min(col("tu")).as("first_burst_us"))
  }

  /** [[errorBursts]] rebuilt from a REAL micro-batched
    * [[graft.streaming.BurstStream]] run — id-ordered-thirds file
    * feed (event-time disorder across batches exercises the settled/
    * tail split), update-mode last-emission-per-user fold. The
    * horizon-bounded burst state proven ≡ the batch lag window at
    * the driver gate level; shares `q_error_bursts`' oracle.
    */
  def errorBurstsStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BurstStream
    val src = OlapQueries.eventsFeed(spark, dir)
    val updates = BurstStream.bursts(spark, src)
    OlapQueries.streamFoldLast(spark, updates.toDF(), "user_id")
      .filter(col("n_bursts") > 0L)
      .select(col("user_id"), col("n_bursts"), col("first_burst_us"))
  }

  /** Sliding-window active users: distinct users per 1-hour window
    * sliding every 15 minutes. Spark's slide semantics assign each
    * event to its 4 enclosing epoch-aligned windows (a bounded ×4
    * expand BEFORE the shuffle — never a windows×events join).
    */
  def slidingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_millis(col("w.start")).as("window_start_ms"), col("n_users"))

  /** One-pass column profiler over events — per-column row/null/
    * distinct counts and min/max (as strings, so one schema fits all
    * columns): the data-quality report a pipeline runs before
    * training. Unpivots FIRST (one narrow scan → (column, value)
    * pairs), then ONE two-level hash aggregation: group by
    * (column, value) with map-side combine, then roll the value
    * groups up per column — every metric falls out of the rollup, no
    * join, and an all-NULL column still profiles (n_distinct = 0). A
    * single 4-way `countDistinct` aggregate would instead plan a
    * ×(k+1) Expand of every row through one exchange (measured ~4×
    * slower at sf0.1).
    */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "user_id", "event_type", "value_cents")
    val pairs = Tables.events(spark, dir)
      .select(expr("stack(" + cols.size + ", " +
        cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") +
        ") AS (column_name, val)"))
    pairs
      .groupBy(col("column_name"), col("val")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("column_name")).agg(
        sum(col("cnt")).as("n_rows"),
        sum(when(col("val").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(when(col("val").isNotNull, lit(1))).as("n_distinct"),
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** Market-basket association over event types: for every unordered
    * type pair, the users who did BOTH, each type's user reach, and
    * the LIFT — 1000·N·n_ab / (n_a·n_b) as exact integer permille
    * (DECIMAL(38,0) product + integral divide, mirrored by the
    * oracle's HUGEINT `//`, so no float ratio crosses the engine
    * boundary).
    *
    * Scale shape: (user, type) distinct first (map-side partial
    * distinct), then ONE user-keyed exchange into per-user sorted
    * type sets whose pairs are generated ROW-LOCALLY (bounded by the
    * type-alphabet size, never a user-keyed self-join), then a
    * tiny pair-keyed partial-agg count. The reach table and the
    * 1-row user count broadcast into the pair rows — at 100 TB
    * nothing but (user, type) ever shuffles, and pair cardinality is
    * |alphabet|², independent of row count.
    */
  def covisitLift(spark: SparkSession, dir: String): DataFrame =
    liftOf(covisitState.merge(covisitState.partial(Tables.events(spark, dir))))

  /** The association input as MERGEABLE state: the DISTINCT
    * (user, type) set only ever grows (set union — associative,
    * commutative, idempotent), bounded by users × type alphabet.
    */
  val covisitState: MergeableState = MergeableState(
    _.select(col("user_id"), col("event_type")).distinct(),
    Seq("user_id", "event_type"), Nil)

  /** The pair/reach/lift derivation over an already-distinct
    * (user_id, event_type) frame — shared by the batch gate and the
    * stream gate's merged state.
    */
  def liftOf(us: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val pairs = us
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)), b ->
          |    struct(a AS type_a, b AS type_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    val reach = us.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val nUsers = us.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    pairs
      .join(broadcast(reach.select(col("event_type").as("type_a"),
        col("c").as("n_a"))), "type_a")
      .join(broadcast(reach.select(col("event_type").as("type_b"),
        col("c").as("n_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        column(IntegralDivide(
          expression(dec(lit(1000)) * dec(col("n_users")) * dec(col("n_ab"))),
          expression(dec(col("n_a")) * dec(col("n_b"))))).cast("long")
          .as("lift_milli"))
  }

  /** The STREAMED co-visitation association table, gated against the
    * batch gate's own oracle: replay [[covisitState]] over three
    * event-id-range micro-batches and derive at read.
    */
  def covisitLiftStream(spark: SparkSession, dir: String): DataFrame =
    liftOf(covisitState.replay(spark, OlapQueries.idOrderedBatches(spark, dir)))

  /** Markov transition matrix over the event stream — for each
    * ordered event-type pair (from → to), how many times a user's
    * event of type `from` was IMMEDIATELY followed by one of type
    * `to`, and what permille of all transitions out of `from` that
    * is. The "next-action path analysis" query behind every product
    * flow diagram; the normalized rows are the empirical Markov
    * chain a session simulator samples from.
    *
    * Scale shape: ONE user-keyed exchange carries the fact (the lag
    * window's partition key — same (tu, event_id) total order as the
    * SCD2 gate); transition counts then aggregate map-side onto a
    * domain bounded by the type alphabet SQUARED (25 rows here), so
    * the normalizing row-total window runs over a kilobyte table.
    * The share is exact integer permille (1000·n DIV total) — no
    * float division crosses the engine boundary.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsOf(Tables.events(spark, dir))

  /** Core transition matrix over any frame with (user_id, event_id,
    * event_type, ts); per-user order is (tu, event_id).
    */
  def eventTransitionsOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val counts = transitionCountsOf(ev)
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    counts
      .withColumn("out_total", sum(col("n_trans")).over(wOut))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        column(IntegralDivide(
          expression(col("n_trans") * 1000L),
          expression(col("out_total")))).cast("long").as("share_permille"))
  }

  /** The raw (from_type, to_type, n_trans) counts — the fact-sized
    * half of [[eventTransitionsOf]] (one user-keyed window exchange,
    * map-side-combining aggregation onto the alphabet² domain).
    */
  private def transitionCountsOf(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    ev
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
  }

  /** The transition-count EDGE LIST (src, dst, w) shared by the two
    * batch PageRank gates: global and personalized centrality are two
    * consumers of ONE empirical transition graph, so the alphabet²-
    * bounded edge table materializes once ([[graft.FpMemo]]) instead
    * of each gate re-paying
    * the full user-keyed window scan over events. The edge list is a
    * kilobyte-scale aggregate, never fact-sized.
    */
  private val transEdges = new graft.FpMemo[DataFrame](_.unpersist())

  private def transitionEdges(spark: SparkSession, dir: String): DataFrame =
    transEdges.get(spark, s"$dir/events.parquet") {
      val edges = transitionCountsOf(Tables.events(spark, dir))
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n_trans").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      edges.count()
      edges
    }

  private val transEmissions = new graft.FpMemo[DataFrame](_.unpersist())

  /** LAST per-user pair-count emissions from a REAL micro-batched
    * run of [[graft.streaming.TransitionsStream]] over the events
    * split into id-ordered thirds (the shared
    * [[OlapQueries.fileFeed]] harness). Update-mode emissions carry
    * each touched user's COMPLETE current counts, so the distributed
    * last-emission fold ([[OlapQueries.streamFoldLast]] — nothing
    * user-sized touches the driver) followed by the sum is exactly
    * the batch operator. Memoized ([[graft.FpMemo]]): the two
    * stream-composed gates share one stream run.
    */
  private def transitionEmissionsStreamed(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.streaming.TransitionsStream
    transEmissions.get(spark, s"$dir/events.parquet") {
      val src = OlapQueries.eventsFeed(spark, dir)
      val updates = TransitionsStream.pairs(spark, src)
      val folded = OlapQueries.streamFoldLast(spark, updates.toDF(), "user_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      folded.count()
      folded
    }
  }

  /** The transition matrix rebuilt from the STREAMED per-user state
    * — shares `q_event_transitions`' oracle (stream-final ≡ batch
    * under the id-ordered split, the r9 gate-harness contract).
    */
  def eventTransitionsStream(spark: SparkSession, dir: String): DataFrame = {
    // the alphabet²-bounded matrix derivation over the folded
    // emissions is shared by this gate AND the streamed-PageRank gate
    // — memoize it (FpMemo) instead of each consumer re-paying the
    // fold-read + matrix aggregation
    transMatrixStream.get(spark, s"$dir/events.parquet") {
      val m = graft.streaming.TransitionsStream.matrixOf(
          transitionEmissionsStreamed(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      m.count()
      m
    }
  }

  private val transMatrixStream = new graft.FpMemo[DataFrame](_.unpersist())

  /** PageRank served off the STREAMED transition state — graph
    * analytics on continuously-ingested edges; shares the batch
    * PageRank oracle.
    */
  def typePagerankStream(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PageRank.ranks(
        eventTransitionsStream(spark, dir)
          .select(col("from_type").as("src"), col("to_type").as("dst"),
            col("n_trans").as("w")),
        iters = 4)
      .select(col("node").as("event_type"), col("r").as("rank_e12"))

  /** PageRank over the empirical event-type transition graph — "which
    * state does the product flow actually revolve around": the
    * [[eventTransitionsOf]] counts as edge weights, four exact
    * integer-damped iterations ([[graft.ops.PageRank.ranks]], d=0.85,
    * mass 10^12). The graph here is alphabet-bounded; the operator
    * itself is the edge-partitioned iteration that runs unchanged on
    * a billion-node graph.
    */
  def typePagerank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PageRank.ranks(transitionEdges(spark, dir), iters = 4)
      .select(col("node").as("event_type"), col("r").as("rank_e12"))

  /** SESSION-scoped transition matrix — [[eventTransitionsOf]] with
    * pairs that cross a session boundary removed: two consecutive
    * events are in the same session iff their gap is ≤ 30 min (the
    * [[TemporalQueries.sessionize]] rule), so the session constraint
    * is a narrow filter on the SAME single user-keyed lag window —
    * no session-id materialization, no extra exchange. The flow
    * matrix a product team actually wants: "returned next morning"
    * is not a transition.
    */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame =
    sessionTransitionsOf(Tables.events(spark, dir))

  /** [[sessionTransitions]] over an explicit events frame (columns
    * user_id, event_id, event_type, ts) — the spec surface.
    */
  def sessionTransitionsOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val gapUs = 1800000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    val counts = ev
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_us", col("tu") - lag(col("tu"), 1).over(w))
      .filter(col("from_type").isNotNull && col("gap_us") <= gapUs)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    counts
      .withColumn("out_total", sum(col("n_trans")).over(wOut))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        column(IntegralDivide(
          expression(col("n_trans") * 1000L),
          expression(col("out_total")))).cast("long").as("share_permille"))
  }

  /** Top-20 behavioral path TRIGRAMS — the sequence-mining step
    * behind "what do users actually do in three steps": consecutive
    * (t1→t2→t3) event-type triples per user under the (tu, event_id)
    * total order, ranked by frequency. Both lags ride the SAME
    * single user-keyed window exchange the transition matrix uses
    * (no second shuffle for the deeper lag); triple counts collapse
    * map-side onto the alphabet³ domain and the top-20 is a
    * bounded-heap TakeOrdered, never a global sort.
    */
  def eventTrigrams(spark: SparkSession, dir: String): DataFrame =
    eventTrigramsOf(Tables.events(spark, dir))

  /** [[eventTrigrams]] over an explicit events frame — the spec
    * surface.
    */
  def eventTrigramsOf(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    val counts = ev
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_id"), col("event_type"))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
      .agg(count(lit(1)).as("n_paths"))
    graft.ops.TopK.topKGlobal(counts,
        Seq(col("n_paths").desc, col("t1").asc, col("t2").asc, col("t3").asc), 20)
      .select(col("rank").cast("long").as("rank"),
        col("t1"), col("t2"), col("t3"), col("n_paths"))
  }

  /** Personalized PageRank seeded at `signup` — "which states are
    * reachable-by-flow from onboarding": restart mass lands ONLY on
    * the seed ([[graft.ops.PageRank.personalizedRanks]], Haveliwala
    * 2002), so ranks measure proximity to signup rather than global
    * centrality.
    */
  def typePagerankPersonal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PageRank.personalizedRanks(transitionEdges(spark, dir),
        seeds = Seq("signup"), iters = 4)
      .select(col("node").as("event_type"), col("r").as("rank_e12"))

  /** RFM customer segmentation: per purchasing user, recency (last
    * purchase time), frequency (purchase count), and monetary value
    * (cents) are each quartiled, and users are bucketed into the
    * classic R·F·M segment code (111..444) with per-segment counts
    * and revenue — the marketing-analytics workhorse built on three
    * global rankings.
    *
    * Scale shape: the fact reduces to ONE row per purchasing user
    * first (map-side combining groupBy); the three quartiles are
    * [[graft.ops.Rank.globalNtile]] — range-partitioned exclusive
    * scans over that bounded per-user table, never a single-task
    * `Window.orderBy` — and each uses (metric, user_id) as a TOTAL
    * order so tile assignment is deterministic and partition-count
    * invariant. The final segment rollup lands on ≤64 rows.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsOf(Tables.events(spark, dir))

  /** Core RFM rollup over any frame with (user_id, event_type, ts,
    * value_cents).
    */
  def rfmSegmentsOf(ev: DataFrame): DataFrame =
    rfmOfPerUser(rfmState.merge(rfmState.partial(ev)))

  /** The MERGEABLE per-user RFM state: (last-purchase micros via max,
    * purchase count, cents sum) — partials from any split of the
    * input merge by (max, sum, sum) to the same per-user row. The
    * quartiles stay a derive-at-read over the merged table: tiles are
    * GLOBAL ranks, never additive, so no per-batch tile state could
    * be correct.
    */
  val rfmState: MergeableState = MergeableState(
    _.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col("value_cents")).as("monetary_cents")),
    Seq("user_id"),
    Seq(Merge.Max("last_us"), Merge.Sum("freq"), Merge.Sum("monetary_cents")))

  /** The three global quartile rankings + segment rollup over the
    * merged per-user state.
    *
    * The three rankings are INDEPENDENT functions of the per-user
    * table (each reads one metric + the id tie-break), but each
    * [[graft.ops.Rank.globalNtile]] is a multi-job block (range
    * sample, subtotal collect, eager checkpoint) whose driver
    * barriers previously ran back-to-back in a foldLeft. They now
    * run on three driver threads over one persisted per-user frame
    * (guide §2.6 — overlap independent jobs) and rejoin on user_id:
    * each leg carries only (user_id, metric), the joins are
    * tile-table-sized, and tile values are identical to the folded
    * form because ntile is a pure function of (metric, user_id)
    * order — verified by the shared oracle.
    */
  def rfmOfPerUser(perState: DataFrame): DataFrame = {
    val per = perState.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    per.count() // eager fill: the three concurrent legs share ONE materialization
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val legs = Seq(
      ("last_us", "r_tile"), ("freq", "f_tile"), ("monetary_cents", "m_tile"))
      .map { case (metric, out) => Future {
        graft.ops.Rank.globalNtile(
            per.select(col("user_id"), col(metric)),
            Seq(col(metric).asc, col("user_id").asc), 4, out)
          .select(col("user_id"), col(out))
      } }
    val Seq(rT, fT, mT) = legs.map(Await.result(_, Duration.Inf))
    val tiled = rT.join(fT, Seq("user_id")).join(mT, Seq("user_id"))
      .join(per.select(col("user_id"), col("monetary_cents")), Seq("user_id"))
    val out = tiled
      .groupBy((col("r_tile") * 100 + col("f_tile") * 10 + col("m_tile"))
        .as("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary_cents")).as("monetary_sum_cents"))
      .localCheckpoint(true)
    per.unpersist(blocking = false)
    out
  }

  /** The STREAMING RFM composition, gated: replay [[rfmState]] over
    * three id-ordered micro-batches, then derive the quartile segments
    * from the merged (max, sum, sum) per-user state. The merges are
    * order-independent, so the oracle is the plain batch SQL.
    */
  def rfmSegmentsStream(spark: SparkSession, dir: String): DataFrame =
    rfmOfPerUser(rfmState.replay(spark, OlapQueries.idOrderedBatches(spark, dir)))

  /** Trending top-K: the top-3 event types of every SLIDING 1-hour
    * window (15-minute slide) by event count — the "what's hot right
    * now" serving query, where tumbling windows would miss a burst
    * straddling a boundary. Scale shape: the slide is a bounded ×4
    * row expand (size/slide copies per event, same as
    * [[slidingActiveUsers]] — never a window-spine join), counts
    * collapse map-side onto the (window × type-alphabet) domain, and
    * the rank filter plans as WindowGroupLimit so per-window state
    * stays bounded at k.
    */
  def topKTrending(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.topKPerKey(
      Tables.events(spark, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("sum_cents"))
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          col("event_type"), col("n_events"), col("sum_cents")),
      Seq("window_start_ms"),
      Seq(col("n_events").desc, col("event_type").asc), 3)
      .select(col("window_start_ms"), col("rank").cast("long").as("rank"),
        col("event_type"), col("n_events"), col("sum_cents"))

  /** Whale-user revenue breakdown through the SALTED skew join
    * ([[graft.ops.SkewJoin]]): enrich every event with its user's
    * lifetime spend and report revenue by event type for
    * above-median spenders. The per-user dim is exactly the
    * fact-derived profile a bot/whale user would hot-key — the
    * salted join spreads each user's rows over `salts` tasks while
    * keeping equi-join semantics, so the gate pins the operator's
    * correctness end-to-end (the oracle is the plain unsalted join).
    * One map-side-combining profile aggregate, one salted equi-join,
    * one alphabet-bounded rollup.
    */
  def skewJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value_cents"))
    val userDim = ev.groupBy(col("user_id"))
      .agg(sum(col("value_cents")).as("user_total_cents"))
    graft.ops.SkewJoin.saltedInnerJoin(ev, userDim, Seq("user_id"), salts = 8)
      .filter(col("user_total_cents") > 330000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("revenue_cents"))
  }

  val queries: Map[String, QFn] = Map(
    "q_skew_join" -> (skewJoinRevenue _),
    "q_session_funnel" -> (sessionFunnel _),
    "q_funnel_windowed" -> (windowedConversion _),
    "q_wau_daily" -> (wauDaily _),
    "q_wau_daily_stream" -> (wauDailyStream _),
    "q_topk_trending" -> (topKTrending _),
    "q_event_transitions" -> (eventTransitions _),
    "q_type_pagerank" -> (typePagerank _),
    "q_type_pagerank_personal" -> (typePagerankPersonal _),
    "q_type_pagerank_stream" -> (typePagerankStream _),
    "q_event_transitions_stream" -> (eventTransitionsStream _),
    "q_session_transitions" -> (sessionTransitions _),
    "q_event_trigrams" -> (eventTrigrams _),
    "q_error_bursts_stream" -> (errorBurstsStream _),
    "q_cohort_retention_stream" -> (cohortRetentionStream _),
    "q_funnel_stream" -> (funnelStream _),
    "q_rfm_segments" -> (rfmSegments _),
    "q_rfm_segments_stream" -> (rfmSegmentsStream _),
    "q_covisit_lift" -> (covisitLift _),
    "q_covisit_lift_stream" -> (covisitLiftStream _),
    "q_funnel" -> (funnel _),
    "q_cohort_retention" -> (cohortRetention _),
    "q_error_bursts" -> (errorBursts _),
    "q_sliding_active_users" -> (slidingActiveUsers _),
    "q_profile_events" -> (profileEvents _),
  )

  private val wauOracle =
    """SELECT day + k AS wau_day, count(DISTINCT user_id) AS n_active_7d
      |FROM (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |      FROM events)
      |CROSS JOIN range(0, 7) AS r(k)
      |GROUP BY 1""".stripMargin

  // error pairs within 24 h, shared by the batch gate and the
  // streamed twin
  // the session-scoped lag window, shared with the SQL-surface gate
  private[queries] val sessionTransitionsOracle =
    """WITH p AS (
      |  SELECT lag(event_type) OVER w AS from_type,
      |    event_type AS to_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n_trans
      |  FROM p WHERE from_type IS NOT NULL AND gap_us <= 1800000000
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n_trans,
      |  CAST(n_trans * 1000
      |    // SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS share_permille
      |FROM c""".stripMargin

  private val burstsOracle =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id
      |  FROM events WHERE event_type = 'error'),
      |l AS (
      |  SELECT user_id, tu,
      |    lag(tu, 1) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS t2
      |  FROM e)
      |SELECT user_id, count(*) AS n_bursts, min(tu) AS first_burst_us
      |FROM l WHERE t2 IS NOT NULL AND tu - t2 <= 86400000000
      |GROUP BY 1""".stripMargin

  // the retention triangle, shared by batch gate and stream twin
  // the 5-row first-touch funnel, shared by batch gate and stream twin
  private val funnelOracle =
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(epoch_us(ts)) FILTER (WHERE event_type = 'signup')   AS t_signup,
      |    min(epoch_us(ts)) FILTER (WHERE event_type = 'view')     AS t_view,
      |    min(epoch_us(ts)) FILTER (WHERE event_type = 'click')    AS t_click,
      |    min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS t_purchase
      |  FROM events GROUP BY 1),
      |staged AS (
      |  SELECT
      |    (CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END
      |     + CASE WHEN t_signup < t_view THEN 1 ELSE 0 END
      |     + CASE WHEN t_signup < t_view AND t_view < t_click THEN 1 ELSE 0 END
      |     + CASE WHEN t_signup < t_view AND t_view < t_click AND t_click < t_purchase
      |            THEN 1 ELSE 0 END)::BIGINT AS max_stage
      |  FROM per_user)
      |SELECT stage, count(max_stage) AS n_users
      |FROM range(0, 5) AS r(stage) LEFT JOIN staged ON max_stage >= stage
      |GROUP BY 1""".stripMargin

  private val cohortOracle =
    """WITH d AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (
      |  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  count(DISTINCT user_id) AS n_users
      |FROM c GROUP BY 1, 2""".stripMargin

  private val rfmOracle =
    """WITH per AS (
      |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS freq,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |t AS (
      |  SELECT monetary_cents,
      |    ntile(4) OVER (ORDER BY last_us, user_id) AS r_tile,
      |    ntile(4) OVER (ORDER BY freq, user_id) AS f_tile,
      |    ntile(4) OVER (ORDER BY monetary_cents, user_id) AS m_tile
      |  FROM per)
      |SELECT CAST(r_tile * 100 + f_tile * 10 + m_tile AS BIGINT) AS segment,
      |  count(*) AS n_users,
      |  CAST(SUM(monetary_cents) AS BIGINT) AS monetary_sum_cents
      |FROM t GROUP BY 1""".stripMargin

  private val covisitOracle =
      """WITH us AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
        |s AS (SELECT event_type, count(*) AS c FROM us GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_ab
        |  FROM us a JOIN us b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, sa.c AS n_a, sb.c AS n_b,
        |  CAST(1000::HUGEINT * n.n_users * n_ab
        |    // (sa.c::HUGEINT * sb.c) AS BIGINT) AS lift_milli
        |FROM p
        |JOIN s sa ON p.type_a = sa.event_type
        |JOIN s sb ON p.type_b = sb.event_type
        |CROSS JOIN n""".stripMargin

  private val transitionsOracle =
    """WITH p AS (
      |  SELECT lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
      |    event_type AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n_trans
      |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n_trans,
      |  CAST(n_trans * 1000
      |    // SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS share_permille
      |FROM c""".stripMargin

  // four unrolled exact-integer PageRank iterations over the
  // transition graph — HUGEINT `//` mirrors the engine's
  // DECIMAL(38,0) DIV truncation bit-for-bit (all operands positive).
  // `seedPred(col)` restricts the restart targets (personalized
  // variant); None = uniform restart over all nodes.
  private def pagerankOracleFor(seedPred: Option[String => String]): String = {
    val iters = 4
    def tgt(c: String) = seedPred.fold("TRUE")(p => p(c))
    val head =
      s"""WITH p AS (
         |  SELECT lag(event_type) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |    event_type AS dst
         |  FROM events),
         |e AS (SELECT src, dst, CAST(count(*) AS HUGEINT) AS w
         |      FROM p WHERE src IS NOT NULL GROUP BY 1, 2),
         |o AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM nodes
         |       WHERE ${tgt("node")}),
         |r0 AS (SELECT node,
         |    CASE WHEN ${tgt("node")}
         |      THEN CAST(1000000000000 AS HUGEINT) // nn.n ELSE 0 END AS r
         |  FROM nodes CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT nodes.node,
         |  CASE WHEN ${tgt("nodes.node")}
         |    THEN (150 * CAST(1000000000000 AS HUGEINT)) // (1000 * nn.n)
         |    ELSE 0 END
         |    + coalesce(c.s, 0) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node,
         |      sum((850 * r${i - 1}.r * e.w) // (1000 * o.out_w)) AS s
         |    FROM e JOIN o USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
         |    GROUP BY 1) c ON c.node = nodes.node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + steps +
      s"\nSELECT node AS event_type, CAST(r AS BIGINT) AS rank_e12 FROM r$iters"
  }

  private lazy val pagerankOracle: String = pagerankOracleFor(None)

  val oracles: Map[String, String] = Map(
    "q_type_pagerank" -> pagerankOracle,
    "q_type_pagerank_stream" -> pagerankOracle,
    "q_type_pagerank_personal" ->
      pagerankOracleFor(Some(c => s"$c IN ('signup')")),
    "q_funnel_windowed" ->
      """WITH per AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT t_click, t_buy,
        |    (t_buy > t_click AND t_buy <= t_click + 3600000000) AS conv
        |  FROM per WHERE t_click IS NOT NULL)
        |SELECT count(*) AS n_clickers,
        |  CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST(CASE WHEN SUM(CASE WHEN conv THEN 1 ELSE 0 END) > 0
        |    THEN SUM(CASE WHEN conv THEN t_buy - t_click ELSE 0 END)
        |         // SUM(CASE WHEN conv THEN 1 ELSE 0 END)
        |    ELSE NULL END AS BIGINT) AS mean_delay_us
        |FROM c""".stripMargin,
    "q_wau_daily" -> wauOracle,
    // the streamed twin re-derives from set-union state — identical
    // output, same oracle
    "q_wau_daily_stream" -> wauOracle,
    // session assignment mirrors the q_sessionize oracle verbatim
    // (strict >30-min gap opens a session); stage logic mirrors the
    // user-grain funnel's strict first-touch ordering
    "q_session_funnel" ->
      """WITH m AS (
        |  SELECT user_id, epoch_us(ts) AS tu, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |s AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tu
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |f AS (
        |  SELECT user_id, sid,
        |    min(CASE WHEN event_type = 'signup' THEN tu END) AS t_signup,
        |    min(CASE WHEN event_type = 'view' THEN tu END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN tu END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN tu END) AS t_purchase
        |  FROM s GROUP BY 1, 2),
        |st AS (
        |  SELECT
        |    (CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) +
        |    (CASE WHEN t_signup < t_view THEN 1 ELSE 0 END) +
        |    (CASE WHEN t_signup < t_view AND t_view < t_click THEN 1 ELSE 0 END) +
        |    (CASE WHEN t_signup < t_view AND t_view < t_click
        |          AND t_click < t_purchase THEN 1 ELSE 0 END) AS max_stage
        |  FROM f)
        |SELECT k.stage, CAST(coalesce(count(st.max_stage), 0) AS BIGINT) AS n_sessions
        |FROM range(0, 5) AS k(stage)
        |LEFT JOIN st ON st.max_stage >= k.stage
        |GROUP BY 1""".stripMargin,
    "q_skew_join" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS t
        |  FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM events JOIN d USING (user_id)
        |WHERE t > 330000
        |GROUP BY 1""".stripMargin,
    "q_topk_trending" ->
      """WITH g AS (
        |  SELECT ((epoch_us(ts) // 900000000) - k) * 900000 AS window_start_ms,
        |    event_type, count(*) AS n_events,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events CROSS JOIN range(0, 4) AS r(k)
        |  GROUP BY 1, 2)
        |SELECT window_start_ms, rank, event_type, n_events, sum_cents FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY window_start_ms
        |    ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rank
        |  FROM g)
        |WHERE rank <= 3""".stripMargin,
    "q_event_transitions" -> transitionsOracle,
    // stream-final ≡ batch: the streamed state rebuilds the same
    // matrix, so the stream gate shares the batch oracle verbatim
    "q_event_transitions_stream" -> transitionsOracle,
    // the same lag window with cross-session pairs (gap > 30 min)
    // dropped before counting
    "q_session_transitions" -> sessionTransitionsOracle,
    // the same window with a second lag; top-20 by count with full
    // lexicographic tie-break makes the cut deterministic
    "q_event_trigrams" ->
      """WITH p AS (
        |  SELECT lag(event_type, 2) OVER w AS t1,
        |    lag(event_type, 1) OVER w AS t2,
        |    event_type AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT t1, t2, t3, count(*) AS n_paths
        |  FROM p WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT CAST(row_number() OVER (ORDER BY n_paths DESC, t1, t2, t3)
        |    AS BIGINT) AS rank,
        |  t1, t2, t3, n_paths
        |FROM c
        |ORDER BY rank LIMIT 20""".stripMargin,
    "q_rfm_segments" -> rfmOracle,
    // the streamed twin re-derives from merged (max, sum, sum)
    // per-user state — identical output, same oracle
    "q_rfm_segments_stream" -> rfmOracle,
    // the streamed twin re-derives from set-union state — identical
    // output, same oracle
    "q_covisit_lift" -> covisitOracle,
    "q_covisit_lift_stream" -> covisitOracle,
    "q_funnel" -> funnelOracle,
    // stream-final ≡ batch: folded first-touch stages re-count the
    // same 5-row funnel; same oracle
    "q_funnel_stream" -> funnelOracle,
    "q_cohort_retention" -> cohortOracle,
    // stream-final ≡ batch: the folded complete profiles re-count
    // the identical triangle; same oracle
    "q_cohort_retention_stream" -> cohortOracle,
    "q_error_bursts" -> burstsOracle,
    // stream-final ≡ batch: the horizon fold's settled+tail pair
    // count re-derives the same burst stats; same oracle
    "q_error_bursts_stream" -> burstsOracle,
    // each event belongs to exactly 4 epoch-aligned (1h, 15min-slide)
    // windows — enumerate them per event instead of generating a
    // window series
    "q_sliding_active_users" ->
      """SELECT ((epoch_us(ts) // 900000000) - k) * 900000 AS window_start_ms,
        |  count(DISTINCT user_id) AS n_users
        |FROM events CROSS JOIN range(0, 4) AS r(k)
        |GROUP BY 1""".stripMargin,
    "q_profile_events" -> {
      val cents = "CAST(round(value*100) AS BIGINT)"
      def leg(name: String, e: String) =
        s"""SELECT '$name' AS column_name, count(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $e) AS n_distinct,
           |  min(CAST($e AS VARCHAR)) AS min_val,
           |  max(CAST($e AS VARCHAR)) AS max_val
           |FROM events""".stripMargin
      Seq(leg("event_id", "event_id"), leg("user_id", "user_id"),
        leg("event_type", "event_type"), leg("value_cents", cents))
        .mkString("\nUNION ALL\n")
    },
  )
}

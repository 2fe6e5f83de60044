package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{AsOfJoin, Sessionize}

/** Temporal-operator queries over the `events` table: as-of join
  * (attribution), bounded range join (error correlation), and
  * gap-based sessionization.
  *
  * All time comparisons happen at the engine's µs grain (see
  * Tables.events); outputs are epoch-ms longs. Oracles mirror the
  * exact (ts, side, tie) ordering / gap arithmetic in DuckDB window
  * SQL at epoch_us grain.
  */
object TemporalQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** As-of attribution: every purchase joined to the latest click by
    * the same user at-or-before the purchase time (null when no prior
    * click) — the classic last-touch attribution join.
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value_cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), unix_millis(col("ts")).as("click_ts_ms"))
    AsOfJoin.asOf(purchases, clicks, keys = Seq("user_id"),
        tsCol = "ts", tieCol = "event_id", payload = Seq("click_id", "click_ts_ms"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value_cents"),
        col("asof_click_id"), col("asof_click_ts_ms"))
  }

  /** BOUNDED-LOOKBACK attribution — the production form of last-touch:
    * each purchase attributes to the latest click within the trailing
    * 24 h window, NULL when the last click is older (or absent). The
    * unbounded [[asofAttribution]] plus one row-local window cutoff —
    * no extra exchange; the bound is also exactly what makes the
    * operator streamable with finite state (see
    * [[attribution24hStream]]).
    */
  def attribution24h(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 24L * 3600L * 1000000L
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value_cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), unix_micros(col("ts")).as("click_tu"))
    val inWindow = col("asof_click_tu").isNotNull &&
      col("asof_click_tu") >= unix_micros(col("ts")) - winUs
    AsOfJoin.asOf(purchases, clicks, keys = Seq("user_id"),
        tsCol = "ts", tieCol = "event_id", payload = Seq("click_id", "click_tu"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value_cents"),
        when(inWindow, col("asof_click_id")).as("attr_click_id"),
        when(inWindow, expr("asof_click_tu div 1000")).as("attr_click_ts_ms"))
  }

  /** [[attribution24h]] as a REAL stream-stream LEFT OUTER interval
    * join ([[graft.streaming.StreamJoin.intervalJoinBounds]] with
    * lookback lo = −24 h): matched (purchase, click) pairs emit on
    * match; a purchase with NO click in its window emits null-padded
    * once the click-side watermark passes `p_ts` — the streaming
    * "didn't convert from a touchpoint" decision, impossible without
    * the explicit bound (it is also what lets Spark evict both
    * buffers). The fold keeps the latest (click_tu, click_id) per
    * purchase, matching the batch tie rule. Two far-future sentinel
    * events (one per side, user −1) flush the final outer rows;
    * event-time-tercile feed keeps every matchable row in state, so
    * stream ≡ batch exactly and the gate shares `q_attribution_24h`'s
    * oracle.
    */
  private val temporalJoinCache = new graft.FpMemo.TempRoots("graft_temporal_gate")

  /** ONE AvailableNow stream runs all THREE temporal stateful
    * operators — the attribution leftOuter interval join, the range
    * join, and (round 15) the 30-minute session window — as a tagged
    * UNION (Spark's multiple-stateful-operator support), cached per
    * corpus fingerprint: each gate used to pay its own full
    * micro-batch harness (~4-5 s each at bench scale) for the same
    * feed. A sentinel row per event TYPE sits in the final batch so
    * every side's watermark advances past the horizon (the global
    * min-watermark policy would otherwise let the error side hold
    * back the attribution join's null flush); the same sentinels are
    * the session branch's flush rows. The sentinel purchase and error
    * share an instant and a user, so the range join emits one
    * sentinel pair and the sentinel user one session — every
    * read-back filters `user_id >= 0`.
    */
  private def temporalJoinsOut(spark: SparkSession, dir: String): String =
    temporalJoinCache.root(spark, dir) { tmp =>
      val winUs = 24L * 3600L * 1000000L
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value_cents"))
      val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val cuts = Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val tu = unix_micros(col("ts"))
      def sentinel(tpe: String, id: Long) = ev.sparkSession.range(1).select(
        lit(id).as("event_id"), lit(-1L).as("user_id"),
        timestamp_micros(lit(hi + 2L * 86400L * 1000000L)).as("ts"),
        lit(tpe).as("event_type"), lit(0L).as("value_cents"))
      val feed = OlapQueries.fileFeedDir(Seq(
        ev.filter(tu <= cuts(0)),
        ev.filter(tu > cuts(0) && tu <= cuts(1)),
        ev.filter(tu > cuts(1)),
        sentinel("purchase", -10L).unionByName(sentinel("click", -11L))
          .unionByName(sentinel("error", -12L))), tmp)
      def srcOf() = OlapQueries.fileFeedSource(spark, feed, ev.schema)
      val purchases = srcOf().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("value_cents"))
      val clicks = srcOf().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      val attrJoined = graft.streaming.StreamJoin.intervalJoinBounds(
        purchases, clicks, keys = Seq("user_id"),
        leftTs = "p_ts", rightTs = "c_ts",
        loUs = -winUs, hiUs = 0L, watermarkDelay = "10 seconds",
        joinType = "leftOuter")
      val rjPurchases = srcOf().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val errors = srcOf().filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("e_ts"))
      val rjJoined = graft.streaming.StreamJoin.intervalJoin(
        rjPurchases, errors, keys = Seq("user_id"),
        leftTs = "p_ts", rightTs = "e_ts", hi = "6 hours",
        watermarkDelay = "10 seconds")
      // third stateful branch in the SAME run (round 15): the session
      // window — it was the suite's single most expensive gate solely
      // because it paid its own stream harness for the same tercile
      // feed. The type sentinels double as its flush rows (user −1's
      // own session filters out at read-back).
      val sessions = graft.ops.Sessionize.sessions(
        srcOf().select(col("user_id"), col("ts"), col("value_cents"))
          .withWatermark("ts", "10 seconds"),
        keyCol = "user_id", tsCol = "ts", gap = "30 minutes",
        valueCol = "value_cents")
      def padL(c: String) = lit(null).cast("long").as(c)
      val sessPads = Seq(padL("session_start_ms"), padL("session_end_ms"),
        padL("n_events"), padL("sum_value_cents"))
      val both = attrJoined
        .select(Seq(lit("attr").as("tag"), col("purchase_id"), col("user_id"),
          col("p_ts"), col("value_cents"), col("click_id"), col("c_ts"),
          lit(null).cast("long").as("error_id"),
          lit(null).cast("timestamp").as("e_ts")) ++ sessPads: _*)
        .unionByName(rjJoined
          .select(Seq(lit("rjoin").as("tag"), col("purchase_id"), col("user_id"),
            col("p_ts"), lit(null).cast("long").as("value_cents"),
            lit(null).cast("long").as("click_id"),
            lit(null).cast("timestamp").as("c_ts"),
            col("error_id"), col("e_ts")) ++ sessPads: _*))
        .unionByName(sessions
          .select(lit("sess").as("tag"), padL("purchase_id"), col("user_id"),
            lit(null).cast("timestamp").as("p_ts"), padL("value_cents"),
            padL("click_id"), lit(null).cast("timestamp").as("c_ts"),
            padL("error_id"), lit(null).cast("timestamp").as("e_ts"),
            col("session_start_ms"), col("session_end_ms"),
            col("n_events"), col("sum_value_cents")))
      val out = s"$tmp/out"
      OlapQueries.withGateStreamConf(spark) {
        val q = graft.streaming.StreamRunner.start(both, s"$tmp/ckpt",
            org.apache.spark.sql.streaming.Trigger.AvailableNow()) { (b, id) =>
          graft.streaming.StreamingPipeline.writeBatchIdempotent(b, id, out)
        }
        try q.awaitTermination() finally q.stop()
      }
    } + "/out"

  def attribution24hStream(spark: SparkSession, dir: String): DataFrame = {
    val out = temporalJoinsOut(spark, dir)
    // latest (c_ts, click_id) per purchase — the batch tie rule; a
    // purchase whose only row is null-padded stays null
    spark.read.parquet(out)
      .filter(col("tag") === "attr" && col("user_id") >= 0L)
      .groupBy(col("purchase_id"), col("user_id"),
        col("p_ts"), col("value_cents"))
      .agg(max_by(struct(col("click_id"), unix_micros(col("c_ts")).as("ctu")),
        struct(unix_micros(col("c_ts")), col("click_id"))).as("best"))
      .select(col("purchase_id").as("event_id"), col("user_id"),
        unix_millis(col("p_ts")).as("ts_ms"), col("value_cents"),
        col("best.click_id").as("attr_click_id"),
        expr("best.ctu div 1000").as("attr_click_ts_ms"))
  }

  /** Range join: (purchase, error) pairs for the same user with the
    * error inside [purchase_ts, purchase_ts + 6h] — bucketized to an
    * equi-join, never a cartesian.
    */
  def rangeJoinErrors(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
    AsOfJoin.rangeJoin(purchases, errors, keys = Seq("user_id"),
        leftTs = "p_ts", rightTs = "e_ts",
        loUs = 0L, hiUs = 6L * 3600 * 1000000)
      .select(col("purchase_id"), col("user_id"), col("error_id"),
        unix_millis(col("p_ts")).as("p_ts_ms"),
        unix_millis(col("e_ts")).as("e_ts_ms"))
  }

  /** Per-user sessions with a 30-minute inactivity gap (native
    * `session_window` — the identical operator runs in Structured
    * Streaming; see StreamingVariantsSpec).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(Tables.events(spark, dir),
      keyCol = "user_id", tsCol = "ts", gap = "30 minutes",
      valueCol = "value_cents")

  /** [[sessionize]] through a REAL Structured Streaming run — the
    * SAME `Sessionize.sessions` call over the shared event-time-
    * tercile file feed under a 10 s watermark, append mode. The
    * far-future type sentinels (user −1) advance the global watermark
    * past every session end so append mode finalizes all sessions
    * (the standard flush pattern); the sentinel's own session is
    * filtered out. Tercile batches are event-time ordered ACROSS
    * batches, so the watermark never drops an in-contract row and
    * stream-final ≡ batch exactly — the gate shares `q_sessionize`'s
    * oracle verbatim. This is W3/W5's Flink-style session window
    * driven end-to-end, not just spec-pinned.
    */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame =
    // the sess leg of the SHARED temporal run (see [[temporalJoinsOut]]
    // — round 15 folded this gate's harness in as the run's third
    // stateful operator); the user filter drops the sentinel session
    spark.read.parquet(temporalJoinsOut(spark, dir))
      .filter(col("tag") === "sess" && col("user_id") >= 0L)
      .select("user_id", "session_start_ms", "session_end_ms",
        "n_events", "sum_value_cents")

  /** [[rangeJoinErrors]] as a REAL stream-stream interval join
    * ([[graft.streaming.StreamJoin.intervalJoin]]) — purchases and
    * errors read as two independent file-source streams over the
    * same event-time-tercile feed, joined on user with
    * `e_ts ∈ [p_ts, p_ts + 6h]` under a 10 s watermark. Inner
    * interval joins emit on match (no flush sentinel needed); the
    * range condition is what lets Spark EVICT buffered state once
    * the other side's watermark passes `ts + hi` — the operator's
    * whole 100 TB story — and the tercile feed guarantees an evicted
    * left row can no longer match (later errors sit beyond its 6 h
    * window), so stream ≡ batch exactly and the gate shares
    * `q_range_join`'s oracle.
    */
  def rangeJoinStream(spark: SparkSession, dir: String): DataFrame =
    // the rjoin leg of the SHARED temporal-joins run (see
    // [[temporalJoinsOut]]); the user filter drops the sentinel pair
    spark.read.parquet(temporalJoinsOut(spark, dir))
      .filter(col("tag") === "rjoin" && col("user_id") >= 0L)
      .select(col("purchase_id"), col("user_id"), col("error_id"),
        unix_millis(col("p_ts")).as("p_ts_ms"),
        unix_millis(col("e_ts")).as("e_ts_ms"))

  val queries: Map[String, QFn] = Map(
    "q_asof_attribution" -> (asofAttribution _),
    "q_attribution_24h" -> (attribution24h _),
    "q_attribution_24h_stream" -> (attribution24hStream _),
    "q_range_join" -> (rangeJoinErrors _),
    "q_range_join_stream" -> (rangeJoinStream _),
    "q_sessionize" -> (sessionize _),
    "q_sessionize_stream" -> (sessionizeStream _),
  )

  private val cents = "CAST(round(value*100) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    // same union-merge: right rows (side 0) sort before left rows
    // (side 1) at equal µs ts, so a click AT the purchase instant is
    // visible; ties among clicks resolve to max event_id.
    "q_asof_attribution" ->
      s"""WITH cp AS (
         |  SELECT user_id, epoch_us(ts) AS tu, event_id, $cents AS cents,
         |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |w AS (
         |  SELECT *,
         |    last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
         |      OVER win AS click_id,
         |    last_value(CASE WHEN side = 0 THEN tu END IGNORE NULLS)
         |      OVER win AS click_tu
         |  FROM cp
         |  WINDOW win AS (PARTITION BY user_id ORDER BY tu, side, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, CAST(tu // 1000 AS BIGINT) AS ts_ms,
         |  cents AS value_cents, click_id AS asof_click_id,
         |  CAST(click_tu // 1000 AS BIGINT) AS asof_click_ts_ms
         |FROM w WHERE side = 1""".stripMargin,
    // latest click within the trailing 24 h, else NULL; both the
    // batch cutoff and the streamed outer-join fold share it
    "q_attribution_24h" -> attributionWindowOracle,
    "q_attribution_24h_stream" -> attributionWindowOracle,
    "q_range_join" -> rangeJoinOracle,
    // stream-final ≡ batch: inner interval join emits on match, the
    // tercile feed keeps every matchable left row in state; same oracle
    "q_range_join_stream" -> rangeJoinOracle,
    // gap rule == session_window merge rule: only diff > gap starts a
    // new session (an event exactly at the previous window's end is
    // merged); session_end = last event ts + gap (ms floor of µs).
    "q_sessionize" -> sessionizeOracle,
    // stream-final ≡ batch: the tercile feed never crosses the
    // watermark and the sentinel flushes every session, so the
    // streamed run rebuilds the identical session set
    "q_sessionize_stream" -> sessionizeOracle,
  )

  private def attributionWindowOracle: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tu,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, event_id AS cid, epoch_us(ts) AS ctu
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.event_id, p.user_id, p.tu, p.cents, c.cid, c.ctu,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ctu DESC NULLS LAST, c.cid DESC NULLS LAST) AS rn
      |  FROM p LEFT JOIN c ON p.user_id = c.user_id
      |    AND c.ctu <= p.tu AND c.ctu >= p.tu - 86400000000)
      |SELECT event_id, user_id, CAST(tu // 1000 AS BIGINT) AS ts_ms,
      |  cents AS value_cents, cid AS attr_click_id,
      |  CAST(ctu // 1000 AS BIGINT) AS attr_click_ts_ms
      |FROM j WHERE rn = 1""".stripMargin

  private def rangeJoinOracle: String =
    """SELECT p.event_id AS purchase_id, p.user_id, e.event_id AS error_id,
      |  CAST(epoch_us(p.ts) // 1000 AS BIGINT) AS p_ts_ms,
      |  CAST(epoch_us(e.ts) // 1000 AS BIGINT) AS e_ts_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON p.user_id = e.user_id
      | AND epoch_us(e.ts) >= epoch_us(p.ts)
      | AND epoch_us(e.ts) <= epoch_us(p.ts) + 21600000000""".stripMargin

  private def sessionizeOracle: String =
    s"""WITH m AS (
       |  SELECT user_id, epoch_us(ts) AS tu, $cents AS cents,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
       |         THEN 1 ELSE 0 END AS ns
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
       |s AS (
       |  SELECT user_id, tu, cents,
       |    SUM(ns) OVER (PARTITION BY user_id ORDER BY tu
       |                  ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)
       |SELECT user_id,
       |  CAST(min(tu) // 1000 AS BIGINT) AS session_start_ms,
       |  CAST(max(tu) // 1000 + 1800000 AS BIGINT) AS session_end_ms,
       |  count(*) AS n_events,
       |  CAST(SUM(cents) AS BIGINT) AS sum_value_cents
       |FROM s GROUP BY user_id, sid""".stripMargin
}

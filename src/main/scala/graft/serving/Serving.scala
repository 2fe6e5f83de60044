package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.ops.{NearDup, TopK}
import graft.streaming.Merge
import graft.tables.TableManager

/** Materialized serving layer — the Spark analog of the reference's
  * Pinot tables (restaurant_topk / global_topk, QueryService.kt:43-129).
  *
  * Pinot answers its 10-100 ms lookups from precomputed, sorted,
  * indexed segments; recomputing the whole rollup→rank pipeline from
  * raw events per query (as the round-1 lookup entries did) is the
  * wrong architecture at any scale. This module materializes the
  * ranked tables ONCE per dataset via [[TableManager.writePartitioned]]
  * (date-partitioned, sorted by (window, rank) for row-group pruning,
  * bloom-filtered on user_id for point lookups), and the serving
  * queries just read them — a single pruned parquet scan.
  *
  * Two ranked layouts, mirroring the reference's two query paths:
  *  - `topk_by_count`   — per-window rank by order count
  *    (calculateTopKPerRestaurant ordering, KafkaConsumerTopKJob.kt:243-272);
  *  - `topk_by_revenue` — per-window rank by revenue
  *    (the revenue path, QueryService.kt:99-129).
  * Plus `meta`: one row carrying max event ts, the anchor for the
  * API's now-relative defaults on static data.
  *
  * Freshness: the cache key fingerprints the source parquet (path,
  * bytes, mtime), so a regenerated dataset materializes fresh tables
  * instead of serving stale ones. In production this refresh is the
  * streaming pipeline's `foreachBatch` sink; here it is lazy-on-first
  * -query, which doubles as the Bench cold/warm split.
  */
object Serving {

  /** Ranks materialized per window — serves any query k <= K. */
  val K = 10

  val hourMs: Long = 3600L * 1000L

  /** Hourly per-user aggregate — the grain the global tables share. */
  def hourlyUserAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("total_cents"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("user_id"), col("order_count"), col("total_cents"))

  /** 1-minute keyed rollup at the serving grain — the materialized
    * orders_1m_rollup analog (orders_1m_rollup_table.json): only the
    * MERGEABLE measures (count, sum) live in this state so an
    * incremental refresh is a deterministic re-sum; distinct-user
    * measures derive from [[minuteUsers]] (exact) or a query-time
    * sketch over it (HLL is insensitive to duplicates, so sketches
    * built from the distinct state equal sketches built from raw
    * rows). Time-part dims re-derive from window_start_ms at read.
    */
  def minuteRollupAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("sum_value_cents"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("order_count"), col("sum_value_cents"))

  /** Minute-grain distinct-user state: one row per (window,
    * event_type, user) ever seen — the upsert-dim state that makes
    * exact COUNT(DISTINCT) serveable without rescanning raw events,
    * and merge-stable under refresh (union + distinct).
    */
  def minuteUsers(events: DataFrame): DataFrame =
    events.select(
        unix_millis(date_trunc("minute", col("ts"))).as("window_start_ms"),
        col("event_type"), col("user_id"))
      .distinct()

  /** Fixed-bin width of the value histogram state, in cents: 1-dollar
    * bins over non-negative integer cents. Equi-width (not equi-depth)
    * because the bin boundaries must be DATA-INDEPENDENT for the state
    * to merge associatively across refreshes and re-aggregate across
    * arbitrary window filters — the property KLL/t-digest give up
    * (their merges are order-sensitive, which would make refresh
    * nondeterministic under Spark's shuffle order).
    */
  val histBinCents = 100L

  /** Minute-grain value-histogram state: (window, event_type, bin) →
    * count — the mergeable quantile sketch backing served percentiles
    * (Pinot PercentileEst / star-tree measure analog). Counts are
    * additive, so incremental refresh is the same union + re-sum as
    * [[minuteRollupAgg]], and any window filter re-aggregates to the
    * EXACT histogram a raw rescan would build — the percentile read
    * path is gate-checked bit-for-bit, not in-tolerance. State is
    * bounded by windows x types x occupied bins (values are bounded
    * by the domain, not the row count), so it scales like the rollup
    * table, not like raw data.
    */
  def minuteValueHist(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 minute").as("w"),
        col("event_type"),
        // value_cents >= 0 here; integer DIV is then a floor, matching
        // the oracle's `//`
        expr(s"value_cents DIV $histBinCents").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("bin"), col("cnt"))

  /** Minute-grain EXACT value histogram: (window, event_type,
    * value_cents) → count — the arbitrary-p quantile state. Where
    * [[minuteValueHist]] trades resolution for a hard state bound
    * (fixed $1 bins: bounded however wild the domain, estimates to
    * bin edges), this keeps one row per OCCUPIED value, so any
    * quantile(p) over any window range is EXACT — no bin-resolution
    * cliff — while staying additive/mergeable (counts re-sum) and
    * refresh==rebuild-stable. State bound: windows × types ×
    * distinct values — domain-bounded (money values repeat heavily),
    * NOT row-bounded; for genuinely unbounded-domain metrics the
    * fixed-bin table is the right state and this one is the exact
    * complement. Both serve, callers pick the trade.
    */
  def minuteValueVals(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 minute").as("w"),
        col("event_type"), col("value_cents"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("value_cents"), col("cnt"))

  /** Number of linear sub-buckets per power-of-2 octave in the
    * log-histogram state: 16 → worst-case relative error 1/16 =
    * 6.25% (the estimate is the bucket's lower edge; the true value
    * is below the next edge, one sixteenth of an octave up).
    */
  val logHistSubBuckets = 16L

  /** Bucket id of a non-negative value in the integer log histogram:
    * values below 16 map to themselves (exact small-value regime);
    * v >= 16 maps to octave b = floor(log2 v) and linear sub-bucket
    * v >> (b-4) ∈ [16, 32), packed monotonically as (b-4)*16 + sub.
    * floor(log2) is `length(bin(v)) - 1` — pure integer/string ops
    * that Spark and DuckDB evaluate identically (no float log at
    * bucket boundaries, the cross-engine hazard of a gamma-based
    * DDSketch).
    */
  def logBucket(v: Column): Column = {
    val b = (length(bin(v)) - 1).cast("long")
    val sub = call_function("shiftright", v, (b - 4L).cast("int"))
    when(v < logHistSubBuckets, v)
      .otherwise((b - 4L) * logHistSubBuckets + sub)
  }

  /** Lower edge of a log-histogram bucket — the quantile estimate. */
  def logBucketEdge(bucket: Column): Column = {
    val oct = (bucket / logHistSubBuckets).cast("long") // 1 for b=4, 2 for b=5, …
    val edge = (bucket - (oct - 1L) * logHistSubBuckets) *
      call_function("shiftleft", lit(1L), (oct - 1L).cast("int"))
    when(bucket < logHistSubBuckets, bucket).otherwise(edge)
  }

  /** Minute-grain INTEGER LOG-HISTOGRAM state — the DDSketch shape
    * (Masson et al., VLDB'19) with power-of-2 octaves and 16 linear
    * sub-buckets: (window, event_type, lbucket) → count. This is the
    * third point of the quantile-state matrix:
    *
    *  - `rollup_1m_hist` — fixed $1 bins: hard-bounded state,
    *    ABSOLUTE-error estimates, fails on wild domains;
    *  - `rollup_1m_vals` — exact values: exact any-p, state bounded
    *    by the value DOMAIN, fails on unbounded domains;
    *  - this — RELATIVE-error (≤6.25%) any-p with state hard-bounded
    *    at ~16 buckets per octave (≤ ~960 per (window, type) for the
    *    full long range) whatever the domain — latencies, byte
    *    sizes, token counts.
    *
    * Counts are additive, so merges are associative/commutative and
    * refresh == rebuild exactly — the determinism KLL/t-digest give
    * up (their merges are order-sensitive). Bucketing is pure
    * integer math, so the served estimates hash-check against a
    * DuckDB mirror bit-for-bit.
    */
  def minuteValueLogHist(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 minute").as("w"),
        col("event_type"), logBucket(col("value_cents")).as("lbucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("lbucket"), col("cnt"))

  /** Day-grain count-min sketch state: (day window, hash-row i,
    * bucket) → collision-summed count — the materialized twin of the
    * query-time CM sketch ([[graft.queries.SketchQueries.freqCm]]).
    * Counts are additive, so incremental refresh is the same
    * union + re-sum as [[minuteRollupAgg]], and the global sketch any
    * frequency query wants is SUM over the day rows per (i, bucket) —
    * exactly equal to a sketch built from raw events in one pass.
    * State is bounded at d·w rows per day regardless of row count.
    */
  def dailyCmSketch(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("user_id"), graft.functions.CmSketch.rows)
      .withColumn("bucket", graft.functions.CmSketch.bucket(col("i"), col("user_id")))
      .groupBy(date_trunc("day", col("ts")).as("d"), col("i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(unix_millis(col("d")).as("window_start_ms"),
        col("i"), col("bucket"), col("c"))

  /** DAY-GRAIN per-event-type KMV distinct-user sketches — the
    * materialized twin of the query-time theta sketches
    * ([[graft.queries.SketchQueries.distinctKmv]]), carried per day
    * the way a Pinot rollup table carries a sketch column per time
    * bucket. KMV merge is EXACT (k smallest distinct hashes: a hash
    * evicted from a partial sketch can never re-enter the merged
    * top-k), so any day range re-merges to bit-exactly the sketch a
    * direct pass over those days' raw rows would build — global and
    * time-windowed set-expression queries both serve from this one
    * table, and refresh == rebuild holds per touched date partition.
    * Bounded: one k-long array per (day, type).
    */
  def kmvDailySketches(events: DataFrame): DataFrame = {
    import graft.functions.KmvSketch
    events
      .select(date_trunc("day", col("ts")).as("d"), col("event_type"),
        KmvSketch.keyHash(col("user_id")).as("h"))
      .groupBy(col("d"), col("event_type"))
      .agg(KmvSketch.kmv(col("h"), KmvSketch.DefaultK).as("sk"))
      .select(unix_millis(col("d")).as("window_start_ms"),
        col("event_type"), col("sk"))
  }

  /** DAY-GRAIN per-event-type TUPLE sketches (KMV hashes + exact
    * per-user cents sums, [[graft.functions.TupleSketch]]) — the
    * materialized twin of the query-time tuple sketch
    * ([[graft.queries.SketchQueries.distinctTuple]]). Day re-merge is
    * exact by the same eviction argument as KMV, PLUS summary
    * exactness: a day's globally-retained hash is retained in that
    * day's sketch (day θ ≥ global θ), so its full day sum is carried
    * and equal hashes sum across days — any day range re-merges to
    * bit-exactly the direct one-pass sketch. Bounded: two k-long
    * arrays per (day, type).
    */
  def dailyTupleSketches(events: DataFrame): DataFrame = {
    import graft.functions.{KmvSketch, TupleSketch}
    events
      .select(date_trunc("day", col("ts")).as("d"), col("event_type"),
        KmvSketch.keyHash(col("user_id")).as("h"), col("value_cents").as("v"))
      .groupBy(col("d"), col("event_type"))
      .agg(TupleSketch.tupleSk(col("h"), col("v"), KmvSketch.DefaultK).as("sk"))
      .select(unix_millis(col("d")).as("window_start_ms"),
        col("event_type"), col("sk"))
  }

  /** DAY-GRAIN per-event-type EXACT distinct-user bitmaps
    * ([[graft.functions.BitmapDistinct]]) — the exact sibling of
    * [[kmvDailySketches]] and the Pinot DISTINCTCOUNTBITMAP column
    * analog. Bitmap merge is bitwise OR (associative, commutative,
    * idempotent), so any day/type range re-merges to EXACTLY the
    * bitmap a direct pass over those raw rows would build — distinct
    * counts served from this table carry no error bar at all, which
    * the HLL/KMV columns cannot promise. Bounded: state is linear in
    * the occupied user-id range per (day, type), the standard exact-
    * bitmap tradeoff for dictionary/surrogate keys.
    */
  def dailyBitmaps(events: DataFrame): DataFrame =
    events
      .select(date_trunc("day", col("ts")).as("d"), col("event_type"),
        col("user_id").cast("long").as("uid"))
      .groupBy(col("d"), col("event_type"))
      .agg(graft.functions.BitmapDistinct.bitmap(col("uid")).as("bm"))
      .select(unix_millis(col("d")).as("window_start_ms"),
        col("event_type"), col("bm"))

  /** MATERIALIZED partial-upsert profile state — Pinot's upsert
    * metadata analog: one merged row per key with each field's value
    * AND the order key of the row that set it, so an incremental
    * refresh can merge a new batch exactly like the one-shot build
    * (the stored row replays as three per-field pseudo-patches).
    * Every field uses the same "sets iff non-null, newest ord wins"
    * guard, making the merge associative, commutative, and
    * idempotent (re-applying a batch changes nothing). One row per
    * user — the served-profile bound itself.
    */
  def profileUpsertState(events: DataFrame): DataFrame =
    mergeProfilePatches(graft.ops.Dedup.profilePatches(events))

  private def mergeProfilePatches(p: DataFrame): DataFrame = {
    def setter(c: Column) = when(c.isNotNull, col("ord"))
    p.groupBy(col("user_id")).agg(
      max_by(col("typ"), setter(col("typ"))).as("last_type"),
      max(setter(col("typ"))).as("typ_ord"),
      max_by(col("purchase_cents"), setter(col("purchase_cents")))
        .as("last_purchase_cents"),
      max(setter(col("purchase_cents"))).as("pc_ord"),
      max_by(col("click_ms"), setter(col("click_ms"))).as("last_click_ms"),
      max(setter(col("click_ms"))).as("cm_ord"))
  }

  /** A stored profile row re-expressed as its per-field patches —
    * union with a batch's raw patches and re-merge == refresh.
    */
  private def profileAsPatches(stored: DataFrame): DataFrame = {
    val nullLong = lit(null).cast("long")
    stored.filter(col("typ_ord").isNotNull)
      .select(col("user_id"), col("typ_ord").as("ord"),
        col("last_type").as("typ"), nullLong.as("purchase_cents"),
        nullLong.as("click_ms"))
      .unionAll(stored.filter(col("pc_ord").isNotNull)
        .select(col("user_id"), col("pc_ord").as("ord"),
          lit(null).cast("string").as("typ"),
          col("last_purchase_cents").as("purchase_cents"),
          nullLong.as("click_ms")))
      .unionAll(stored.filter(col("cm_ord").isNotNull)
        .select(col("user_id"), col("cm_ord").as("ord"),
          lit(null).cast("string").as("typ"),
          nullLong.as("purchase_cents"),
          col("last_click_ms").as("click_ms")))
  }

  private def writeProfileState(root: String, prof: DataFrame): Unit =
    prof.sort(col("user_id"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .parquet(s"$root/profile_upsert")

  /** Hourly per-(restaurant, user) aggregate — the keyed tables'
    * grain (restaurant_topk analog; event_type plays restaurant_id).
    */
  def hourlyKeyedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("total_cents"))
      .select(
        unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("user_id"), col("order_count"), col("total_cents"))

  /** Serving root for a dataset, keyed by source-data fingerprint
    * (one listStatus call — see [[Tables.fingerprint]]).
    */
  def servingRoot(spark: SparkSession, dataDir: String): String = {
    val fp = Tables.fingerprint(spark, s"$dataDir/events.parquet")
    val key = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(fp))
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_serving/$key"
  }

  private sealed trait Table {
    def name: String
    def sortCols: Seq[String]
    /** Column of the parquet bloom filter the full build writes (the
      * partitions a refresh or an erase rewrites carry none).
      */
    def bloomCol: Option[String] = None
  }

  /** A date-partitioned state table: `build` aggregates events to the
    * table's grain, and `merge` re-aggregates rows of that grain (the
    * stored rows of the dates a batch touches, unioned with the
    * batch's built rows). Every merge is associative, so merging the
    * partials of any split of the events equals building from all of
    * them: the property that makes a refresh equal a rebuild.
    */
  private final case class StateTable(name: String, build: DataFrame => DataFrame,
      sortCols: Seq[String], merge: DataFrame => DataFrame) extends Table

  /** A ranked serving view: the top [[K]] of `source`'s rows per
    * `partition` key, by `order`. Derived, not merged: a write path
    * ranks the source rows it writes. The full-grain source is what
    * makes a refresh's re-rank correct: a user outside the stored
    * top-K can enter it after an increment.
    */
  private final case class RankedTable(name: String, source: StateTable,
      partition: Seq[String], order: Seq[Column], sortCols: Seq[String]) extends Table {
    override def bloomCol: Option[String] = Some("user_id")
    def rank(rows: DataFrame): DataFrame =
      TopK.topKPerKey(rows, partition, order, K).withColumn("rank", col("rank").cast("long"))
  }

  /** Sum each measure per key, every other column being the key; with
    * no measure, the distinct rows (set-valued state).
    */
  private def summed(measures: String*): DataFrame => DataFrame = rows =>
    Merge.frame(rows, rows.columns.toSeq.filterNot(measures.contains), measures.map(Merge.Sum))

  // KMV merge per day: explode the day sketches back to hashes and
  // re-sketch — exact (an evicted hash can never re-enter the merged
  // bottom-k), so refresh == rebuild bit-for-bit per date partition
  private def kmvMerge(rows: DataFrame): DataFrame = {
    import graft.functions.KmvSketch
    rows.select(col("window_start_ms"), col("event_type"), explode(col("sk")).as("h"))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(KmvSketch.kmv(col("h"), KmvSketch.DefaultK).as("sk"))
  }

  // tuple sketches re-merge the same way, the (hash, sum) pairs
  // exploded so equal hashes sum — exact per the day-merge argument
  // on [[dailyTupleSketches]]
  private def tupleMerge(rows: DataFrame): DataFrame = {
    import graft.functions.{KmvSketch, TupleSketch}
    rows.select(col("window_start_ms"), col("event_type"),
        explode(arrays_zip(col("sk.hs"), col("sk.vs"))).as("e"))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(TupleSketch.tupleSk(col("e.hs"), col("e.vs"), KmvSketch.DefaultK).as("sk"))
  }

  // bitmap merge per day: OR — associative, commutative and
  // IDEMPOTENT, so re-applying rows changes nothing
  private def bitmapMerge(rows: DataFrame): DataFrame =
    rows.groupBy(col("window_start_ms"), col("event_type"))
      .agg(graft.functions.BitmapDistinct.bitmapMerge(col("bm")).as("bm"))

  private val userAgg = StateTable("agg_by_window", hourlyUserAgg,
    Seq("window_start_ms", "user_id"), summed("order_count", "total_cents"))
  private val keyedAgg = StateTable("agg_keyed_by_window", hourlyKeyedAgg,
    Seq("event_type", "window_start_ms", "user_id"), summed("order_count", "total_cents"))

  /** The date-partitioned state tables: the serving layout's one
    * declaration of them, which every write path folds over.
    */
  private val stateTables: Seq[StateTable] = Seq(userAgg, keyedAgg,
    StateTable("rollup_1m", minuteRollupAgg,
      Seq("event_type", "window_start_ms"), summed("order_count", "sum_value_cents")),
    StateTable("rollup_1m_users", minuteUsers,
      Seq("event_type", "window_start_ms", "user_id"), summed()),
    StateTable("rollup_1m_hist", minuteValueHist,
      Seq("event_type", "window_start_ms", "bin"), summed("cnt")),
    StateTable("rollup_1m_vals", minuteValueVals,
      Seq("event_type", "window_start_ms", "value_cents"), summed("cnt")),
    StateTable("rollup_1m_loghist", minuteValueLogHist,
      Seq("event_type", "window_start_ms", "lbucket"), summed("cnt")),
    StateTable("cm_daily", dailyCmSketch, Seq("i", "bucket"), summed("c")),
    StateTable("kmv_daily", kmvDailySketches, Seq("event_type", "window_start_ms"), kmvMerge),
    StateTable("tuple_daily", dailyTupleSketches,
      Seq("event_type", "window_start_ms"), tupleMerge),
    StateTable("bitmap_daily", dailyBitmaps, Seq("event_type", "window_start_ms"), bitmapMerge))

  private val countOrder = Seq(col("order_count").desc, col("total_cents").desc, col("user_id").asc)
  private val revenueOrder = Seq(col("total_cents").desc, col("order_count").desc, col("user_id").asc)
  private val globalSort = Seq("window_start_ms", "rank")
  // keyed tables sort restaurant-first so a one-restaurant query
  // prunes row groups on the dominant predicate.
  private val keyedSort = Seq("event_type", "window_start_ms", "rank")

  /** The ranked serving views, the reference's two query paths each
    * global and per restaurant.
    */
  private val rankedTables: Seq[RankedTable] = Seq(
    RankedTable("topk_by_count", userAgg, Seq("window_start_ms"), countOrder, globalSort),
    RankedTable("topk_by_revenue", userAgg, Seq("window_start_ms"), revenueOrder, globalSort),
    RankedTable("topk_keyed_by_count", keyedAgg,
      Seq("window_start_ms", "event_type"), countOrder, keyedSort),
    RankedTable("topk_keyed_by_revenue", keyedAgg,
      Seq("window_start_ms", "event_type"), revenueOrder, keyedSort))

  /** The state tables a ranking reads: each feeds its own table and
    * two rankings, so a write path persists its rows.
    */
  private val rankSources: Seq[StateTable] = rankedTables.map(_.source).distinct

  /** Each state table's rows from `rows`, persisted for [[rankSources]]. */
  private def stateRows(rows: StateTable => DataFrame): Map[StateTable, DataFrame] =
    stateTables.map { t =>
      t -> (if (rankSources.contains(t)) rows(t).persist(StorageLevel.MEMORY_AND_DISK)
        else rows(t))
    }.toMap

  /** Every date-partitioned table with its rows, state tables first:
    * `state` holds each state table's rows, and each ranked table
    * ranks its source's. Rows carry `w_ts`, the window start their
    * `p_date` partition derives from.
    */
  private def layout(state: Map[StateTable, DataFrame]): Seq[(Table, DataFrame)] =
    (stateTables.map(t => t -> state(t)) ++
      rankedTables.map(r => r -> r.rank(state(r.source))))
      .map { case (t, rows) => t -> rows.withColumn("w_ts", timestamp_millis(col("window_start_ms"))) }

  /** The p_dates of every grain's rows built from `events`: for each
    * event's epoch-aligned hour window, the local date of its start
    * and of its last millisecond. One date per grain is not enough:
    * minute windows inside an hour window can land on the NEXT local
    * date in fractional-offset session timezones (+05:30: hour start
    * 23:30 local, minutes past 00:00), and a local-hour truncation of
    * the event misses the hour window's own date. An extra date only
    * widens a read-back, rewritten unchanged.
    */
  private def dateCover(events: DataFrame): Seq[String] =
    events.select(unix_millis(window(col("ts"), "1 hour").getField("start")).as("w"))
      .select(explode(array(
        to_date(timestamp_millis(col("w"))),
        to_date(timestamp_millis(col("w") + lit(3599999L))))).as("p_date"))
      .distinct().collect().map(_.getDate(0).toString).toSeq

  /** Meta row: the now-anchor (max event ts) + the last applied
    * refresh batch id (-1 = built by batch rebuild; see
    * [[refreshWithBatch]]'s replay guard) + the erase generation —
    * bumped by every [[eraseUser]], so the row changes on every
    * content change, even an erase that moves neither the max ts nor
    * the batch id. (Mirrors of the routed tables follow the root's
    * [[RootCache]] token, not this row.)
    */
  private def writeMeta(spark: SparkSession, root: String, maxTsMs: Long,
      lastBatchId: Long, eraseGen: Long = 0L): Unit =
    spark.range(1)
      .select(lit(maxTsMs).as("max_ts_ms"), lit(lastBatchId).as("last_batch_id"),
        lit(eraseGen).as("erase_gen"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")

  private def readMeta(spark: SparkSession, root: String): (Long, Long, Long) = {
    val df = spark.read.parquet(s"$root/meta")
    val row = df.head()
    // roots written before the erase-generation column default to 0
    val gen = if (df.columns.contains("erase_gen"))
      row.getAs[Long]("erase_gen") else 0L
    (row.getAs[Long]("max_ts_ms"), row.getAs[Long]("last_batch_id"), gen)
  }

  /** The meta row: (max event ts, last applied batch id, erase
    * generation). A [[RootCache]] slot, so the now-anchor
    * ([[anchorMs]]) costs no meta-read job between refreshes.
    */
  private[graft] def metaStamp(spark: SparkSession, root: String): (Long, Long, Long) =
    RootCache.get(spark, root, "stamp")(readMeta(spark, root))

  val allTables: Seq[String] =
    (stateTables ++ rankedTables).map(_.name) ++ Seq("profile_upsert", "meta")

  /** Full build of the serving layout at `root` from an events frame
    * (batch path; the streaming path refreshes incrementally via
    * [[refreshWithBatch]]): every table of the declaration
    * ([[stateTables]], [[rankedTables]]) from its builder, then the
    * profile state and `meta`. The full-grain state tables are what
    * make incremental rank refresh possible — they are the Pinot
    * rollup-table analog; the ranked tables are its serving views.
    */
  def materializeInto(spark: SparkSession, root: String,
      events: DataFrame): Unit = Lease.withLease(spark, root, "materialize") {
    val maxRow = events.agg(unix_millis(max(col("ts"))).as("max_ts_ms")).head()
    require(!maxRow.isNullAt(0),
      s"cannot materialize serving tables at $root from an empty events frame")
    val state = stateRows(_.build(events))
    try {
      // fence (the Lease.renew displaced-writer discipline): this
      // write body runs under the lease but outside EraseStage's
      // per-leg renews — a holder paused past its TTL and taken over
      // must not rebuild the layout against the new owner
      Lease.renew(spark, root)
      // generation token moves before the write ([[RootCache]]): a
      // FOREIGN process's cached frames re-probe it on a TTL, so this
      // rebuild becomes visible there without a restart
      RootCache.bumpToken(spark, root)
      layout(state).foreach { case (t, rows) =>
        TableManager.writePartitioned(rows, s"$root/${t.name}", tsCol = "w_ts",
          sortCols = t.sortCols, bloomCol = t.bloomCol)
      }
      writeProfileState(root, profileUpsertState(events))
      writeMeta(spark, root, maxRow.getLong(0), -1L)
    } finally {
      rankSources.foreach(state(_).unpersist())
      RootCache.invalidate(spark, root)
    }
  }

  // Roots whose on-disk layout this JVM has already verified — skips
  // the per-query 7×_SUCCESS existence round-trips (Pinot brokers
  // likewise cache segment routing metadata rather than re-listing
  // segments per query). Keyed by root, which is itself a source-data
  // fingerprint, so a regenerated dataset misses this cache and
  // rebuilds.
  private val verifiedRoots = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Build the serving tables if absent; return the serving root. */
  def materialize(spark: SparkSession, dataDir: String): String = {
    graft.tables.LocalFs.install(spark)
    val root = servingRoot(spark, dataDir)
    if (verifiedRoots.contains(root)) root
    else this.synchronized {
      if (!verifiedRoots.contains(root)) {
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!allTables.forall(t => fs.exists(new Path(s"$root/$t/_SUCCESS"))))
          materializeInto(spark, root, Tables.events(spark, dataDir))
        verifiedRoots.put(root, true)
      }
      root
    }
  }

  /** Incremental refresh from a (deduped) event micro-batch — the
    * `foreachBatch` serving-freshness path. Only the date partitions
    * the batch touches are rewritten: for each state table of the
    * declaration ([[stateTables]]), the stored rows of those dates
    * unioned with the batch's built rows, re-aggregated by the
    * table's merge; then each ranked table ([[rankedTables]])
    * re-ranked from its merged source, the profile state, and `meta`.
    * The merges are associative, so increments compose and a refresh
    * equals a rebuild.
    *
    * Exactly-once: `batchId` (pass the foreachBatch batch id) is
    * recorded in `meta` after a successful refresh, and a batch whose
    * id is <= the recorded one is SKIPPED — so the at-least-once
    * replay Structured Streaming performs after a restart (re-running
    * the last completed batch whose checkpoint commit didn't land)
    * cannot double-merge. A crash strictly inside the merge itself
    * (state partitions written, meta not yet) still re-merges on
    * retry — state deltas are not journaled; recover that rare case
    * by rebuilding from the exactly-once raw sink
    * ([[materializeInto]] over the raw table). Callers without batch
    * tracking (batch rebuild tests) pass no id and always apply.
    */
  def refreshWithBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long = -1L): Unit =
    // single-writer lease: refresh, erase, and maintenance on the same
    // serving root serialize across processes, not just this JVM
    Lease.withLease(spark, root, "refresh") {
      refreshLocked(spark, root, batch, batchId)
    }

  private def refreshLocked(spark: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Unit = {
    val lastApplied = readMeta(spark, root)._2
    if (batchId >= 0 && batchId <= lastApplied) return
    // fence: the incremental refresh overwrites date partitions in
    // place outside EraseStage's per-leg renew discipline (see
    // materializeInto's fence note)
    Lease.renew(spark, root)
    RootCache.bumpToken(spark, root) // token moves before the rewrites
    val dates = dateCover(batch)
    if (dates.isEmpty) return
    // localCheckpoint (eager): each merged frame is written back over
    // the partitions it was read from — the lineage must be cut or
    // Spark (rightly) rejects overwriting a read path. Unpersist does
    // not release a local checkpoint, so each is released explicitly.
    val merged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def checkpointed(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      merged += c
      c
    }
    try {
      val state = stateTables.map { t =>
        val delta = t.build(batch)
        val stored = spark.read.parquet(s"$root/${t.name}")
          .filter(col("p_date").isin(dates: _*))
          .select(delta.columns.toSeq.map(col): _*)
        t -> checkpointed(t.merge(stored.unionAll(delta)))
      }.toMap
      // profile state: stored rows replay as per-field pseudo-
      // patches, merged with the batch's patches under the same
      // newest-setter-wins guard — associative, so inc == rebuild
      val profiles = checkpointed(mergeProfilePatches(
        profileAsPatches(spark.read.parquet(s"$root/profile_upsert"))
          .unionAll(graft.ops.Dedup.profilePatches(batch))))
      layout(state).foreach { case (t, rows) =>
        TableManager.overwritePartitions(rows, s"$root/${t.name}", "w_ts", t.sortCols)
      }
      writeProfileState(root, profiles)
      val (oldMax, _, eraseGen) = readMeta(spark, root)
      val batchMaxRow = batch.agg(unix_millis(max(col("ts")))).head()
      val newMax =
        if (batchMaxRow.isNullAt(0)) oldMax
        else math.max(oldMax, batchMaxRow.getLong(0))
      writeMeta(spark, root, newMax, math.max(batchId, lastApplied), eraseGen)
    } finally {
      merged.foreach(NearDup.releaseCheckpoint)
      RootCache.invalidate(spark, root)
    }
  }

  /** Targeted USER ERASURE across the whole serving layout — the
    * right-to-be-forgotten maintenance op (Pinot gets this via
    * segment-rewrite/upsert-compaction tasks; here it is
    * first-class). Most state tables are ADDITIVE — no subtraction
    * exists — so the date partitions the user's events touch are
    * RECOMPUTED from the surviving events, for every table of the
    * declaration ([[stateTables]] from their builders, [[rankedTables]]
    * ranked from those), and overwritten in place; dates the user
    * never touched are neither read nor written. A date whose rows
    * all belonged to the user VANISHES (its partition directories are
    * dropped first — dynamic overwrite alone cannot erase a partition
    * the recomputed frame no longer writes). The user-keyed profile
    * table rewrites whole (it is user-, not date-partitioned), the
    * meta anchor recomputes from the surviving events, and every
    * existing mirror set under `<root>/_replicas` ([[ReplicaRouter]])
    * converges inside the same lease, so the erased user's rows leave
    * every copy AT REST in this call (after a crash between the
    * commit and this convergence, the next routed read converges).
    * Crash recovery matches [[refreshWithBatch]]'s contract: rebuild
    * from the raw sink.
    *
    * Returns the affected p_date strings (empty = user unknown,
    * nothing touched).
    */
  def eraseUser(spark: SparkSession, root: String, events: DataFrame,
      userId: Long): Seq[String] =
    Lease.withLease(spark, root, "erase-user") {
      val dates = eraseUserLocked(spark, root, events, userId)
      if (dates.nonEmpty) {
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        Replicas.convergeAll(spark, root, t => fs.exists(new Path(s"$root/$t")))
      }
      dates
    }

  private def eraseUserLocked(spark: SparkSession, root: String,
      events: DataFrame, userId: Long): Seq[String] = {
    // complete any crashed prior erase before reading state for this one
    if (EraseStage.recover(spark, root)) RootCache.invalidate(spark, root)
    val plan = eraseLegs(spark, root, events, userId)
    if (plan.dates.isEmpty) return Seq.empty
    try {
      // ONE staged commit across every table + meta: all 17 rewrites
      // are durable before any partition directory drops, so a crash
      // between two tables' rewrites — the window the old
      // delete-then-overwrite loop left open — recovers to the
      // complete erase instead of an inconsistent root
      RootCache.bumpToken(spark, root) // token moves before the rewrites
      EraseStage.run(spark, root, plan.legs)
    } finally {
      plan.cached.foreach(_.unpersist())
      RootCache.invalidate(spark, root)
    }
    plan.dates
  }

  /** The staged-erase plan: affected dates, one [[EraseStage]] leg
    * per serving table (+ meta), and the persisted
    * intermediates to release after the run. Package-visible so the
    * crash-recovery spec can stage the legs, "crash", and assert
    * recovery completes the erase. Empty dates = user unknown.
    */
  private[graft] final case class ErasePlan(dates: Seq[String],
    legs: Seq[(EraseStage.Leg, DataFrame)], cached: Seq[DataFrame])

  private[graft] def eraseLegs(spark: SparkSession, root: String,
      events: DataFrame, userId: Long): ErasePlan = {
    val eventDates = dateCover(events.filter(col("user_id") === userId))
    // cross-check against STORED state: a stale or partial events
    // frame must not silently no-op or leave the user's rows behind
    // in partitions it doesn't know about. Each of the user's
    // agg_by_window p_dates is the date of one of the user's hour-window
    // starts, which dateCover of the user's events always includes
    // (dateCover adds each window's end date too, for the finer grains
    // that can land on the next local date), so a stored date outside
    // the cover means the frame lacks some of the user's events.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val storedDates =
      if (!fs.exists(new Path(s"$root/${userAgg.name}"))) Seq.empty[String]
      else spark.read.parquet(s"$root/${userAgg.name}")
        .filter(col("user_id") === userId)
        .select(col("p_date").cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq
    val missing = storedDates.toSet -- eventDates.toSet
    require(missing.isEmpty,
      s"events frame is stale for user $userId: stored serving state " +
        s"holds the user on p_date(s) ${missing.toSeq.sorted.mkString(", ")} " +
        "absent from the supplied frame — recomputing those dates from " +
        "this frame could drop other users' rows; pass the full raw events")
    val dates = (eventDates ++ storedDates).distinct.sorted
    if (dates.isEmpty) return ErasePlan(Seq.empty, Seq.empty, Seq.empty)
    val erased = events.filter(col("user_id") =!= userId)
    val maxRow = erased.agg(unix_millis(max(col("ts")))).head()
    require(!maxRow.isNullAt(0),
      "erasing the last user empties the dataset — drop the root instead")
    // contributors to the affected dates: every window grain stays
    // within a day of its event, so ±1 day bounds the recompute input
    val expanded = dates.flatMap { d =>
      val ld = java.time.LocalDate.parse(d)
      Seq(ld.minusDays(1), ld, ld.plusDays(1)).map(_.toString)
    }.distinct
    val sub = erased.filter(to_date(col("ts")).cast("string").isin(expanded: _*))
    val state = stateRows(t => t.build(sub).filter(
      to_date(timestamp_millis(col("window_start_ms"))).cast("string").isin(dates: _*)))
    // the ranked tables' sources are the bulk of the recompute plan:
    // computed once, before the staged writes read them six times
    val cached = rankSources.map(state)
    cached.foreach(_.count())
    val (_, lastApplied, eraseGen) = readMeta(spark, root)
    import spark.implicits._
    // one Swap leg per date-partitioned table: EraseStage stages the
    // recomputed rows durably, commits one manifest, and only then
    // drops + rewrites the affected p_date directories with the
    // serving sort layout (sortCols ride in the manifest). A date the
    // recompute no longer writes stays deleted — the vanishing-date
    // semantics of the old delete-then-overwrite loop, made atomic.
    val legs = layout(state).map { case (t, rows) =>
      EraseStage.Swap(t.name, "p_date", dates, t.sortCols) ->
        rows.withColumn("p_date", to_date(col("w_ts")))
    } ++ Seq(
      // the user-keyed profile table rewrites whole (it is user-, not
      // date-partitioned), inside the SAME staged commit
      EraseStage.Overwrite("profile_upsert",
        Map("parquet.bloom.filter.enabled#user_id" -> "true"),
        Some("user_id")) -> profileUpsertState(erased),
      // the meta row commits atomically WITH the rewrites: the
      // erase-generation bump can never be lost to a crash after the
      // data rewrites landed
      EraseStage.Overwrite("meta") ->
        Seq((maxRow.getLong(0), lastApplied, eraseGen + 1L))
          .toDF("max_ts_ms", "last_batch_id", "erase_gen"))
    ErasePlan(dates, legs, cached)
  }

  def readTable(spark: SparkSession, dataDir: String, table: String): DataFrame =
    readTableAt(spark, materialize(spark, dataDir), table)

  /** A serving table pinned in executor memory — the Pinot
    * memory-mapped-segment analog, one [[RootCache]] slot per table.
    * Caching the DataFrame also caches its resolved file index, so a
    * lookup does zero partition-listing or footer I/O.
    */
  private[graft] def readTableAt(spark: SparkSession, root: String,
      table: String): DataFrame =
    RootCache.get(spark, root, s"table:$table") {
      spark.read.parquet(s"$root/$table")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The now-anchor (max event ts, epoch ms) from the [[metaStamp]]
    * slot — a bounded metadata fetch (like IVF centroids), NOT a data
    * collect. Serving queries inline it as a literal so the lookup is
    * a single scan with static row-group and partition-directory
    * pruning, no broadcast-join stage.
    */
  def anchorMs(spark: SparkSession, dataDir: String): Long =
    metaStamp(spark, materialize(spark, dataDir))._1

  /** UTC date string of an epoch-ms instant — for partition pruning
    * predicates on the `p_date` layout column.
    */
  def utcDate(ms: Long): String = utcDay(ms).toString

  def utcDay(ms: Long): java.time.LocalDate =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate
}

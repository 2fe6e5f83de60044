package graft.serving

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TopK
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

  private val globalSort = Seq("window_start_ms", "rank")
  // keyed tables sort restaurant-first so a one-restaurant query
  // prunes row groups on the dominant predicate.
  private val keyedSort = Seq("event_type", "window_start_ms", "rank")

  private def countOrder = Seq(col("order_count").desc, col("total_cents").desc, col("user_id").asc)
  private def revenueOrder = Seq(col("total_cents").desc, col("order_count").desc, col("user_id").asc)

  private def writeRanked(root: String, ranked: DataFrame, table: String,
      sortCols: Seq[String]): Unit =
    TableManager.writePartitioned(
      ranked
        .withColumn("rank", col("rank").cast("long"))
        .withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/$table",
      tsCol = "w_ts",
      sortCols = sortCols,
      bloomCol = Some("user_id"))

  /** Rebuild all four ranked tables from full-grain agg frames. */
  private def writeRankedTables(root: String, agg: DataFrame, keyed: DataFrame): Unit = {
    writeRanked(root, TopK.topKPerKey(agg, Seq("window_start_ms"), countOrder, K),
      "topk_by_count", globalSort)
    writeRanked(root, TopK.topKPerKey(agg, Seq("window_start_ms"), revenueOrder, K),
      "topk_by_revenue", globalSort)
    writeRanked(root, TopK.topKPerKey(keyed, Seq("window_start_ms", "event_type"), countOrder, K),
      "topk_keyed_by_count", keyedSort)
    writeRanked(root, TopK.topKPerKey(keyed, Seq("window_start_ms", "event_type"), revenueOrder, K),
      "topk_keyed_by_revenue", keyedSort)
  }

  private def writeAggState(root: String, agg: DataFrame, keyed: DataFrame): Unit = {
    TableManager.writePartitioned(
      agg.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/agg_by_window", tsCol = "w_ts",
      sortCols = Seq("window_start_ms", "user_id"))
    TableManager.writePartitioned(
      keyed.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/agg_keyed_by_window", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms", "user_id"))
  }

  private def writeMinuteState(root: String, roll: DataFrame, users: DataFrame,
      hist: DataFrame, vals: DataFrame, loghist: DataFrame): Unit = {
    TableManager.writePartitioned(
      roll.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/rollup_1m", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms"))
    TableManager.writePartitioned(
      users.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/rollup_1m_users", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms", "user_id"))
    TableManager.writePartitioned(
      hist.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/rollup_1m_hist", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms", "bin"))
    TableManager.writePartitioned(
      vals.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/rollup_1m_vals", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms", "value_cents"))
    TableManager.writePartitioned(
      loghist.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/rollup_1m_loghist", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms", "lbucket"))
  }

  private def writeSketchState(root: String, cm: DataFrame, kmv: DataFrame,
      tuple: DataFrame, bitmap: DataFrame): Unit = {
    TableManager.writePartitioned(
      bitmap.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/bitmap_daily", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms"))
    TableManager.writePartitioned(
      cm.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/cm_daily", tsCol = "w_ts",
      sortCols = Seq("i", "bucket"))
    TableManager.writePartitioned(
      kmv.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/kmv_daily", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms"))
    TableManager.writePartitioned(
      tuple.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/tuple_daily", tsCol = "w_ts",
      sortCols = Seq("event_type", "window_start_ms"))
  }

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

  val allTables: Seq[String] = Seq(
    "topk_by_count", "topk_by_revenue",
    "topk_keyed_by_count", "topk_keyed_by_revenue",
    "agg_by_window", "agg_keyed_by_window",
    "rollup_1m", "rollup_1m_users", "rollup_1m_hist", "rollup_1m_vals",
    "rollup_1m_loghist",
    "cm_daily", "kmv_daily", "tuple_daily", "bitmap_daily",
    "profile_upsert", "meta")

  /** Full build of the serving layout at `root` from an events frame
    * (batch path; the streaming path refreshes incrementally via
    * [[refreshWithBatch]]). The full-grain agg tables are the state
    * that makes incremental rank refresh possible — they are the
    * Pinot rollup-table analog; the ranked tables are its serving
    * views.
    */
  def materializeInto(spark: SparkSession, root: String,
      events: DataFrame): Unit = Lease.withLease(spark, root, "materialize") {
    val maxRow = events.agg(unix_millis(max(col("ts"))).as("max_ts_ms")).head()
    require(!maxRow.isNullAt(0),
      s"cannot materialize serving tables at $root from an empty events frame")
    val agg = hourlyUserAgg(events)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = hourlyKeyedAgg(events)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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
      writeAggState(root, agg, keyed)
      writeMinuteState(root, minuteRollupAgg(events), minuteUsers(events),
        minuteValueHist(events), minuteValueVals(events),
        minuteValueLogHist(events))
      writeSketchState(root, dailyCmSketch(events), kmvDailySketches(events),
        dailyTupleSketches(events), dailyBitmaps(events))
      writeProfileState(root, profileUpsertState(events))
      writeRankedTables(root, agg, keyed)
      writeMeta(spark, root, maxRow.getLong(0), -1L)
    } finally {
      agg.unpersist(); keyed.unpersist()
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
    * the batch touches are rewritten:
    *
    *  1. aggregate the batch at the serving grain (delta);
    *  2. merge delta into the full-grain agg state for the affected
    *     dates (union + re-sum — associative, so increments compose);
    *  3. re-rank those dates from the merged state and overwrite the
    *     same partitions of the ranked tables.
    *
    * The full-grain state is what makes step 3 correct: a user
    * outside the stored top-K can enter it after an increment, which
    * rank-only state could never recover.
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
    val deltaAgg = hourlyUserAgg(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaKeyed = hourlyKeyedAgg(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one date per GRAIN: minute windows inside an hour window can
      // land on the NEXT local date in fractional-offset session
      // timezones (e.g. +05:30: hour start 23:30 local, minutes past
      // 00:00) — deriving dates from the hour starts alone would then
      // exclude those minute partitions from the read-back while the
      // merged frame still writes them, silently dropping history.
      // Covering both the hour start and the hour's last millisecond
      // bounds every contained minute's date; extra dates only widen
      // the read-back (re-written unchanged), never lose rows.
      val dates = deltaAgg
        .select(explode(array(
          to_date(timestamp_millis(col("window_start_ms"))),
          to_date(timestamp_millis(col("window_start_ms") + lit(3599999L)))))
          .as("p_date"))
        .distinct().collect().map(_.getDate(0).toString).toSeq
      if (dates.nonEmpty) {
        // ONE merge shape for every additive state table: read back
        // just the touched dates, union the delta, re-sum per key.
        // localCheckpoint (eager): the merged state is written back
        // over the partitions it was read from — the lineage must be
        // cut or Spark (rightly) rejects overwriting a read path.
        def merge(statePath: String, delta: DataFrame, keys: Seq[String],
            measures: Seq[String]): DataFrame = {
          val cols = (keys ++ measures).map(col)
          val sums = measures.map(m => sum(col(m)).as(m))
          spark.read.parquet(statePath)
            .filter(col("p_date").isin(dates: _*))
            .select(cols: _*)
            .unionAll(delta.select(cols: _*))
            .groupBy(keys.map(col): _*)
            .agg(sums.head, sums.tail: _*)
            .localCheckpoint(true)
        }
        val agg = merge(s"$root/agg_by_window", deltaAgg,
          Seq("window_start_ms", "user_id"),
          Seq("order_count", "total_cents"))
        val keyed = merge(s"$root/agg_keyed_by_window", deltaKeyed,
          Seq("window_start_ms", "event_type", "user_id"),
          Seq("order_count", "total_cents"))
        // minute-grain state merges the same way: sums re-sum (and
        // distinct-user rows union+distinct) — deterministic, so
        // refresh==rebuild holds exactly (ServingSpec asserts it).
        val roll = merge(s"$root/rollup_1m", minuteRollupAgg(batch),
          Seq("window_start_ms", "event_type"),
          Seq("order_count", "sum_value_cents"))
        val hist = merge(s"$root/rollup_1m_hist", minuteValueHist(batch),
          Seq("window_start_ms", "event_type", "bin"),
          Seq("cnt"))
        val vals = merge(s"$root/rollup_1m_vals", minuteValueVals(batch),
          Seq("window_start_ms", "event_type", "value_cents"),
          Seq("cnt"))
        val loghist = merge(s"$root/rollup_1m_loghist", minuteValueLogHist(batch),
          Seq("window_start_ms", "event_type", "lbucket"),
          Seq("cnt"))
        // CM sketch counts are additive — same merge shape, day grain
        val cm = merge(s"$root/cm_daily", dailyCmSketch(batch),
          Seq("window_start_ms", "i", "bucket"), Seq("c"))
        // the one non-additive table: distinct user rows, set-union
        val musers = spark.read.parquet(s"$root/rollup_1m_users")
          .filter(col("p_date").isin(dates: _*))
          .select("window_start_ms", "event_type", "user_id")
          .unionAll(minuteUsers(batch))
          .distinct()
          .localCheckpoint(true)
        // KMV merge per touched day: explode the stored day sketches
        // back to hashes, union the batch's hashes, re-sketch — exact
        // (an evicted hash can never re-enter the merged top-k), so
        // refresh == rebuild bit-for-bit per date partition.
        val kmv = spark.read.parquet(s"$root/kmv_daily")
          .filter(col("p_date").isin(dates: _*))
          .select(col("window_start_ms"), col("event_type"),
            explode(col("sk")).as("h"))
          .unionAll(batch.select(
            unix_millis(date_trunc("day", col("ts"))).as("window_start_ms"),
            col("event_type"),
            graft.functions.KmvSketch.keyHash(col("user_id")).as("h")))
          .groupBy(col("window_start_ms"), col("event_type"))
          .agg(graft.functions.KmvSketch.kmv(col("h"),
            graft.functions.KmvSketch.DefaultK).as("sk"))
          .localCheckpoint(true)
        // tuple sketches re-merge the same way, with the stored
        // (hash, sum) pairs exploded so equal hashes sum with the
        // batch's raw rows — exact per the day-merge argument on
        // [[dailyTupleSketches]]
        val tuple = spark.read.parquet(s"$root/tuple_daily")
          .filter(col("p_date").isin(dates: _*))
          .select(col("window_start_ms"), col("event_type"),
            explode(arrays_zip(col("sk.hs"), col("sk.vs"))).as("e"))
          .select(col("window_start_ms"), col("event_type"),
            col("e.hs").as("h"), col("e.vs").as("v"))
          .unionAll(batch.select(
            unix_millis(date_trunc("day", col("ts"))).as("window_start_ms"),
            col("event_type"),
            graft.functions.KmvSketch.keyHash(col("user_id")).as("h"),
            col("value_cents").as("v")))
          .groupBy(col("window_start_ms"), col("event_type"))
          .agg(graft.functions.TupleSketch.tupleSk(col("h"), col("v"),
            graft.functions.KmvSketch.DefaultK).as("sk"))
          .localCheckpoint(true)
        // bitmap merge per touched day: OR the stored day states with
        // the batch's day bitmaps — OR is associative/commutative/
        // IDEMPOTENT, so refresh == rebuild bit-for-bit per date
        // partition and re-applying rows changes nothing
        val bmState = spark.read.parquet(s"$root/bitmap_daily")
          .filter(col("p_date").isin(dates: _*))
          .select(col("window_start_ms"), col("event_type"), col("bm"))
          .unionAll(dailyBitmaps(batch))
          .groupBy(col("window_start_ms"), col("event_type"))
          .agg(graft.functions.BitmapDistinct.bitmapMerge(col("bm")).as("bm"))
          .localCheckpoint(true)
        // profile state: stored rows replay as per-field pseudo-
        // patches, merged with the batch's patches under the same
        // newest-setter-wins guard — associative, so inc == rebuild
        val profiles = mergeProfilePatches(
          profileAsPatches(spark.read.parquet(s"$root/profile_upsert"))
            .unionAll(graft.ops.Dedup.profilePatches(batch)))
          .localCheckpoint(true)
        try {
          writeAggStatePartitions(root, agg, keyed)
          TableManager.overwritePartitions(
            roll.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/rollup_1m", "w_ts", Seq("event_type", "window_start_ms"))
          TableManager.overwritePartitions(
            musers.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/rollup_1m_users", "w_ts",
            Seq("event_type", "window_start_ms", "user_id"))
          TableManager.overwritePartitions(
            hist.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/rollup_1m_hist", "w_ts",
            Seq("event_type", "window_start_ms", "bin"))
          TableManager.overwritePartitions(
            vals.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/rollup_1m_vals", "w_ts",
            Seq("event_type", "window_start_ms", "value_cents"))
          TableManager.overwritePartitions(
            loghist.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/rollup_1m_loghist", "w_ts",
            Seq("event_type", "window_start_ms", "lbucket"))
          TableManager.overwritePartitions(
            cm.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/cm_daily", "w_ts", Seq("i", "bucket"))
          TableManager.overwritePartitions(
            kmv.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/kmv_daily", "w_ts", Seq("event_type", "window_start_ms"))
          TableManager.overwritePartitions(
            tuple.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/tuple_daily", "w_ts", Seq("event_type", "window_start_ms"))
          TableManager.overwritePartitions(
            bmState.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
            s"$root/bitmap_daily", "w_ts", Seq("event_type", "window_start_ms"))
          writeProfileState(root, profiles)
          writeRankedPartitions(root, agg, keyed)
          val (oldMax, _, eraseGen) = readMeta(spark, root)
          val batchMaxRow = batch.agg(unix_millis(max(col("ts")))).head()
          val newMax =
            if (batchMaxRow.isNullAt(0)) oldMax
            else math.max(oldMax, batchMaxRow.getLong(0))
          writeMeta(spark, root, newMax, math.max(batchId, lastApplied), eraseGen)
        } finally {
          agg.unpersist(); keyed.unpersist()
          roll.unpersist(); musers.unpersist(); hist.unpersist()
          cm.unpersist(); kmv.unpersist(); tuple.unpersist()
          profiles.unpersist()
          RootCache.invalidate(spark, root)
        }
      }
    } finally { deltaAgg.unpersist(); deltaKeyed.unpersist() }
  }

  /** Targeted USER ERASURE across the whole serving layout — the
    * right-to-be-forgotten maintenance op (Pinot gets this via
    * segment-rewrite/upsert-compaction tasks; here it is
    * first-class). Most state tables are ADDITIVE — no subtraction
    * exists — so the date partitions the user's events touch are
    * RECOMPUTED from the surviving events and overwritten in place
    * (the refresh write path); dates the user never touched are
    * neither read nor written. A date whose rows all belonged to the
    * user VANISHES (its partition directories are dropped first —
    * dynamic overwrite alone cannot erase a partition the recomputed
    * frame no longer writes). The user-keyed profile table rewrites
    * whole (it is user-, not date-partitioned), the meta anchor
    * recomputes from the surviving events, and every existing mirror
    * set under `<root>/_replicas` ([[ReplicaRouter]]) converges inside
    * the same lease, so the erased user's rows leave every copy AT
    * REST in this call (after a crash between the commit and this
    * convergence, the next routed read converges). Crash recovery
    * matches [[refreshWithBatch]]'s contract: rebuild from the raw
    * sink.
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
    val mine = events.filter(col("user_id") === userId)
    // one date per GRAIN: the same two-sided hour-window cover as
    // refreshWithBatch (minute windows inside an hour can land on the
    // next local date under fractional-offset session timezones)
    val eventDates = mine
      .select(explode(array(
        to_date(date_trunc("hour", col("ts"))),
        to_date(timestamp_millis(
          unix_millis(date_trunc("hour", col("ts"))) + lit(3599999L)))))
        .as("p_date"))
      .distinct().collect().map(_.getDate(0).toString).toSeq
    // cross-check against STORED state: a stale or partial events
    // frame must not silently no-op or leave the user's rows behind
    // in partitions it doesn't know about. agg_by_window is
    // user-keyed at the same hour grain the write paths cover, so
    // its p_date set for the user is exactly the set of serving
    // partitions holding the user's rows.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val storedDates =
      if (!fs.exists(new Path(s"$root/agg_by_window"))) Seq.empty[String]
      else spark.read.parquet(s"$root/agg_by_window")
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
    def dated(df: DataFrame) = df.filter(
      to_date(timestamp_millis(col("window_start_ms"))).cast("string")
        .isin(dates: _*))
    // the recomputed agg state is the bulk of the recompute plan and
    // feeds six legs (its own two + four ranked) — persist across the
    // staged writes
    val agg = dated(hourlyUserAgg(sub))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = dated(hourlyKeyedAgg(sub))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    agg.count(); keyed.count()
    // one Swap leg per date-partitioned table: EraseStage stages the
    // recomputed rows durably, commits one manifest, and only then
    // drops + rewrites the affected p_date directories with the
    // serving sort layout (sortCols ride in the manifest). A date the
    // recompute no longer writes stays deleted — the vanishing-date
    // semantics of the old delete-then-overwrite loop, made atomic.
    def wts(df: DataFrame): DataFrame = {
      val t = df.withColumn("w_ts", timestamp_millis(col("window_start_ms")))
      t.withColumn("p_date", to_date(col("w_ts")))
    }
    def swap(df: DataFrame, table: String, sortCols: Seq[String]) =
      EraseStage.Swap(table, "p_date", dates, sortCols) -> wts(df)
    def rankedSwap(df: DataFrame, table: String, sortCols: Seq[String]) =
      swap(df.withColumn("rank", col("rank").cast("long")), table, sortCols)
    val (_, lastApplied, eraseGen) = readMeta(spark, root)
    import spark.implicits._
    val legs = Seq(
      swap(agg, "agg_by_window", Seq("window_start_ms", "user_id")),
      swap(keyed, "agg_keyed_by_window",
        Seq("event_type", "window_start_ms", "user_id")),
      swap(dated(minuteRollupAgg(sub)), "rollup_1m",
        Seq("event_type", "window_start_ms")),
      swap(dated(minuteUsers(sub)), "rollup_1m_users",
        Seq("event_type", "window_start_ms", "user_id")),
      swap(dated(minuteValueHist(sub)), "rollup_1m_hist",
        Seq("event_type", "window_start_ms", "bin")),
      swap(dated(minuteValueVals(sub)), "rollup_1m_vals",
        Seq("event_type", "window_start_ms", "value_cents")),
      swap(dated(minuteValueLogHist(sub)), "rollup_1m_loghist",
        Seq("event_type", "window_start_ms", "lbucket")),
      swap(dated(dailyCmSketch(sub)), "cm_daily", Seq("i", "bucket")),
      swap(dated(kmvDailySketches(sub)), "kmv_daily",
        Seq("event_type", "window_start_ms")),
      swap(dated(dailyTupleSketches(sub)), "tuple_daily",
        Seq("event_type", "window_start_ms")),
      swap(dated(dailyBitmaps(sub)), "bitmap_daily",
        Seq("event_type", "window_start_ms")),
      rankedSwap(TopK.topKPerKey(agg, Seq("window_start_ms"), countOrder, K),
        "topk_by_count", globalSort),
      rankedSwap(TopK.topKPerKey(agg, Seq("window_start_ms"), revenueOrder, K),
        "topk_by_revenue", globalSort),
      rankedSwap(TopK.topKPerKey(keyed,
          Seq("window_start_ms", "event_type"), countOrder, K),
        "topk_keyed_by_count", keyedSort),
      rankedSwap(TopK.topKPerKey(keyed,
          Seq("window_start_ms", "event_type"), revenueOrder, K),
        "topk_keyed_by_revenue", keyedSort),
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
    ErasePlan(dates, legs, Seq(agg, keyed))
  }

  private def writeAggStatePartitions(root: String, agg: DataFrame, keyed: DataFrame): Unit = {
    TableManager.overwritePartitions(
      agg.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/agg_by_window", "w_ts", Seq("window_start_ms", "user_id"))
    TableManager.overwritePartitions(
      keyed.withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
      s"$root/agg_keyed_by_window", "w_ts", Seq("event_type", "window_start_ms", "user_id"))
  }

  private def writeRankedPartitions(root: String, agg: DataFrame, keyed: DataFrame): Unit = {
    def ow(ranked: DataFrame, table: String, sortCols: Seq[String]): Unit =
      TableManager.overwritePartitions(
        ranked
          .withColumn("rank", col("rank").cast("long"))
          .withColumn("w_ts", timestamp_millis(col("window_start_ms"))),
        s"$root/$table", "w_ts", sortCols)
    ow(TopK.topKPerKey(agg, Seq("window_start_ms"), countOrder, K),
      "topk_by_count", globalSort)
    ow(TopK.topKPerKey(agg, Seq("window_start_ms"), revenueOrder, K),
      "topk_by_revenue", globalSort)
    ow(TopK.topKPerKey(keyed, Seq("window_start_ms", "event_type"), countOrder, K),
      "topk_keyed_by_count", keyedSort)
    ow(TopK.topKPerKey(keyed, Seq("window_start_ms", "event_type"), revenueOrder, K),
      "topk_keyed_by_revenue", keyedSort)
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

package graft.serving

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{FpMemo, Tables}

/** Materialized star-tree pre-aggregation — the full Pinot star-tree
  * analog (reference: `orders_1m_rollup_table.json:29-45`, a
  * `starTreeIndexConfigs` over dims restaurant/category/item/time with
  * SUM metric pairs): every CUBE grouping set ("node") over the
  * profile dimensions is pre-aggregated once and stored under its own
  * partition directory, keyed by `grouping_id()`; a grouped-aggregate
  * query over any dim subset is answered by reading EXACTLY the one
  * node directory whose grouping set matches — a partition-pruned scan
  * of pre-aggregated rows, never the fact table.
  *
  * Star-tree semantics mapped Spark-first:
  *   - Pinot's star node (dim = `*`) ≡ the CUBE subtotal row, stored
  *     with sentinel dim values ('ALL' / -1) so every node shares one
  *     null-free schema.
  *   - Node selection (Pinot's `StarTreeIndexOperator` choosing the
  *     deepest matching tree level) ≡ `gid` partition routing: the
  *     requested dim subset IS the grouping-id bitmask
  *     ([[nodeId]]) and parquet partition pruning does the rest —
  *     `.explain` shows one `PartitionFilters: [gid = N]` directory.
  *   - `maxLeafRecords` has no analog: nodes are complete, which is
  *     affordable precisely because star-tree dims are LOW-CARDINALITY
  *     by contract (Pinot excludes high-card columns from the tree;
  *     user_id stays out here for the same reason).
  *
  * Build shape at 100 TB: ONE pass over the fact table aggregates to
  * the full-grain base (≤ |types|·7·24 rows — map-side partial agg
  * does almost all the work), then the CUBE runs over that tiny base:
  * SUM/COUNT re-aggregate losslessly, so the ×2^d Expand multiplier
  * never touches fact rows. This is exactly how Pinot builds the tree
  * from segment base aggregates rather than raw docs.
  */
object StarTree {

  /** Tree dimensions, highest grouping_id bit first (Spark's
    * convention: first cube column = high bit). Low-cardinality
    * derived profile dims — the reference tree's restaurant/category/
    * hour analog for the events schema.
    */
  val dims: Seq[String] = Seq("event_type", "day_of_week_iso", "hour_of_day")

  /** Metrics carried at every node (SUM pairs, losslessly
    * re-aggregable — the Pinot `functionColumnPairs` analog).
    */
  val metrics: Seq[String] = Seq("order_count", "sum_value_cents")

  /** grouping_id of the node that serves a GROUP BY over `groupDims`:
    * bit set ⟺ dim is rolled up (absent from the GROUP BY).
    */
  def nodeId(groupDims: Set[String]): Int = {
    val unknown = groupDims -- dims
    require(unknown.isEmpty, s"not star-tree dims: $unknown (tree has $dims)")
    dims.zipWithIndex.map { case (d, i) =>
      if (groupDims(d)) 0 else 1 << (dims.size - 1 - i)
    }.sum
  }

  /** The fact rows with the tree's derived dims attached. */
  private def withDims(events: DataFrame): DataFrame =
    events.select(
      col("event_type"),
      // ISO dow Mon=1..Sun=7 (Spark's dayofweek is Sun=1 — same shift
      // as Rollup.timeDims)
      (((dayofweek(col("ts")) + lit(5)) % 7) + 1).cast("long").as("day_of_week_iso"),
      hour(col("ts")).cast("long").as("hour_of_day"),
      col("value_cents"))

  /** Base (full-grain) aggregate of a fact frame — the one pass that
    * touches fact rows; map-side partial agg collapses to ≤
    * |types|·7·24 rows before any shuffle.
    */
  private def baseAgg(events: DataFrame): DataFrame =
    withDims(events)
      .groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("order_count"),
        sum(col("value_cents")).as("sum_value_cents"))

  /** Expand a base aggregate into all 2^d nodes and write them. The
    * cube's Expand runs over the tiny base, never the fact table.
    */
  private def writeNodes(root: String, base: DataFrame): Unit =
    base.cube(dims.map(col): _*)
      .agg(sum(col("order_count")).as("order_count"),
        sum(col("sum_value_cents")).as("sum_value_cents"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day_of_week_iso"), lit(-1L)).as("day_of_week_iso"),
        coalesce(col("hour_of_day"), lit(-1L)).as("hour_of_day"),
        col("gid").cast("long").as("gid"),
        col("order_count"), col("sum_value_cents"))
      .repartition(col("gid"))
      // leading gid: the dynamic-partition write otherwise inserts
      // its own non-stable sort by gid and scrambles the dim order
      // (see TableManager.writePartitioned's note)
      .sortWithinPartitions(("gid" +: dims).map(col): _*)
      .write.mode("overwrite").partitionBy("gid")
      .parquet(s"$root/nodes")

  private def writeMeta(spark: SparkSession, root: String, lastBatchId: Long): Unit =
    spark.range(1).select(lit(lastBatchId).as("last_batch_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")

  /** Build every node into `root/nodes/gid=N/`. */
  def materializeInto(spark: SparkSession, root: String, events: DataFrame): Unit = {
    writeNodes(root, baseAgg(events))
    writeMeta(spark, root, -1L)
  }

  /** Absorb one micro-batch into existing nodes WITHOUT re-scanning
    * already-ingested fact data: SUM/COUNT metrics are additive, so
    * the batch's base delta merges into the stored full-grain node by
    * re-aggregation, and the other 2^d−1 nodes rebuild from the merged
    * base (tiny — node rows, not fact rows). Exactly-once under
    * foreachBatch replays via the batch-id guard: a re-delivered
    * batchId ≤ the recorded one is a no-op ([[Serving.refreshWithBatch]]'s
    * discipline). The merged base is pinned (localCheckpoint) before
    * the overwrite of the directory it was read from.
    */
  def refresh(spark: SparkSession, root: String, newEvents: DataFrame,
      batchId: Long): Unit = this.synchronized {
    val metaP = new org.apache.hadoop.fs.Path(s"$root/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaP)) { // absent root: the first batch IS the tree
      writeNodes(root, baseAgg(newEvents))
      writeMeta(spark, root, batchId)
      return
    }
    val last = spark.read.parquet(s"$root/meta").head().getAs[Long]("last_batch_id")
    if (batchId <= last) return // replayed batch: already applied
    val existing = spark.read.parquet(s"$root/nodes")
      .where(col("gid") === 0)
      .select((dims ++ metrics).map(col): _*)
    val merged = existing.unionByName(baseAgg(newEvents))
      .groupBy(dims.map(col): _*)
      .agg(sum(col("order_count")).as("order_count"),
        sum(col("sum_value_cents")).as("sum_value_cents"))
      .localCheckpoint(true) // pin BEFORE overwriting its own source
    writeNodes(root, merged)
    writeMeta(spark, root, batchId)
    graft.ops.NearDup.releaseCheckpoint(merged)
  }

  /** Right-to-be-forgotten over the star-tree state: the node tables
    * are dimension-keyed SUM/COUNT aggregates with no user dimension,
    * so the erased user's mass can only leave by rebuilding from the
    * retained fact — the [[Serving.eraseUser]] contract, here as a
    * whole-tree rewrite because the tree is tiny by construction
    * (2^d nodes over bounded dim alphabets, never fact-sized).
    * `events` is the full fact frame the tree has ingested
    * (caller-owned); the recorded last batch id is preserved, so a
    * replay of an already-applied batch stays a no-op and cannot
    * resurface the erased mass. Crash mid-rewrite: re-run the erase
    * (the rebuild reads only the caller's frame, never the nodes).
    */
  def eraseUser(spark: SparkSession, root: String, events: DataFrame,
      userId: Long): Unit = this.synchronized {
    val metaP = new org.apache.hadoop.fs.Path(s"$root/meta")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaP), s"no star-tree at $root")
    val last = spark.read.parquet(s"$root/meta").head().getAs[Long]("last_batch_id")
    writeNodes(root, baseAgg(events.filter(col("user_id") =!= userId)))
    writeMeta(spark, root, last)
  }

  // the root is a deterministic path per source fingerprint (the
  // Serving.materialize discipline) that other JVMs may reuse, so a
  // superseded entry is dropped, never deleted
  private val built = new FpMemo[String]()

  def materialize(spark: SparkSession, dataDir: String): String = {
    val file = s"$dataDir/events.parquet"
    built.get(spark, file) {
      val fp = Tables.fingerprint(spark, file)
      val key = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(fp))
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_startree/$key"
      val done = new org.apache.hadoop.fs.Path(s"$root/nodes/_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done))
        materializeInto(spark, root, Tables.events(spark, dataDir))
      root
    }
  }

  /** Answer GROUP BY `groupDims` from the matching node: one pruned
    * partition directory of pre-aggregated rows, fact table untouched.
    * Deliberately NOT cached: the read is a single tiny directory (the
    * pruning StarTreeSpec asserts), and a pinned copy would go stale
    * under [[refresh]].
    */
  def aggregate(spark: SparkSession, dataDir: String,
      groupDims: Seq[String]): DataFrame = {
    val root = materialize(spark, dataDir)
    spark.read.parquet(s"$root/nodes")
      .where(col("gid") === nodeId(groupDims.toSet))
      .select((groupDims ++ metrics).map(col): _*)
  }
}

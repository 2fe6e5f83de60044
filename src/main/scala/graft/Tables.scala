package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders for the driver-generated parquet test data
  * (see TESTDATA.md). All engine code reads through here so that
  * type normalization (timestamp unit, money-in-cents) happens in
  * exactly one place.
  *
  * Money convention: the reference keeps all money in integer cents
  * (reference README.md:15, DataGenerator.kt:24) — we derive
  * `value_cents`/`*_cents` columns with `round(x*100)::long` so all
  * downstream aggregation is exact integer arithmetic (no
  * floating-point drift vs the DuckDB oracle).
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Cheap content fingerprint of a table directory: ONE listStatus
    * RPC — (path, file count, total bytes, max mtime). Cache keys
    * derived from this stay fresh when a dataset is regenerated in
    * place, without paying a recursive getContentSummary walk on
    * every serving call.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.listStatus(p)
      val mtime = if (st.isEmpty) 0L else st.map(_.getModificationTime).max
      s"$path:${st.length}:${st.map(_.getLen).sum}:$mtime"
    } catch { case _: java.io.IOException => path }
  }

  /** Dollars → integer cents. Exact for 2-decimal inputs. */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast(LongType)

  // Row-group counts: one footer read per file, driver metadata,
  // memoized so repeated gates never re-open footers.
  private val rowGroups = new FpMemo[Int]()

  /** How many parquet ROW GROUPS back `path` — the scan's true
    * parallelism ceiling: Spark plans byte-range splits, but a task
    * only processes row groups whose midpoint lands in its range, so
    * a one-row-group file executes as ONE busy task no matter how
    * many splits (or cores) exist.
    */
  private def scanRowGroups(spark: SparkSession, path: String): Int =
    rowGroups.get(spark, path) {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        else Array(fs.getFileStatus(p))
      files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      }.sum
    }

  /** Spread heavy per-row map work off an UNDER-PARALLEL scan (guide
    * §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read"): when the source layout caps scan
    * parallelism below half the cores (row groups are the unit a
    * parquet scan can actually split on), round-robin repartition the
    * frame so tokenize/hash/vote map stages run cluster-wide instead
    * of inside the scan's single task. NO-OP whenever the input
    * already splits (≥ defaultParallelism/2 row groups) or is too big
    * to inspect cheaply (> graft.spread.max.bytes, default 1 GiB —
    * at real scale inputs have thousands of row groups and the scan
    * parallelizes by itself, so the footer walk is skipped, never
    * paid per-file over a large table). Callers apply it only where
    * the map side is measurably compute-heavy; the exchange carries
    * whatever `df` projects, so project first.
    */
  def spreadScan(spark: SparkSession, df: DataFrame, path: String): DataFrame =
    if (scanUnderParallel(spark, path))
      df.repartition(spark.sparkContext.defaultParallelism)
    else df

  /** [[spreadScan]] but hash-partitioned on `keys` (shuffle-partition
    * count, the scale conf): when the frame's next wide operator
    * groups/joins on a superset of `keys`, the inserted exchange IS
    * that operator's exchange moved below the heavy map work — same
    * exchange count, cluster-wide compute — rather than an extra one.
    * Same no-op guard as [[spreadScan]].
    */
  def spreadScanBy(spark: SparkSession, df: DataFrame, path: String,
      keys: org.apache.spark.sql.Column*): DataFrame =
    if (scanUnderParallel(spark, path)) df.repartition(keys: _*)
    else df

  /** The spread trigger: input small enough to inspect cheaply
    * (bounded footer walk) AND fewer row groups than half the cores.
    */
  private def scanUnderParallel(spark: SparkSession, path: String): Boolean = {
    val maxBytes = spark.conf.getOption("spark.graft.spread.max.bytes")
      .map(_.toLong).getOrElse(1L << 30)
    val cores = spark.sparkContext.defaultParallelism
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.listStatus(p).map(_.getLen).sum
      catch { case _: java.io.IOException => Long.MaxValue }
    }
    bytes <= maxBytes && scanRowGroups(spark, path) < cores / 2
  }

  /** Event stream table. The generator's `ts` physical type has
    * varied across testdata versions — INT64 TIMESTAMP(NANOS) (which
    * Spark 4 reads as long under the legacy conf; floor-convert to
    * µs) vs native timestamp[us] without timezone (which Spark reads
    * as TIMESTAMP_NTZ; reinterpret as an instant under the session's
    * UTC zone, matching how DuckDB's epoch_us reads the same file) —
    * so normalize BOTH to µs TimestampType here. The engine's time
    * precision contract stays µs: any oracle that compares or orders
    * on raw ts does so at epoch_us grain (see EventQueries
    * q_dedup_events / q_recent_24h). Also derives `value_cents` the
    * same way the reference derives `revenue_cents` at ingest
    * (orders_raw_upsert_table.json:53-59).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, dir, "events"))
      .withColumn("value_cents", cents(col("value")))
  }

  private def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** events with a time floor applied to the RAW stored column BEFORE
    * any derivation — a filter on a derived timestamp cannot push
    * through the projection, but attribute-vs-literal on the stored
    * representation (raw_ns ≥ minTsMs·10⁶, or the equivalent NTZ
    * literal) is a predicate the parquet scan prunes row groups with
    * (exactly ⟺ derived µs ts ≥ minTsMs, since the boundary is a
    * whole millisecond).
    */
  def eventsFrom(spark: SparkSession, dir: String, minTsMs: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    val pruned = raw.schema("ts").dataType match {
      case LongType => raw.filter(col("ts") >= lit(minTsMs * 1000000L))
      case TimestampNTZType => raw.filter(
        col("ts") >= timestamp_micros(lit(minTsMs * 1000L)).cast(TimestampNTZType))
      case _ => raw.filter(col("ts") >= timestamp_micros(lit(minTsMs * 1000L)))
    }
    normalizeTs(pruned).withColumn("value_cents", cents(col("value")))
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")

  def orders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")

  def customer(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")

  def part(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")

  def supplier(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "supplier")

  def nation(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "nation")

  def region(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "region")
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticsQueries, ApiQueries, DocQueries, EmbedQueries, EventQueries, MediaQueries, OlapQueries, SampleQueries, ServingQueries, SketchQueries, SqlQueries, TemporalQueries, TpchQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator (SURVEY §2 inventory +
  * training-pipeline extensions) to a DataFrame program over a
  * testdata sf directory; `oracleSql` carries the DuckDB-equivalent
  * SQL for the hash-compare gate. Column names and types are aligned
  * pairwise (all-BIGINT numerics, epoch-ms longs for time).
  */
object SparkEntry {

  /** Flagship: the reference's headline pipeline — dedup → 1-minute
    * rollup → global top-10 by revenue (pinot/README.md first sample
    * query / DataGenerator.kt oracle) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.topKGlobalRevenue(spark, "/root/testdata/sf0.001")

  /** Every query family, listed once. `queries`/`oracleSql` fold over
    * this, and EntrySpec's duplicate-name guard sums sizes from the
    * same Seq — a new family can never be registered in one place but
    * forgotten in the other.
    */
  val families: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (EventQueries.queries, EventQueries.oracles),
      (DocQueries.queries, DocQueries.oracles),
      (EmbedQueries.queries, EmbedQueries.oracles),
      (TpchQueries.queries, TpchQueries.oracles),
      (MediaQueries.queries, MediaQueries.oracles),
      (ServingQueries.queries, ServingQueries.oracles),
      (ApiQueries.queries, ApiQueries.oracles),
      (SqlQueries.queries, SqlQueries.oracles),
      (TemporalQueries.queries, TemporalQueries.oracles),
      (SampleQueries.queries, SampleQueries.oracles),
      (OlapQueries.queries, OlapQueries.oracles),
      (AnalyticsQueries.queries, AnalyticsQueries.oracles),
      (SketchQueries.queries, SketchQueries.oracles))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_._1).reduce(_ ++ _)

  def oracleSql: Map[String, String] =
    families.map(_._2).reduce(_ ++ _)

  /** The local session every main runs on: `SPARK_GRAFT_CPUS` cores
    * (default `defaultCpus`) and as many shuffle partitions, UTC, AQE
    * on, no UI, WARN logging, and the fork-free local filesystem
    * ([[graft.tables.LocalFs]]).
    */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.tables.LocalFs.install(spark)
    spark
  }
}

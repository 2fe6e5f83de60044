package graft.tools

import org.apache.spark.sql.functions._

/** Dev profiling harness for the percentile/quantile serving routes:
  * times each pipeline piece separately (routed scan, scan+filter,
  * window stage, full route) to attribute wall time to stages rather
  * than guessing from end-to-end numbers.
  *
  *   sbt "runMain graft.tools.ProbeServing /root/testdata/sf0.1"
  */
object ProbeServing {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.session(32)

    def time(label: String)(f: => Long): Unit = {
      (1 to 5).foreach(_ => f) // warm
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.min
      println(f"[probe] $label%-28s $ms%8.1f ms")
    }

    val now = graft.serving.Serving.anchorMs(spark, sfDir)
    val (from, to) = (now - 24L * 3600_000L, now)
    val st = graft.serving.ReplicaRouter.table(spark, sfDir, "rollup_1m_hist")
    val rows = st
      .filter(col("p_date") >= graft.serving.Serving.utcDate(from) &&
        col("p_date") <= graft.serving.Serving.utcDate(to) &&
        col("window_start_ms") < to && col("window_start_ms") + 60000L > from)
      .select(col("bin"), col("cnt"))

    time("routed scan count")(st.count())
    time("scan+filter count")(rows.count())
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    val full = w.rowsBetween(Long.MinValue, Long.MaxValue)
    val windowed = rows
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(full))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    time("window stage")(windowed.count())
    time("full percentiles route")(
      graft.api.TopKApi.percentiles(spark, sfDir,
        fromMs = Some(from), toMs = Some(to)).count())
    time("full quantile route")(
      graft.api.TopKApi.quantile(spark, sfDir, pPerMille = Seq(125L, 375L, 975L),
        fromMs = Some(from), toMs = Some(to)).count())
    time("distinctUsers route")(
      graft.api.TopKApi.distinctUsers(spark, sfDir,
        fromMs = Some(from), toMs = Some(to)).count())
    spark.stop()
  }
}

package graft.tools

/** Dev plan-capture harness: write `.explain("formatted")` for the
  * named SparkEntry queries (regex over gate names) into a directory —
  * the before/after plan evidence the optimization rounds commit under
  * `plans/<round>/`.
  *
  *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.1 plans/r16 after q_type_pagerank.*"
  *
  * Writes `<outDir>/<name>_<tag>.txt`. Plans are captured AFTER any
  * lazily-materialized serving/index roots exist (same pre-build as
  * Bench), so the dumped plan is the steady-state read plan, not the
  * first-touch build plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val pattern = (if (args.length > 3) args(3) else ".*").r.pattern
    val spark = graft.SparkEntry.session(32)
    graft.serving.Serving.materialize(spark, sfDir)
    graft.queries.DocQueries.searchIndexRoot(spark, sfDir)
    graft.queries.EmbedQueries.annIndexRoot(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(e => pattern.matcher(e._1).matches())
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] wrote $outDir/${name}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}

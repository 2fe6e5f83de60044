package graft.tools

/** Dev decomposition harness: run one SparkEntry query warm and print
  * every Spark JOB it submits on the measured pass (job id, wall ms,
  * #tasks, first line of the call site) — the per-action breakdown
  * TimeQuery's single wall number hides, for deciding WHICH action in
  * a multi-job gate is worth removing (guide §1: measure first).
  *
  *   sbt "runMain graft.tools.JobProfile /root/testdata/sf0.1 q_embed_dedup_canonical"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val spark = graft.SparkEntry.session(32)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm-up pass (codegen, caches, feeds)
    final class J(val id: Int, val start: Long, val site: String) {
      var end = 0L
      var tasks = 0
    }
    // written by the listener-bus thread, read by main: guarded by `jobs`
    val jobs = scala.collection.mutable.Map.empty[Int, J]
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    var executed = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.synchronized {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs(e.jobId) = new J(e.jobId, e.time, site)
        // a stage shared by overlapping jobs runs once: it belongs to
        // the first job that lists it
        e.stageInfos.foreach(st => stageJob.getOrElseUpdate(st.stageId, e.jobId))
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = jobs.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.tasks += e.stageInfo.numTasks)
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = jobs.synchronized {
        executed += 1
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count() // measured pass
    val totalMs = (System.nanoTime() - t0) / 1e6
    Thread.sleep(300) // let the listener bus deliver the pass's last events
    spark.sparkContext.removeSparkListener(listener)
    val js = jobs.synchronized(jobs.values.toSeq.sortBy(_.id))
    var sum = 0L
    js.foreach { j =>
      val ms = if (j.end > 0) j.end - j.start else -1
      if (ms > 0) sum += ms
      println(f"[jobprofile] job ${j.id}%4d ${ms}%6d ms  tasks ${j.tasks}%4d  ${j.site}")
    }
    println(f"[jobprofile] $name: ${js.length} jobs, job-sum ${sum} ms, wall ${totalMs}%.0f ms, " +
      s"tasks ${js.map(_.tasks).sum} in jobs / ${jobs.synchronized(executed)} executed")
    spark.stop()
  }
}

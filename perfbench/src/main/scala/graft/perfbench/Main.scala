package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One event row as the system reads it (the fixture's `events`
  * schema).
  */
final case class EvRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** What a workload measured. `lat` holds the samples behind `p50_ms`
  * and `tail_ms`; `checks` are outputs the launcher compares against
  * the DuckDB oracle, each weighted by the operations it stands for.
  */
final class Result {
  var setupS = 0.0
  val lat = mutable.ArrayBuffer.empty[Double]
  var throughput = 0.0
  var attempted = 0L
  var failed = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Long)]
  var data = ""
  def note(s: String): Unit = System.out.println(s"perfbench: $s")
}

/** Benchmark entry:
  * `Main <workload> <seed> <seconds> <trace 0|1> <runDir> <spanFile>`.
  * Prints `perfbench:` lines and, last, one `PERFBENCH {json}` line; a
  * traced run also writes its spans to `spanFile`.
  */
object Main {

  final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long, seconds: Int,
      run: String) {
    def dir(name: String): String = {
      val d = new java.io.File(run, name)
      d.mkdirs()
      d.getAbsolutePath
    }
    def span[T](name: String)(body: => T): T = tr.span(spark, name)(body)
  }

  /** Spark's local cores: the box's, at most 4. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  val workloads: Map[String, Ctx => Result] = Map(
    "ingest" -> Ingest.run,
    "serve_steady" -> (c => Serve.run(c, underIngest = false)),
    "serve_under_ingest" -> (c => Serve.run(c, underIngest = true)),
    "batch_gates" -> BatchGates.run)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, run, trace) = args
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(traceS == "1")
    tr.attach(spark)
    val ctx = Ctx(spark, tr, seedS.toLong, secondsS.toInt, run)
    val calib0 = calibMs()
    val res = body(ctx)
    val calib1 = calibMs()
    // Spark's ContextCleaner frees shuffles and broadcasts only once a
    // GC has queued their references, so collect until the heap settles
    val rt = Runtime.getRuntime
    def usedMb = { System.gc(); Thread.sleep(100); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var liveMb = usedMb
    var settled = false
    (0 until 5).foreach { _ =>
      if (!settled) {
        val next = usedMb
        settled = next > liveMb * 0.98
        liveMb = math.min(liveMb, next)
      }
    }
    val e2e = Seq(
      "setup_s" -> res.setupS,
      "throughput" -> res.throughput,
      "p50_ms" -> Stats.median(res.lat.toSeq),
      "tail_ms" -> Stats.tail(res.lat.toSeq),
      "mem_live_mb" -> liveMb)
    res.note(f"samples=${res.lat.size} tail=p${Stats.tailLevel(res.lat.size) * 100}%.1f " +
      f"attempted=${res.attempted} failed=${res.failed}")
    if (tr.enabled) {
      res.layer("box.calib_ms") = Stats.median(Seq(calib0, calib1))
      // the traced run's own end-to-end figures: set against the
      // untraced run's, they give the tracing overhead
      res.layer("trace.throughput") = e2e.toMap.apply("throughput")
      res.layer("trace.p50_ms") = e2e.toMap.apply("p50_ms")
      res.layer("trace.self_ms") = tr.overheadMs
      for (l <- sparkLayers; (k, v) <- tr.sparkOf(s"$l.")) res.layer(s"spark.$l.$k") = v
      // a layer the workload leaves idle did no work
      layerNames.filterNot(res.layer.contains).foreach(res.layer(_) = 0.0)
      tr.dump(trace)
    }
    if (res.checks.nonEmpty) {
      val sqls = graft.SparkEntry.oracleSql ++ Serve.extraOracles
      val w = new java.io.PrintWriter(s"$run/out/oracle_sql.json")
      try w.print(res.checks.map { case (g, _) => s"${jstr(g)}:${jstr(sqls(g))}" }
        .mkString("{", ",", "}"))
      finally w.close()
    }
    def obj(kv: Seq[(String, Double)]) = kv.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "0" else v.toString)
    }.mkString("{", ",", "}")
    val checks = res.checks.map { case (g, n) => s"""["$g",$n]""" }.mkString("[", ",", "]")
    println(s"""PERFBENCH {"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""e2e":${obj(e2e)},"layer":${obj(res.layer.toSeq)},"checks":$checks,""" +
      s""""data":${jstr(res.data)}}""")
    spark.stop()
  }

  val sparkLayers: Seq[String] = Seq("streaming", "maintenance", "serving", "api", "queries")

  /** Every per-layer metric a traced run reports. */
  val layerNames: Seq[String] =
    Seq("plan_ms", "commit_ms", "trigger_ms", "raw_write_ms", "segment_ms",
      "refresh_topk_ms", "batch_self_ms", "segments_read", "state_rows", "late_dropped",
      "dedup_ratio").map("streaming." + _) ++
    Seq("maintenance.tick_ms", "maintenance.partitions_folded",
      "serving.materialize_s", "serving.refresh_ms", "serving.replica_gens_built",
      "serving.first_read_after_refresh_ms") ++
    Serve.routes.flatMap(r => Seq("build", "plan", "exec").map(ph => s"api.${r.name}.${ph}_ms")) ++
    Seq("api.disk_read_ratio") ++
    BatchGates.gates.map(g => s"queries.${g}_s") ++
    Seq("tables.store_bytes_per_ev") ++
    sparkLayers.flatMap(l => Seq("jobs", "tasks", "executor_ms", "shuffle_bytes",
      "spill_bytes", "driver_ms").map(m => s"spark.$l.$m")) ++
    Seq("gen.late_ms_p99", "box.calib_ms", "trace.throughput", "trace.p50_ms", "trace.self_ms")

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  } + "\""

  /** A fixed CPU loop: the box-drift reference. */
  private def calibMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 20000000) { h = h * 31 + (i ^ (h >>> 7)); i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  // ---- shared helpers -------------------------------------------------

  def evRows(evs: Seq[Gen.Ev]): Seq[EvRow] = evs.map { e =>
    EvRow(e.id, new java.sql.Timestamp(e.tsMs), e.user, e.rest, e.value,
      s"""{"k": ${e.id % 100}}""")
  }

  /** Events as the system's readers see them (`Tables.events` shape). */
  def eventsFrame(spark: SparkSession, evs: Seq[Gen.Ev]): DataFrame = {
    import spark.implicits._
    evRows(evs).toDF().withColumn("value_cents", graft.Tables.cents(col("value")))
  }

  /** Sorted string form of a frame's rows, columns in name order. */
  def rowsOf(df: DataFrame, drop: String*): Seq[String] = {
    val d = df.drop(drop: _*)
    d.select(d.columns.sorted.toIndexedSeq.map { c =>
      if (d.schema(c).dataType == org.apache.spark.sql.types.BinaryType) hex(col(c)).as(c)
      else col(c)
    }: _*).collect().map(_.toString).sorted.toSeq
  }

  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(g => bytesUnder(g.getPath)).sum
    else if (f.isFile) f.length else 0L
  }

  def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

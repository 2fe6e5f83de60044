package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.api.TopKApi
import graft.serving.Serving
import graft.streaming.StreamingPipeline

/** `serve_steady` and `serve_under_ingest`.
  *
  * A serving root is materialized from a seeded two-day history, then
  * `clients` closed-loop clients issue a fixed mix of `TopKApi` routes.
  *
  * `serve_steady` is read-only. Samples are API call times; every
  * response must equal the route's first response, and that one must
  * equal the route's DuckDB oracle over the raw events.
  *
  * `serve_under_ingest` adds one open-loop ingest of `ratePerS` events
  * per second (the highest rate the reference was tested at) through
  * `StreamingPipeline.dedupStream` into `servingRefreshSink(root)`.
  * Probe events of a reserved single-user restaurant are always rank 1
  * there, so a poller sees when each is served. Samples are freshness:
  * a probe's scheduled send time to the first served `topk` response
  * that counts it. At the end the served tables must equal
  * `Serving.materializeInto` over every event (refresh == rebuild).
  */
object Serve {
  // the size of the sf0.01 fixture the API gates' oracles are checked on
  val historyEvents = 10000
  val histStartMs: Long = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
  val histEndMs: Long = histStartMs + 48L * 3600000L
  // no client count is published: as many closed-loop clients as Spark
  // has cores saturate the box, the steady way to load it
  val clients: Int = Main.cores
  // the reference's highest tested ingest rate, in orders per second
  val ratePerS = 579
  val tickMs = 10
  val probeEveryTicks = 3
  val drainMs = 60000L
  val warmMs = 1000L
  val probeRestaurant = "probe"
  val probeUser = 999999L
  private val hourMs = 3600000L

  /** A route: its name, its cards in the mix's deck, the gate whose
    * DuckDB oracle it answers, and the call.
    */
  final case class Route(name: String, cards: Int, gate: String,
      call: (SparkSession, String) => DataFrame)

  private def last(spark: SparkSession, dir: String, hours: Long) = {
    val now = Serving.anchorMs(spark, dir)
    (Some(now - hours * hourMs), Some(now))
  }

  private def gate(name: String, cards: Int, g: String) =
    Route(name, cards, g, graft.SparkEntry.queries(g))

  // the API gates are called through SparkEntry, so each call and its
  // oracle come from the same place; the one route no gate covers is
  // called here, with its oracle in extraOracles
  val routes: Seq[Route] = Seq(
    gate("topk_global", 2, "q_api_topk_global"),
    Route("topk_global_revenue", 2, "perfbench_topk_global_revenue", (s, d) => {
      val (f, t) = last(s, d, 72)
      TopKApi.topk(s, d, fromMs = f, toMs = t, byRevenue = true)
    }),
    gate("topk_restaurant", 2, "q_api_topk_restaurant"),
    gate("topk_restaurant_revenue", 2, "q_api_topk_revenue"),
    gate("distinct_users", 1, "q_api_distinct_users"),
    gate("distinct_exact", 1, "q_api_distinct_exact"),
    gate("percentiles", 1, "q_api_percentiles"),
    gate("quantile", 1, "q_api_quantile"))

  /** DuckDB oracle of the one route no gate covers: the global flat
    * top-10 by revenue over the last 72 h (q_api_topk_revenue without
    * the restaurant filter).
    */
  val extraOracles: Map[String, String] = Map(
    "perfbench_topk_global_revenue" ->
      """SELECT 'all' AS restaurant_id, window_start_ms,
        |  window_start_ms + 3600*1000 AS window_end_ms,
        |  CAST(rnk AS BIGINT) AS rank, user_id, order_count, total_cents FROM (
        |  SELECT window_start_ms, user_id, order_count, total_cents,
        |    row_number() OVER (PARTITION BY window_start_ms
        |      ORDER BY total_cents DESC, order_count DESC, user_id ASC) AS rnk
        |  FROM (SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, user_id,
        |          count(*) AS order_count, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_cents
        |        FROM events GROUP BY 1, 2))
        |WHERE rnk <= 10
        |  AND window_start_ms < (SELECT epoch_ms(max(ts)) FROM events)
        |  AND window_start_ms + 3600*1000 > (SELECT epoch_ms(max(ts)) - 72*3600*1000 FROM events)
        |ORDER BY total_cents DESC, window_end_ms DESC, user_id ASC LIMIT 10""".stripMargin)

  /** The mix. The reference publishes no traffic mix and serves only
    * the top-K endpoint, so its four variants take two thirds of the
    * calls and the four routes this system adds one third, each variant
    * and each added route equally often. A client deals the same deck
    * each round: every route once, then the top-K variants again. The
    * order is fixed so that runs differ only in their data.
    */
  private val deck: Vector[Route] =
    (1 to routes.map(_.cards).max).flatMap(c => routes.filter(_.cards >= c)).toVector

  /** One API call, split into build, plan and execute spans when
    * traced. Returns the collected rows.
    */
  private def call(ctx: Main.Ctx, r: Route, dir: String): Seq[String] =
    ctx.span(s"api.${r.name}") {
      val df = ctx.span(s"api.${r.name}.build")(r.call(ctx.spark, dir))
      if (ctx.tr.enabled) ctx.span(s"api.${r.name}.plan")(df.queryExecution.executedPlan)
      ctx.span(s"api.${r.name}.exec")(df.collect()).map(_.toString).sorted.toSeq
    }

  /** Set-up: the history as the fixture's `events` table, then the
    * serving root over it (timed).
    */
  private def setupRoot(ctx: Main.Ctx, res: Result, history: Seq[Gen.Ev]): String = {
    val spark = ctx.spark
    val dir = ctx.dir("data")
    Main.eventsFrame(spark, history).drop("value_cents")
      .write.parquet(s"$dir/events.parquet")
    val t0 = System.nanoTime()
    ctx.span("serving.materialize")(Serving.materialize(spark, dir))
    res.setupS = Main.elapsedMs(t0) / 1000.0
    dir
  }

  private def replicaGens(root: String): Int =
    Option(new java.io.File(root, "_replicas").listFiles).toSeq.flatten
      .map(t => Option(t.list()).toSeq.flatten.count(_.startsWith("gen="))).sum

  def run(ctx: Main.Ctx, underIngest: Boolean): Result = {
    val res = new Result
    val spark = ctx.spark
    val history = Gen.history(ctx.seed, historyEvents, histStartMs, histEndMs)
    val dir = setupRoot(ctx, res, history)
    val root = Serving.materialize(spark, dir)
    res.data = dir
    // on a static root the first responses are the references
    val reference: Map[String, Seq[String]] =
      if (underIngest) Map.empty else routes.map(r => r.name -> call(ctx, r, dir)).toMap
    if (!underIngest) {
      val out = ctx.dir("out")
      routes.foreach(r => r.call(spark, dir).write.parquet(s"$out/${r.gate}"))
    }

    // ---- optional open-loop ingest ----------------------------------
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val streamBase = histEndMs + 60000L
    val stream = new Gen.Stream(ctx.seed + 1, streamBase, 1000.0 / ratePerS, 1000000000L,
      lateFrom = ratePerS)
    val sent = mutable.ArrayBuffer.empty[Gen.Ev]
    val refreshEnds = new ConcurrentLinkedQueue[java.lang.Long]()
    var mem: MemoryStream[EvRow] = null
    var query: StreamingQuery = null
    if (underIngest) {
      mem = MemoryStream[EvRow]
      val sink = StreamingPipeline.servingRefreshSink(root)
      query = StreamingPipeline.dedupStream(StreamingPipeline.withEventTime(mem.toDF()))
        .writeStream
        .option("checkpointLocation", ctx.dir("ckpt"))
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (b: DataFrame, id: Long) =>
          ctx.span("serving.refresh")(sink(b, id))
          refreshEnds.add(System.nanoTime())
          ()
        }
        .start()
      // warm the refresh path and the watermark before the timed window
      val warm = stream.take(ratePerS)
      sent ++= warm
      mem.addData(Main.evRows(warm))
      query.processAllAvailable()
    }

    // ---- timed window -----------------------------------------------
    val stop = new AtomicBoolean(false)
    val calls = new ConcurrentLinkedQueue[(Long, Long)]()
    val probeCalls = new ConcurrentLinkedQueue[(Long, Long)]()
    val mismatches = new AtomicLong
    val perRoute = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    // clients run warmMs before the window opens; only calls started
    // inside it count
    val t0 = System.nanoTime() + warmMs * 1000000L
    val deadline = t0 + ctx.seconds * 1000000000L
    val probesUntil = t0 + ctx.seconds * 300000000L
    val clientThreads = (0 until clients).map { i =>
      new Thread(() => {
        // clients start at spread-out places in the deck
        var hand = deck.iterator.drop(i * deck.size / clients)
        while (!stop.get()) {
          if (!hand.hasNext) hand = deck.iterator
          val route = hand.next()
          val c0 = System.nanoTime()
          val rows = call(ctx, route, dir)
          if (c0 >= t0) {
            calls.add((c0, System.nanoTime()))
            perRoute.computeIfAbsent(route.name, _ => new AtomicLong).incrementAndGet()
            if (!underIngest && rows != reference(route.name)) mismatches.incrementAndGet()
          }
        }
      })
    }

    // open-loop generator: tick j is due at t0 + j*tickMs and never
    // waits for the system. Probes go out every probeEveryTicks ticks in
    // the first 30 % of the window (a probe is only measured once it is
    // served, two or three refreshes later); events flow until the run
    // stops
    val probeDue = mutable.ArrayBuffer.empty[Long]
    val lateness = mutable.ArrayBuffer.empty[Double]
    // events due by tick j, so the rate holds although 579 does not
    // divide into whole ticks
    def dueBy(j: Long): Int = (j * ratePerS * tickMs / 1000).toInt
    val genThread = new Thread(() => {
      var j = 0L
      while (!stop.get()) {
        val due = t0 + j * tickMs * 1000000L
        val wait = (due - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        lateness += (System.nanoTime() - due) / 1e6
        val evs = mutable.ArrayBuffer.empty[Gen.Ev]
        evs ++= stream.take(dueBy(j + 1) - dueBy(j))
        if (j % probeEveryTicks == 0 && due < probesUntil) {
          val e = Gen.Ev(2000000000L + probeDue.size, streamBase + 1000L + j * tickMs,
            probeUser, probeRestaurant, 100L)
          probeDue.synchronized(probeDue += due)
          evs += e
        }
        sent.synchronized(sent ++= evs)
        mem.addData(Main.evRows(evs.toSeq))
        j += 1
      }
    })

    // freshness poller: closed loop on the probe restaurant's rank 1
    val fresh = mutable.ArrayBuffer.empty[Double]
    val backwards = new AtomicLong
    val probeRoute = Route("topk_probe", 0, "", (s, d) => TopKApi.topk(s, d,
      restaurantId = probeRestaurant, fromMs = Some(streamBase - hourMs),
      toMs = Some(streamBase + 2 * hourMs), k = 1))
    val pollThread = new Thread(() => {
      var seen = 0
      var done = false
      val drainEnd = deadline + drainMs * 1000000L
      while (!done && System.nanoTime() < drainEnd) {
        val c0 = System.nanoTime()
        val rows = ctx.span("api.topk_probe")(probeRoute.call(spark, dir).collect())
        val now = System.nanoTime()
        probeCalls.add((c0, now))
        val n = rows.map(_.getAs[Long]("order_count")).sum.toInt
        if (n < seen) backwards.incrementAndGet()
        val due = probeDue.synchronized(probeDue.toVector)
        while (seen < math.min(n, due.size)) { fresh += (now - due(seen)) / 1e6; seen += 1 }
        done = System.nanoTime() >= probesUntil && seen >= due.size
      }
    })

    // the window ends at the deadline, or under ingest once every probe
    // is served; clients and ingest keep the load on until then
    clientThreads.foreach(_.start())
    if (underIngest) { genThread.start(); pollThread.start() }
    while (System.nanoTime() < deadline) Thread.sleep(5)
    if (underIngest) pollThread.join()
    stop.set(true)
    clientThreads.foreach(_.join())
    val t1 = System.nanoTime()
    res.throughput = calls.size / ((t1 - t0) / 1e9)
    var applied = 0L
    res.attempted = calls.size
    routes.foreach { r =>
      val n = Option(perRoute.get(r.name)).map(_.get).getOrElse(0L)
      res.note(s"route ${r.name} calls=$n")
      if (!underIngest) res.checks += ((r.gate, n))
    }

    if (!underIngest) {
      res.lat ++= calls.asScala.map { case (a, b) => (b - a) / 1e6 }
      res.failed = mismatches.get
    } else {
      genThread.join()
      query.processAllAvailable()
      applied = query.recentProgress.map(_.numInputRows).sum
      query.stop()
      res.lat ++= fresh
      val lost = probeDue.size - fresh.size
      res.note(s"probes=${probeDue.size} served=${fresh.size} events_sent=${sent.size} " +
        s"refreshes=${refreshEnds.size} rows_applied=$applied")
      Gen.shares(sent.toSeq).foreach { case (k, v) => res.note(f"input $k=$v%.4f") }
      // refresh == rebuild over every event the stream kept
      val ids = mutable.HashSet.empty[Long]
      val kept = sent.filter(e => e.tsMs >= streamBase - 10000L && ids.add(e.id))
      val rebuilt = ctx.dir("rebuilt")
      Serving.materializeInto(spark, rebuilt, Main.eventsFrame(spark, history ++ kept))
      val diverged = Serving.allTables.filter(_ != "meta").filter { t =>
        Main.rowsOf(spark.read.parquet(s"$root/$t"), "w_ts") !=
          Main.rowsOf(spark.read.parquet(s"$rebuilt/$t"), "w_ts")
      }
      if (diverged.nonEmpty) res.note(s"refresh != rebuild in ${diverged.mkString(",")}")
      if (lost > 0) res.note(s"$lost probes never served")
      res.attempted += probeDue.size + refreshEnds.size
      res.failed = diverged.size + lost + backwards.get
      if (ctx.tr.enabled) {
        val ends = refreshEnds.asScala.map(_.toLong).toSeq.sorted
        val cs = (calls.asScala ++ probeCalls.asScala).toSeq.sortBy(_._1)
        val firstReads = ends.flatMap(e => cs.find(_._1 >= e)).distinct
          .map { case (a, b) => (b - a) / 1e6 }
        res.layer ++= Seq(
          "serving.refresh_ms" -> Stats.median(ctx.tr.durations("serving.refresh")),
          "serving.first_read_after_refresh_ms" -> Stats.median(firstReads),
          "gen.late_ms_p99" -> Stats.quantile(lateness.toSeq, 0.99))
        res.layer ++= Ingest.triggerMetrics(
          ctx.tr.progress.asScala.toSeq.filter(_.numInputRows > 0).drop(1))
      }
    }
    if (ctx.tr.enabled) {
      res.layer("serving.materialize_s") =
        Stats.median(ctx.tr.durations("serving.materialize")) / 1000.0
      res.layer("serving.replica_gens_built") = replicaGens(root).toDouble
      routes.foreach { r =>
        Seq("build", "plan", "exec").foreach { ph =>
          res.layer(s"api.${r.name}.${ph}_ms") = Stats.median(ctx.tr.durations(s"api.${r.name}.$ph"))
        }
      }
      res.layer("api.disk_read_ratio") = ctx.tr.diskReadShare(routes.map(r => s"api.${r.name}"))
    }
    val perEv = Main.bytesUnder(root).toDouble / (historyEvents + applied)
    res.note(f"store_bytes_per_ev=$perEv%.1f")
    if (ctx.tr.enabled) res.layer("tables.store_bytes_per_ev") = perEv
    res
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Sample statistics. A tail is the highest percentile with at least
  * ten samples beyond it, but never below p75: a run with fewer than 40
  * samples reports its upper quartile.
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  def tailLevel(n: Int): Double = math.max(0.75, 1.0 - 10.0 / math.max(n, 1))
  def tail(xs: Seq[Double]): Double = quantile(xs, tailLevel(xs.size))
}

/** In-memory spans around calls into the system's layers, plus the
  * Spark jobs each span launched. Disabled, `span` is a bare call and
  * no listener is attached, so the untraced run measures the system
  * alone.
  *
  * A span's jobs are found through a local property set for the span's
  * duration (inherited by threads the call starts); a Spark listener
  * maps stages to jobs through `SparkListenerJobStart.stageInfos` and
  * sums task metrics per job.
  */
object Tracer {
  final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long)
  final class Job(val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks = new AtomicLong
    val execMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val inputBytes = new AtomicLong
  }
}

final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val Prop = "perfbench.span"
  // job times are epoch ms, span times monotonic ns
  private val off = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  // time spent in the tracer's own bookkeeping and listener callbacks
  private val selfNs = new AtomicLong

  def overheadMs: Double = selfNs.get / 1e6

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    selfNs.addAndGet(System.nanoTime() - t0)
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .map(_.toLong).getOrElse(-1L)
        val j = new Job(span, e.time)
        jobs.put(e.jobId, j)
        e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, j))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
          j.tasks.incrementAndGet()
          j.execMs.addAndGet(m.executorRunTime)
          j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        timed { progress.add(e.progress); () }
    })
  }

  /** Time `body` as span `name` (`layer.op`), nested under the
    * thread's current span.
    */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val enter = System.nanoTime()
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val stack = current.get()
      val prevProp = sc.getLocalProperty(Prop)
      current.set(id :: stack)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, stack.headOption.getOrElse(0L), t0, t1))
        sc.setLocalProperty(Prop, prevProp)
        current.set(stack)
        selfNs.addAndGet(t0 - enter + System.nanoTime() - t1)
      }
    }

  private def all: Seq[Span] = spans.asScala.toSeq

  /** Durations in ms of every span named `name`. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  /** Median self time (duration minus the union of child spans) of
    * the spans named `name`, in ms.
    */
  def selfMs(name: String): Double = {
    val children = all.groupBy(_.parent)
    Stats.median(all.filter(_.name == name).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      (s.endNs - s.startNs - unionNs(kids)) / 1e6
    })
  }

  private def unionNs(iv: Seq[(Long, Long)]): Long = {
    var end = Long.MinValue
    var tot = 0L
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { tot += b - a; end = b }
      else if (b > end) { tot += b - end; end = b }
    }
    tot
  }

  /** Spark work of every span whose name starts with `prefix` (and
    * of their descendants): jobs, tasks, executor ms, shuffle and
    * spill bytes, and driver ms = wall minus the union of the spans'
    * job intervals.
    */
  def sparkOf(prefix: String): Map[String, Double] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    def root(id: Long): Option[Span] = {
      var s = byId.get(id)
      var hit: Option[Span] = None
      while (s.isDefined) {
        if (s.get.name.startsWith(prefix)) hit = s
        s = byId.get(s.get.parent)
      }
      hit
    }
    val tops = ss.filter(s => s.name.startsWith(prefix) &&
      !byId.get(s.parent).exists(p => root(p.id).isDefined))
    val js = jobs.asScala.values.toSeq.filter(j => j.span > 0 && root(j.span).isDefined)
    val driverMs = tops.map { t =>
      val mine = js.filter(j => root(j.span).map(_.id).contains(t.id) && j.endMs > 0)
        .map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
      val wall = t.endNs - t.startNs
      val clipped = mine.map { case (a, b) =>
        (math.max(a - off, t.startNs), math.min(b - off, t.endNs)) }.filter(x => x._2 > x._1)
      (wall - unionNs(clipped)) / 1e6
    }.sum
    Map("jobs" -> js.size.toDouble,
      "tasks" -> js.map(_.tasks.get).sum.toDouble,
      "executor_ms" -> js.map(_.execMs.get).sum.toDouble,
      "shuffle_bytes" -> js.map(_.shuffleBytes.get).sum.toDouble,
      "spill_bytes" -> js.map(_.spillBytes.get).sum.toDouble,
      "driver_ms" -> driverMs)
  }

  /** Share of the spans named in `names` whose jobs read input bytes. */
  def diskReadShare(names: Seq[String]): Double = {
    val ss = all.filter(s => names.contains(s.name))
    if (ss.isEmpty) 0.0
    else {
      val byId = all.map(s => s.id -> s).toMap
      def under(id: Long, top: Long): Boolean =
        id == top || byId.get(id).exists(s => s.parent != 0 && under(s.parent, top))
      val js = jobs.asScala.values.toSeq
      ss.count(s => js.exists(j => j.inputBytes.get > 0 && under(j.span, s.id))).toDouble / ss.size
    }
  }

  /** Spans as JSON lines with their self time, for the trace file. */
  def dump(path: String): Unit = if (enabled) {
    val ss = all
    val children = ss.groupBy(_.parent)
    val w = new java.io.PrintWriter(path)
    try ss.sortBy(_.startNs).foreach { s =>
      val self = s.endNs - s.startNs -
        unionNs(children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}""")
    } finally w.close()
  }
}

package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.SqlQueries
import graft.serving.{RootCache, Serving}

/** The SQL surface under concurrent callers: the served statements are
  * planned per root generation while other threads plan theirs, so
  * each plan must read its own dataset's tables, planning must not
  * touch the session's conf, and no statement may replace a caller's
  * temp view.
  */
class ServedSqlSpec extends SparkSuite {
  import spark.implicits._

  private val statements: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "topk_rollup" -> (SqlQueries.topkRollup _),
    "revenue_by_hour" -> (SqlQueries.revenueByHour _),
    "percentile" -> (SqlQueries.percentileSql _))

  // sf0.001 and a copy of its events with every 10th event dropped:
  // every statement answers the two differently
  private lazy val dirs: Seq[String] = {
    val thin = java.nio.file.Files.createTempDirectory("served_sql_thin").toString
    Tables.events(spark, sfDir).filter($"event_id" % 10 =!= 0).drop("value_cents")
      .write.parquet(s"$thin/events.parquet")
    Seq(sfDir, thin)
  }

  private def answer(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  // drop both roots' cached views and plans
  private def invalidate(): Unit =
    dirs.foreach(d => RootCache.invalidate(spark, Serving.materialize(spark, d)))

  /** Each statement over each dir, built cold one at a time. */
  private lazy val sequential: Map[(String, String), Seq[String]] = {
    invalidate()
    val one = for (d <- dirs; (n, f) <- statements) yield (d, n) -> answer(f(spark, d))
    one.toMap
  }

  /** Build and answer every statement over both dirs cold and at once,
    * one thread each.
    */
  private def coldRound(): Map[(String, String), Seq[String]] = {
    invalidate()
    val pool = Executors.newFixedThreadPool(dirs.size * statements.size)
    val go = new CountDownLatch(1)
    try {
      val calls = for (d <- dirs; (n, f) <- statements) yield
        (d, n) -> pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = { go.await(); answer(f(spark, d)) }
        })
      go.countDown()
      calls.map { case (k, c) => k -> c.get(5, TimeUnit.MINUTES) }.toMap
    } finally pool.shutdownNow()
  }

  /** Up to 5 [[coldRound]]s; no round starts once 90 s have passed. */
  private def coldRounds(): Seq[Map[(String, String), Seq[String]]] = {
    val t0 = System.currentTimeMillis()
    (0 until 5).iterator
      .takeWhile(i => i == 0 || System.currentTimeMillis() - t0 < 90000L)
      .map(_ => coldRound()).toSeq
  }

  test("served SQL: concurrent cold builds never change the session's adaptive or shuffle-partition conf") {
    // set values of the test's own, so a write of any other value shows
    val set = Map("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "3")
    val saved = set.keys.map(k => k -> spark.conf.get(k)).toMap
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new AtomicBoolean(false)
    val watcher = new Thread(() =>
      while (!done.get()) {
        set.foreach { case (k, v) =>
          val now = spark.conf.get(k)
          if (now != v) seen.add(s"$k=$now")
        }
        java.util.concurrent.locks.LockSupport.parkNanos(100000L)
      })
    val after = try {
      watcher.start()
      try coldRound()
      finally { done.set(true); watcher.join() }
      set.keys.map(k => k -> spark.conf.get(k)).toMap
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    import scala.jdk.CollectionConverters._
    val changes = seen.asScala.toSeq
    if (changes.nonEmpty) fail(s"a watcher saw the conf change in ${changes.size} polls " +
      s"(${changes.distinct.mkString(", ")}); set: $set")
    assert(after === set, "the conf did not come back")
  }

  test("served SQL: concurrent cold builds over two datasets each answer their own dataset, every round") {
    statements.foreach { case (n, _) =>
      assert(sequential((dirs(0), n)) != sequential((dirs(1), n)),
        s"fixture: $n answers both datasets alike")
    }
    val crossed = coldRounds().zipWithIndex.flatMap { case (got, round) =>
      got.collect { case (k @ (d, n), rows) if rows != sequential(k) =>
        val other = dirs.find(o => o != d && sequential((o, n)) == rows)
        s"round $round: $n over $d " +
          other.fold(s"answered $rows")(o => s"answered $o's rows")
      }
    }
    assert(crossed.isEmpty, crossed.mkString("; "))
  }

  test("SqlQueries statements leave a caller's temp view of the same name in place") {
    spark.range(3).toDF("id").createOrReplaceTempView("orders_raw")
    try {
      assert(SqlQueries.topkRaw(spark, sfDir).count() > 0)
      val view = spark.table("orders_raw")
      assert(view.columns.toSeq === Seq("id") && view.count() === 3L,
        s"the caller's orders_raw view was replaced: ${view.columns.mkString(", ")}")
    } finally spark.catalog.dropTempView("orders_raw")
  }
}

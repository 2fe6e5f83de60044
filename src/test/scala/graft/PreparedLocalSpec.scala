package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{aggregate, col, lit, sequence, sum, udf}
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.LocalTasks
import graft.api.TopKApi
import graft.plans.{Param, Prepared}
import graft.serving.{ReplicaRouter, Serving}

/** A prepared frame's collect evaluates its one partition on the
  * calling thread: each call on its own copy of the plan's objects,
  * with no job, and with nothing left behind in the block manager, the
  * memory manager or the thread.
  */
class PreparedLocalSpec extends SparkSuite {

  private def answer(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** Runs `body(thread)` on `threads` threads at once; returns when all are done. */
  private def concurrently(threads: Int)(body: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try (0 until threads).map(th => pool.submit(new Runnable { def run(): Unit = body(th) }))
      .foreach(_.get(10, TimeUnit.MINUTES))
    finally pool.shutdownNow()
  }

  /** One call of every served route over a range and a restaurant. */
  private def routes(from: Option[Long], to: Option[Long], rid: String)
      : Seq[(String, () => DataFrame)] = Seq(
    "topk" -> (() => TopKApi.topk(spark, sfDir, rid, from, to, 5)),
    "topk revenue" -> (() => TopKApi.topk(spark, sfDir, rid, from, to, 5, byRevenue = true)),
    "distinct" -> (() => TopKApi.distinctUsers(spark, sfDir, rid, from, to)),
    "exact" -> (() => TopKApi.distinctUsersExact(spark, sfDir, rid, from, to)),
    "percentiles" -> (() => TopKApi.percentiles(spark, sfDir, rid, from, to)),
    "quantile" -> (() => TopKApi.quantile(spark, sfDir, rid, Seq(125L, 500L, 975L), from, to)),
    "approx" -> (() => TopKApi.quantileApprox(spark, sfDir, rid, Seq(500L), from, to)))

  test("8 threads calling every route concurrently each get the answer of the literal-planned twin") {
    val now = Serving.anchorMs(spark, sfDir)
    val ranges = Seq((2L, 0L), (24L, 0L), (72L, 0L), (96L, 24L)).map { case (back, end) =>
      (Some(now - back * Serving.hourMs), Some(now - end * Serving.hourMs))
    }
    val rids = Seq("all", "click", "purchase")
    val expected = (for (r <- ranges.indices; t <- rids.indices;
        ((_, call), k) <- routes(ranges(r)._1, ranges(r)._2, rids(t)).zipWithIndex)
      yield (r, t, k) -> answer(Prepared.inlined(call()))).toMap
    val (threads, rounds) = (8, 50)
    val wrong = new ConcurrentLinkedQueue[String]()
    val calls = new AtomicInteger()
    concurrently(threads) { th =>
      for (round <- 0 until rounds) {
        val r = (th + round) % ranges.size
        val t = (th + 2 * round) % rids.size
        for (((route, call), k) <- routes(ranges(r)._1, ranges(r)._2, rids(t)).zipWithIndex) {
          if (answer(call()) != expected((r, t, k))) wrong.add(s"$route ${ranges(r)} ${rids(t)}")
          calls.incrementAndGet()
        }
      }
    }
    assert(calls.get() === threads * rounds * 7)
    assert(wrong.isEmpty, s"${wrong.size} wrong answers, e.g. ${wrong.peek()}")
  }

  test("concurrent calls of one plan each evaluate on their own expression objects") {
    // the higher-order function sits above the parameter, yet every
    // call's bound copy of the plan holds the SAME instance of it;
    // evaluated without code generation, it keeps its lambda
    // variables' values in that instance
    val pin = spark.range(0, 20000, 1, 1)
      .select(col("id"), sequence(lit(0L), col("id") % 50).as("xs")).persist()
    try {
      pin.count()
      val prepared = Prepared(pin.filter(col("id") < Param.column("n", LongType))
        .agg(sum(aggregate(col("xs"), lit(0L), (acc, x) => acc + x))))
      def expected(n: Long): Long = (0L until n).map { id => val k = id % 50; k * (k + 1) / 2 }.sum
      val wrong = new ConcurrentLinkedQueue[String]()
      concurrently(8) { th =>
        for (call <- 0 until 50) {
          val n = 10000L + 1000L * th + call
          val got = prepared.bind(spark, Map("n" -> n)).collect().head.getLong(0)
          if (got != expected(n)) wrong.add(s"n=$n: $got, not ${expected(n)}")
        }
      }
      assert(wrong.isEmpty, s"${wrong.size} wrong sums, e.g. ${wrong.peek()}")
    } finally pin.unpersist(blocking = true)
  }

  test("a pin block built by a call reports its statistics, as one built by a task does") {
    val dir = eventsCopy("graft_local_pin")
    val now = Serving.anchorMs(spark, dir)
    // the route's first call reads its routed pin first, building the block
    TopKApi.percentiles(spark, dir, fromMs = Some(now - 72L * Serving.hourMs)).collect()
    val pin = ReplicaRouter.table(spark, dir, "rollup_1m_hist", tenant = TopKApi.All)
    // the cache's statistics come from accumulators its build updates
    val rows = spark.read.parquet(s"${Serving.servingRoot(spark, dir)}/rollup_1m_hist").count()
    assert(pin.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(rows)))
  }

  test("warm collects run no job, under synthetic attempts, and leave no lock, memory or task context") {
    val sc = spark.sparkContext
    val now = Serving.anchorMs(spark, sfDir)
    def route() = TopKApi.percentiles(spark, sfDir, fromMs = Some(now - 72L * Serving.hourMs))
    val first = answer(route()) // warm: pin and plan built
    val memory = LocalTasks.executionMemoryUsed(sc)
    val (answers, jobs) = withJobCount((1 to 20).map(_ => answer(route())))
    assert(jobs === 0)
    assert(answers.forall(_ == first))
    assert(LocalTasks.tracked(sc).isEmpty)
    assert(LocalTasks.executionMemoryUsed(sc) === memory)
    assert(TaskContext.get() === null)
    // a projection over the route evaluates in the same call, so it
    // sees the call's task context
    val attempt = udf(() => TaskContext.get().taskAttemptId()).asNondeterministic()
    val attempts = route().select(attempt()).collect().map(_.getLong(0))
    assert(attempts.nonEmpty && attempts.forall(LocalTasks.isSynthetic), attempts.toSeq)
    assert(TaskContext.get() === null)
  }

  test("a call that throws inside its evaluation still releases its locks and memory and restores the thread") {
    val sc = spark.sparkContext
    val pin = spark.range(0, 1000, 1, 1).toDF().persist()
    try {
      pin.count()
      val prepared = Prepared(pin.filter(col("id") >= Param.column("from", LongType)))
      assert(prepared.bind(spark, Map("from" -> 990L)).collect().length === 10)
      val memory = LocalTasks.executionMemoryUsed(sc)
      // an unbound parameter evaluated per row: the call fails on its
      // first row, holding the pin's read lock
      val failing = prepared.bind(spark, Map("from" -> 10L))
        .select(col("id"), Param.column("unbound", LongType).as("v"))
      val e = intercept[IllegalStateException](failing.collect())
      assert(e.getMessage.contains("parameter unbound is not bound"))
      assert(TaskContext.get() === null)
      assert(LocalTasks.tracked(sc).isEmpty)
      assert(LocalTasks.executionMemoryUsed(sc) === memory)
      // the pin stays readable
      assert(prepared.bind(spark, Map("from" -> 995L)).collect().length === 5)
    } finally pin.unpersist(blocking = true)
  }
}

package org.apache.spark.sql

import java.util.Locale
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{Partition, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.util.{AccumulatorContext, AccumulatorV2, Utils}

/** Bridge into Spark's `private[sql]` Column<->Expression converters.
  *
  * Spark 4.x made `Column.apply(Expression)` and `Column.expr`
  * `private[spark]`; the sanctioned escape hatch for libraries that
  * define custom Catalyst expressions is `classic.ExpressionUtils`,
  * which is `private[sql]` — reachable only from a source file compiled
  * into the `org.apache.spark.sql` package. This object is that file:
  * two forwarding methods, nothing else.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully CONVERT a Column's node tree to a catalyst expression —
    * unlike [[expression]] (a lazy adapter that codegen chokes on
    * when the tree holds `UnresolvedFunction` Column nodes, e.g. any
    * tree built with `org.apache.spark.sql.functions`), the converter
    * rewrites every node into the analyzer-resolvable catalyst form.
    * Required by function-registry builders that expand to
    * Column-API compositions.
    */
  def toResolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A frame over an already-built logical plan, and `f` run with
    * `spark` as the thread's active session (physical nodes take
    * their session from it when they are built or copied).
    * `Dataset.ofRows` and `withActive` are `private[sql]`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def withActive[T](spark: SparkSession)(f: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(f)

  /** SQL `text` as a frame whose single-part table names in `views`
    * (matched case-insensitively) read those frames: parsed with the
    * session's parser, each such name — in the body, in CTE
    * definitions and in subqueries — replaced by its view's analyzed
    * plan, then analyzed. Nothing is registered in the session's
    * catalog, so concurrent callers binding the same name to
    * different frames cannot see each other's. A CTE must not reuse
    * a name in `views`.
    */
  def sqlOver(spark: SparkSession, text: String,
      views: Map[String, DataFrame]): DataFrame = {
    val byName = views.map { case (n, v) => n.toLowerCase(Locale.ROOT) -> v }
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformDownWithSubqueries {
      case UnresolvedRelation(Seq(name), _, _)
          if byName.contains(name.toLowerCase(Locale.ROOT)) =>
        SubqueryAlias(name, byName(name.toLowerCase(Locale.ROOT)).queryExecution.analyzed)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, depth) =>
          (n, bind(q).asInstanceOf[SubqueryAlias], depth) })
    }
    ofRows(spark, bind(spark.sessionState.sqlParser.parsePlan(text)))
  }

  /** Physically plan `df` the way Spark plans a subquery: its
    * optimized plan (cached data substituted) through the planner and
    * the preparation rules, WITHOUT adaptive execution and without
    * touching the session's conf — so the caller's concurrent queries
    * keep their AQE while this plan keeps a fixed shape.
    */
  def planWithoutAqe(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    withActive(qe.sparkSession)(
      QueryExecution.prepareExecutedPlan(qe.sparkSession, qe.optimizedPlan))
  }

  /** Register a SQL function on a LIVE session (the post-hoc twin of
    * `SparkSessionExtensions.injectFunction`, for sessions the caller
    * didn't build — e.g. the driver gate's). `sessionState` is
    * `private[sql]`, hence the forwarder lives here.
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
      builder)

  // synthetic task attempt ids of calling-thread evaluations: far
  // above any id the scheduler hands out, and never negative — the
  // block manager's lock markers (NO_WRITER -1, NON_TASK_WRITER -1024)
  // are, and a writer with such an id cannot downgrade its lock
  private[spark] val LocalAttemptBase = 1L << 62
  private val localAttempts = new AtomicLong(LocalAttemptBase)

  /** `f` over the rows of `rdd`'s ONE partition, evaluated on the
    * calling thread as a task's body would be, with no job: no
    * scheduler round trip, no task binary, no result serialization.
    *
    * Like a task, the evaluation runs on its own copy of the lineage
    * (a closure-serializer round trip of the RDD and its partition,
    * every dependency resolved first so it serializes): a prepared
    * plan's calls share the expression objects of every node they did
    * not rebind, and some hold evaluation state (a higher-order
    * function keeps its lambda variables' values in the instance), so
    * no two calls may evaluate on the same instances. Only cached
    * blocks are shared. The task context holds the caller's local
    * properties (the query's SQL conf), a synthetic attempt id
    * registered with the block manager and a `TaskMemoryManager` of
    * its own; completion listeners run, and block locks, unroll and
    * execution memory are released and the thread's previous task
    * context restored, also when `f` throws. A call that completes merges its accumulator
    * updates (a cache block's statistics, SQL metrics) into the
    * driver's accumulators, as the scheduler does for a task; no
    * listener event carries them.
    */
  def evalLocally[T](rdd: RDD[InternalRow])(f: Iterator[InternalRow] => T): T = {
    val env = SparkEnv.get
    def resolve(r: RDD[_]): Unit = r.dependencies.foreach(d => resolve(d.rdd))
    resolve(rdd)
    val parts = rdd.partitions
    require(parts.length == 1, s"a local evaluation reads one partition, not ${parts.length}")
    val bytes = env.closureSerializer.newInstance().serialize((rdd, parts(0)))
    val attempt = localAttempts.getAndIncrement()
    val memory = new TaskMemoryManager(env.memoryManager, attempt)
    val context = new TaskContextImpl(stageId = -1, stageAttemptNumber = 0,
      partitionId = parts(0).index, taskAttemptId = attempt, attemptNumber = 0,
      numPartitions = 1, taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      metricsSystem = env.metricsSystem)
    val previous = TaskContext.get()
    env.blockManager.registerTask(attempt)
    TaskContext.setTaskContext(context)
    InputFileBlockHolder.initialize()
    try {
      // deserialized under the context, so the copy's accumulators
      // register with it, as in a task
      val (own, split) = env.closureSerializer.newInstance()
        .deserialize[(RDD[InternalRow], Partition)](bytes)
      val result = try f(own.iterator(split, context)) catch {
        case e: Throwable =>
          try context.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          try context.markTaskCompleted(Some(e)) catch { case t: Throwable => e.addSuppressed(t) }
          throw e
      }
      context.markTaskCompleted(None)
      // what the scheduler does with a finished task's updates: a
      // cache block's size statistics, SQL metrics
      context.taskMetrics.withExternalAccums(_.toList).foreach { copy =>
        AccumulatorContext.get(copy.id).foreach { acc =>
          acc.synchronized(acc.asInstanceOf[AccumulatorV2[Any, Any]]
            .merge(copy.asInstanceOf[AccumulatorV2[Any, Any]]))
        }
      }
      result
    } finally {
      Utils.tryLogNonFatalError {
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
      }
      if (previous == null) TaskContext.unset() else TaskContext.setTaskContext(previous)
      InputFileBlockHolder.unset()
      env.blockManager.releaseAllLocksForTask(attempt)
      memory.cleanUpAllAllocatedMemory()
    }
  }
}

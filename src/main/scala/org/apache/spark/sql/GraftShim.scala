package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

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

  /** Re-expose an already-planned DataFrame as a LAZY frame over its
    * physical plan's RDD (`queryExecution.toRdd` builds the RDD DAG
    * without executing). Actions on the result run ONE job that
    * re-executes only the stages Spark hasn't computed yet — shuffle
    * map stages from earlier executions of the same DAG are served
    * from their existing map outputs — with none of the re-planning a
    * fresh action on the original frame would do under the session's
    * CURRENT conf (which is the point: serving plans are prepared
    * under a scoped 1-partition/no-AQE conf and must keep that shape).
    * `internalCreateDataFrame` is `private[sql]`, hence the forwarder.
    */
  def overPreparedPlan(spark: SparkSession, prepared: DataFrame): DataFrame = {
    val classicDf = prepared.asInstanceOf[classic.DataFrame]
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      classicDf.queryExecution.toRdd, classicDf.schema, isStreaming = false)
  }

  /** A frame over an already-built logical plan, and `f` run with
    * `spark` as the thread's active session (physical nodes take
    * their session from it when they are built or copied).
    * `Dataset.ofRows` and `withActive` are `private[sql]`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def withActive[T](spark: SparkSession)(f: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(f)

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
}

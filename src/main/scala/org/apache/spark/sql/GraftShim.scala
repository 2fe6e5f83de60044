package org.apache.spark.sql

import java.util.Locale
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
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
}

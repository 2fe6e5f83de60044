package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Attribute, AttributeMap, Cast, Expression, ExpressionInfo, LambdaFunction, LeafExpression, Literal, Multiply, NamedExpression, NamedLambdaVariable, SubqueryExpression, ZipWith}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import graft.functions.VecDot

/** Catalyst optimizer rule: rewrite the interpreted higher-order
  * dot-product pattern
  * {{{ aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v) }}}
  * into the codegen'd [[graft.functions.VecDot]] kernel.
  *
  * Why a RULE and not just the `vec_dot` helper: `ArrayAggregate` is
  * `CodegenFallback` — any query spelling the dot product with
  * public HOFs (including plain SQL users who never import this
  * library's helpers) drops out of whole-stage codegen and boxes two
  * lambda calls per element. The rewrite is semantics-preserving:
  * identical left-to-right double accumulation, and identical null
  * behavior (`zip_with` length-padding → null element → null sum ≡
  * VecDot's null-on-mismatch; see VecExprsSpec). It fires only when
  * both sides are `array<float>` or both `array<double>` — the
  * mixed-type HOF falls through untouched.
  */
object VecKernelRewrite extends Rule[LogicalPlan] {

  /** The lambda variable `v`, possibly under WIDENING casts to double
    * (the canonical twin writes `x.cast("double")`; for double input
    * the cast is already simplified away by the time the optimizer
    * fixpoints). Only double-target casts unwrap: a narrowing cast in
    * the chain (e.g. a deliberate round-to-float) changes semantics
    * and must block the rewrite.
    */
  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case c: Cast if c.dataType == DoubleType => isVar(c.child, v)
    case x: NamedLambdaVariable => x.exprId == v.exprId
    case _ => false
  }

  private def bothVars(l: Expression, r: Expression,
      a: NamedLambdaVariable, b: NamedLambdaVariable): Boolean =
    (isVar(l, a) && isVar(r, b)) || (isVar(l, b) && isVar(r, a))

  private def eligible(a: Expression, b: Expression): Boolean =
    (a.dataType, b.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => true
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(mul @ Multiply(mx, my, _),
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0d, DoubleType),
          LambdaFunction(Add(al, ar, _),
            Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(f: NamedLambdaVariable), _))
        if eligible(a, b) && mul.dataType == DoubleType &&
          bothVars(mx, my, x, y) && bothVars(al, ar, acc, v) &&
          fin.exprId == f.exprId =>
        // mul.dataType == DoubleType matters for float arrays: a
        // lambda multiplying raw floats rounds each product to float
        // — VecDot (widen-then-multiply) would change results, so
        // only the cast-to-double spelling rewrites
        VecDot(a, b)
    }
}

/** A query parameter: a non-foldable leaf standing for a value bound
  * per call, so one planned query serves every value. Unbound (the
  * prepared template) it cannot be evaluated. Bound, its generated
  * code reads the value from the stage's `references` array
  * (`ctx.addReferenceObj`) instead of inlining it, so every value
  * generates the SAME source and hits Spark's compile cache.
  */
case class Param(name: String, dataType: DataType, value: Option[Any] = None)
    extends LeafExpression {

  override def nullable: Boolean = false

  private def bound: Any =
    value.getOrElse(throw new IllegalStateException(s"parameter $name is not bound"))

  override def eval(input: InternalRow): Any = bound

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj(name, bound, CodeGenerator.boxedType(dataType))
    val v = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"final $javaType ${ev.value} = $v;", isNull = FalseLiteral)
  }

  override def sql: String = s"param($name)"
  override def toString: String = s"param:$name" + value.fold("")(v => s"=$v")
}

object Param {

  def column(name: String, dataType: DataType): Column = GraftShim.column(Param(name, dataType))

  private def valueOf(values: Map[String, Any], p: Param): Any = CatalystTypeConverters
    .convertToCatalyst(values.getOrElse(p.name,
      throw new IllegalArgumentException(s"no value for parameter ${p.name}")))

  /** `plan` with every Param bound to its value in `values`. */
  def bind(plan: SparkPlan, values: Map[String, Any]): SparkPlan =
    plan.transformAllExpressions { case p: Param => p.copy(value = Some(valueOf(values, p))) }

  /** `plan` with every Param replaced by its value as a literal. */
  def inline(plan: LogicalPlan, values: Map[String, Any]): LogicalPlan =
    plan.transformAllExpressions { case p: Param => Literal(valueOf(values, p), p.dataType) }
}

/** A logical leaf over a prepared physical `plan` whose Params are
  * bound for one call, planned by [[PreparedPlanning]] into that
  * physical tree, so `queryExecution.executedPlan` shows it. The
  * analyzed `template` and the call's `values` reproduce the same call
  * through normal planning ([[Prepared.inlined]]).
  */
case class PreparedRelation(output: Seq[Attribute], plan: SparkPlan,
    template: LogicalPlan, values: Map[String, Any])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): PreparedRelation = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = template.stats
}

/** Runs a prepared physical plan as one leaf. The plan shows as an
  * inner child; keeping it out of `children` keeps the caller's
  * preparation rules (codegen collapse, AQE) from re-preparing it.
  *
  * Collecting or taking from it evaluates the plan's one partition on
  * the calling thread ([[GraftShim.evalLocally]]), as
  * `LocalTableScanExec` answers from the driver: a served call pays
  * no job. `doExecute` serves a frame that composes a prepared frame
  * into a larger plan.
  */
case class PreparedExec(output: Seq[Attribute], plan: SparkPlan) extends LeafExecNode {
  override def innerChildren: Seq[SparkPlan] = Seq(plan)
  override def outputPartitioning: Partitioning = plan.outputPartitioning match {
    case SinglePartition => SinglePartition
    case p => UnknownPartitioning(p.numPartitions)
  }
  override protected def doExecute(): RDD[InternalRow] = plan.execute()
  override def executeCollect(): Array[InternalRow] =
    GraftShim.evalLocally(plan.execute())(_.map(_.copy()).toArray)
  override def executeTake(n: Int): Array[InternalRow] =
    GraftShim.evalLocally(plan.execute())(_.take(n).map(_.copy()).toArray)
}

/** Plans a [[PreparedRelation]] as its [[PreparedExec]], and a
  * projection straight over one into the prepared leaf (as Spark folds
  * a projection into a local relation), so `show` on a served frame
  * also evaluates on the calling thread. A projection holding a
  * subquery stays an ordinary node: the leaf's plan is not prepared
  * again, so a subquery inside it would never be planned.
  */
object PreparedPlanning extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: PreparedRelation => PreparedExec(r.output, r.plan) :: Nil
    case Project(list, r: PreparedRelation) if !list.exists(SubqueryExpression.hasSubquery) =>
      val toPlan = AttributeMap(r.output.zip(r.plan.output))
      val bound = list.map(_.transform {
        case a: Attribute if toPlan.contains(a) => toPlan(a)
      }.asInstanceOf[NamedExpression])
      PreparedExec(plan.output, ProjectExec(bound, r.plan)) :: Nil
    case _ => Nil
  }
}

/** A prepared query: a frame built over [[Param]]s, analyzed and
  * physically planned ONCE (without adaptive execution), then served
  * per call by binding values into a copy of that physical plan.
  */
final class Prepared private (template: LogicalPlan, physical: SparkPlan) {

  /** A frame for one call: `values` bound into a per-call copy of the
    * physical plan — no analysis, optimization or planning of the
    * query itself. Lazy, and independent of any other call's frame:
    * every node holding or above a Param is copied; a Param-free
    * subtree (a scan) is shared, as when one frame is collected twice.
    */
  def bind(spark: SparkSession, values: Map[String, Any]): DataFrame = {
    Prepared.install(spark)
    val bound = GraftShim.withActive(spark)(Param.bind(physical, values))
    GraftShim.ofRows(spark, PreparedRelation(physical.output, bound, template, values))
  }
}

object Prepared {

  /** Prepare `df`. Its plan must answer in ONE partition, and every
    * exchange in it must be a broadcast over no [[Param]]: a served
    * call evaluates that partition on the calling thread, where no map
    * stage runs, and a Param below an exchange would rebuild it per
    * call — or, below a shuffle, could be served a map output written
    * under another call's values. A Param-free broadcast is built once
    * per plan and read by every call.
    */
  def apply(df: DataFrame): Prepared = {
    val physical = GraftShim.planWithoutAqe(df)
    val parts = physical.outputPartitioning.numPartitions
    require(parts == 1,
      s"a prepared plan must answer in one partition, this one has $parts:\n${physical.treeString}")
    def holdsParam(p: SparkPlan) = p.exists(_.expressions.exists(_.exists(_.isInstanceOf[Param])))
    physical.foreach {
      case e: BroadcastExchangeExec if !holdsParam(e) =>
      case e: Exchange => throw new IllegalArgumentException(
        s"a prepared plan must hold no ${e.nodeName} (only a broadcast over no parameter):\n" +
          physical.treeString)
      case _ =>
    }
    new Prepared(df.queryExecution.analyzed, physical)
  }

  /** The same call as `df` (a [[Prepared.bind]] frame), its Params
    * inlined as literals and planned the normal way.
    */
  def inlined(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case r: PreparedRelation =>
      GraftShim.ofRows(df.sparkSession, Param.inline(r.template, r.values))
    case other => throw new IllegalArgumentException(s"not a prepared frame: $other")
  }

  // the sessions PreparedPlanning is registered on
  private val installed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register [[PreparedPlanning]] on `spark` once: the first bind on a
    * session adds it to the session's extra strategies (concurrent
    * first binds wait for it), every later bind only finds the session
    * here.
    */
  private def install(spark: SparkSession): Unit =
    installed.computeIfAbsent(spark, { s =>
      s.experimental.extraStrategies = PreparedPlanning +: s.experimental.extraStrategies
      java.lang.Boolean.TRUE
    })
}

/** `SparkSessionExtensions` entry point: register via
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Injects:
  *  - [[VecKernelRewrite]] into the operator-optimization batch;
  *  - `vec_dot(array, array)` as a SQL-callable function, so pure-SQL
  *    clients reach the codegen'd kernel directly;
  *  - the scalar text-analysis family (`graft_lang_id`,
  *    `graft_normalize`, `graft_token_count`, `graft_fingerprint`,
  *    `graft_hash_bucket`) — each expands to the same pure-Column
  *    expression tree the DataFrame API builds, so SQL clients get
  *    identical (codegen'd, UDF-free) semantics.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => VecKernelRewrite)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"vec_dot takes exactly 2 arguments, got ${children.length}")
        VecDot(children.head, children(1))
      }))
    (GraftExtensions.textFunctions ++ GraftExtensions.sketchFunctions)
        .foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Text", name),
        builder))
    }
  }
}

object GraftExtensions {
  import org.apache.spark.sql.GraftShim.{column, toResolvableExpression}
  import graft.functions.Text

  private def arity1(name: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : (String, Seq[Expression] => Expression) =
    name -> { children: Seq[Expression] =>
      require(children.length == 1, s"$name takes exactly 1 argument, got ${children.length}")
      toResolvableExpression(f(column(children.head)))
    }

  /** Scalar text functions exposed to SQL. `graft_hash_bucket`'s
    * bucket count must be a foldable integer literal (it sizes the
    * expression tree).
    */
  val textFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    arity1("graft_lang_id", Text.langId),
    arity1("graft_normalize", Text.normalize),
    arity1("graft_token_count", Text.tokenCount),
    arity1("graft_fingerprint", Text.fingerprint),
    "graft_hash_bucket" -> { children: Seq[Expression] =>
      require(children.length == 2,
        s"graft_hash_bucket takes exactly 2 arguments, got ${children.length}")
      val buckets = children(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_hash_bucket: bucket count must be an integer literal, got $other")
      }
      toResolvableExpression(Text.hashBucket(column(children.head), buckets))
    })

  /** The integer log-histogram sketch kernels
    * ([[graft.serving.Serving.logBucket]]/[[graft.serving.Serving.logBucketEdge]])
    * exposed to SQL — a pure-SQL client can build, merge, and query
    * the DDSketch-shaped quantile state with the identical integer
    * semantics the serving layer materializes.
    */
  val sketchFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    arity1("graft_log_bucket", graft.serving.Serving.logBucket),
    arity1("graft_log_edge", graft.serving.Serving.logBucketEdge))

  /** Register the text family + vec_dot on a LIVE session (the
    * driver-gate pathway — the driver owns session construction, so
    * `spark.sql.extensions` is out of reach there). Idempotent:
    * re-registration replaces the same entries.
    */
  def registerTextFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    (textFunctions ++ sketchFunctions).foreach { case (name, builder) =>
      org.apache.spark.sql.GraftShim.registerFunction(spark, name, builder)
    }
    org.apache.spark.sql.GraftShim.registerFunction(spark, "vec_dot", { children =>
      require(children.length == 2,
        s"vec_dot takes exactly 2 arguments, got ${children.length}")
      VecDot(children.head, children(1))
    })
  }
}

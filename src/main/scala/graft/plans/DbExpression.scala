package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Greatest, Literal, Log10, Multiply, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the engine's hottest scalar: the fused
  * dB transform `10·log10(max(v, 1e-10))`
  * (`/root/reference/src/core/processing/pipeline.rs:18-20`).
  *
  * The composed builtin form (`lit(10)*log10(greatest(v, 1e-10))`) is
  * three expression nodes; this is one, with `doGenCode` emitting the
  * fused Java directly into whole-stage codegen — the (b)-tier extension
  * point of SURVEY §2.10 (native Expression > UDF), kept semantically
  * identical to `PixelOps.toDb` (verified by spec).
  *
  * Registered as SQL function `graft_db` via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`), so plain SQL
  * users get the fused form too.
  */
case class DbExpression(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = DoubleType

  /** Null semantics match the composed form exactly: `Greatest` skips
    * NULL operands, so `greatest(NULL, 1e-10) = 1e-10` and the composed
    * expression yields `10*log10(1e-10) = -100.0` for NULL input. This
    * expression must be value-invisible under [[FuseDbRule]], so NULL maps
    * to -100.0 too and the result is never null.
    */
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val x = if (v == null) 1e-10 else math.max(v.asInstanceOf[Double], 1e-10)
    10.0 * math.log10(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        double ${ev.value} = 10.0 * java.lang.Math.log10(
          ${childGen.isNull} ? 1e-10 : java.lang.Math.max(${childGen.value}, 1e-10));
      """
    ev.copy(code = code, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DbExpression =
    copy(child = newChild)

  override def prettyName: String = "graft_db"
}

/** Optimizer rule: rewrite the composed-builtin dB pattern
  * `10.0 * log10(greatest(x, 1e-10))` (the shape every `PixelOps.toDb`
  * call site produces) into the fused native [[DbExpression]] — one
  * codegen'd node instead of three. Semantics are identical
  * (`Math.log10`/`Math.max` are exactly the builtin implementations), so
  * this is a pure physical rewrite.
  */
object FuseDbRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Multiply(Literal(10.0, DoubleType),
          Log10(Greatest(Seq(x, Literal(1e-10, DoubleType)))), _) =>
        DbExpression(x)
      case Multiply(Log10(Greatest(Seq(x, Literal(1e-10, DoubleType)))),
          Literal(10.0, DoubleType), _) =>
        DbExpression(x)
    }
}

/** SparkSessionExtensions installer: `graft_db` as a SQL function.
  * Activate with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * at session build time, or [[GraftExtensions.register]] on a live
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dbFunction)
    ext.injectFunction(DotProductExpr.function)
    ext.injectFunction(RunStatsExpr.function)
    ext.injectOptimizerRule(_ => FuseDbRule)
  }
}

object GraftExtensions {
  val dbFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_db"),
    new ExpressionInfo(classOf[DbExpression].getName, "graft_db"),
    (children: Seq[Expression]) => DbExpression(Cast(children.head, DoubleType)))

  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Register on an already-created session (e.g. when getOrCreate
    * returned a session built without the extensions config). Every
    * session graft touches passes through here first.
    *
    * It also sets [[ArtifactIsolationKey]] to `false` unless the caller
    * set that key explicitly. Spark keys its codegen cache by (context
    * classloader, code), and with isolation on (Spark's default) the
    * executor runs each session's tasks under that session's own
    * `ExecutorClassLoader`, so every fresh session recompiled the
    * generated classes an earlier session had already compiled. graft
    * adds no session artifacts (jars, files, classes), so there is
    * nothing to isolate: with the key off, tasks share one classloader
    * and the cache serves every later session. Spark reads the key once
    * per session, on its first query, so this must come before that.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.conf.getAll.contains(ArtifactIsolationKey))
      spark.conf.set(ArtifactIsolationKey, "false")
    spark.sessionState.functionRegistry.registerFunction(
      dbFunction._1, dbFunction._2, dbFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      DotProductExpr.function._1, DotProductExpr.function._2, DotProductExpr.function._3)
    spark.sessionState.functionRegistry.registerFunction(
      RunStatsExpr.function._1, RunStatsExpr.function._2, RunStatsExpr.function._3)
    if (!spark.experimental.extraOptimizations.contains(FuseDbRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseDbRule
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Codegen'd Catalyst scalar expressions for the special functions Spark
 * lacks (no digamma/trigamma/lgamma built-ins — SURVEY.md §2.9). These stay
 * inside whole-stage codegen, unlike Scala UDFs, so they can sit in the
 * M-step's hot aggregation path.
 */
abstract class GammaUnary extends UnaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  protected def fn: String // static method on graft.functions.GammaFuncs
  override protected def nullSafeEval(v: Any): Any = evalDouble(v.asInstanceOf[Double])
  protected def evalDouble(x: Double): Double
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GammaFuncs.$fn($c)")
}

case class Digamma(child: Expression) extends GammaUnary {
  override protected def fn: String = "digamma"
  override protected def evalDouble(x: Double): Double = GammaFuncs.digamma(x)
  override protected def withNewChildInternal(c: Expression): Digamma = copy(child = c)
  override def prettyName: String = "digamma"
}

case class Trigamma(child: Expression) extends GammaUnary {
  override protected def fn: String = "trigamma"
  override protected def evalDouble(x: Double): Double = GammaFuncs.trigamma(x)
  override protected def withNewChildInternal(c: Expression): Trigamma = copy(child = c)
  override def prettyName: String = "trigamma"
}

case class LogGammaExpr(child: Expression) extends GammaUnary {
  override protected def fn: String = "logGamma"
  override protected def evalDouble(x: Double): Double = GammaFuncs.logGamma(x)
  override protected def withNewChildInternal(c: Expression): LogGammaExpr = copy(child = c)
  override def prettyName: String = "lgamma"
}

/** log(exp(a)+exp(b)) — the reference's LogMath.add as a codegen'd binary. */
case class LogAdd(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GammaFuncs.logAdd(a.asInstanceOf[Double], b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GammaFuncs.logAdd($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LogAdd =
    copy(left = l, right = r)
  override def prettyName: String = "log_add"
}

/** Column-level facade, mirroring org.apache.spark.sql.functions style.
  * Inputs are cast to double here (the expressions themselves are
  * double-only, since AbstractDataType is private to the sql package). */
object gfunctions {
  private def dbl(c: Column): Expression = {
    val e = shim.toExpr(c)
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  }
  def digamma(c: Column): Column = shim.toColumn(Digamma(dbl(c)))
  def trigamma(c: Column): Column = shim.toColumn(Trigamma(dbl(c)))
  def lgamma(c: Column): Column = shim.toColumn(LogGammaExpr(dbl(c)))
}

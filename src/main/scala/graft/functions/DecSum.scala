package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Compiled fast path for the [[graft.Exact]] sum recipe.
  *
  * `dec_unscaled(x, s)` maps a double to the unscaled long of its exact
  * DECIMAL(·,s) rounding — the same `BigDecimal.valueOf(d).setScale(s,
  * HALF_UP)` Spark's `round(double, s)` + decimal cast perform — so
  * `SUM(dec_unscaled(x, s))` over LONG reproduces
  * `SUM(CAST(ROUND(x, s) AS DECIMAL(38,s)))` bit-for-bit while staying
  * inside whole-stage codegen's primitive hash aggregate (the decimal
  * aggregation path boxes a Decimal per row). `unscaled_dbl(u, ts, os)`
  * converts the summed unscaled value back: exact decimal at scale ts,
  * HALF_UP re-round to os (identity when os = ts), then the same
  * BigDecimal→double conversion a decimal cast performs.
  *
  * Exactness bound: each term and the running sum must fit a long —
  * |Σ x|·10^s < 2⁶³ (e.g. s = 2 → |Σ| < 9.2e16). Both kernels use
  * checked arithmetic and Spark sums LONG with ANSI overflow checks, so
  * exceeding the bound fails loudly instead of wrapping; beyond it, use
  * the DECIMAL(38) formulation.
  */
object DecSum {

  def unscaled(x: Double, s: Int): Long =
    java.math.BigDecimal.valueOf(x).setScale(s, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  def toDouble(u: Long, termScale: Int, outScale: Int): Double = {
    val d = java.math.BigDecimal.valueOf(u, termScale)
    (if (outScale >= termScale) d else d.setScale(outScale, RoundingMode.HALF_UP))
      .doubleValue()
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("dec_unscaled", classOf[DecUnscaled])(exprs => DecUnscaled(exprs(0), exprs(1))),
    Kernels.kernel("unscaled_dbl", classOf[UnscaledDbl])(
      exprs => UnscaledDbl(exprs(0), exprs(1), exprs(2))))
}

case class DecUnscaled(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "dec_unscaled"
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.foldable && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dec_unscaled expects (double, foldable int), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(x: Any, s: Any): Any =
    DecSum.unscaled(x.asInstanceOf[Double], s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, s) =>
      s"${ev.value} = graft.functions.DecSum.unscaled($x, $s);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class UnscaledDbl(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = "unscaled_dbl"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = first.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == LongType &&
        second.foldable && second.dataType == IntegerType &&
        third.foldable && third.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unscaled_dbl expects (long, foldable int, foldable int), got " +
        s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")

  override protected def nullSafeEval(u: Any, ts: Any, os: Any): Any =
    DecSum.toDouble(u.asInstanceOf[Long], ts.asInstanceOf[Int], os.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, ts, os) =>
      s"${ev.value} = graft.functions.DecSum.toDouble($u, $ts, $os);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

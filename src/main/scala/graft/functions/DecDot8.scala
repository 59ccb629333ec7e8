package graft.functions

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native exact-decimal dot product `dec_dot8(xs, ys)` → DOUBLE: the
  * compiled twin of the `graft.Exact` HOF recipe
  *
  *   Σ CAST(round(x·y, 8) AS DECIMAL(30,8))   (then CAST to DOUBLE)
  *
  * Per term it reproduces Spark's `round(double, 8)` exactly —
  * `BigDecimal.valueOf(d)` (shortest decimal representation) rescaled
  * HALF_UP — and accumulates the UNSCALED longs, which is the same
  * order-free exact decimal sum the HOF fold and the DuckDB
  * `list_sum(... DECIMAL(38,8))` mirror produce. `dec_dot8(a, a)` is
  * the exact squared norm. Null element / length mismatch → NULL
  * (matching `zip_with` + ANSI null propagation).
  *
  * Why: the HOF formulation walks an interpreted expression tree per
  * element with BigDecimal boxing at every step — on the IVF paths
  * (q44/q52/q54 assignment + search) those folds dominate the query.
  * One static call per pair keeps the exactness contract at compiled
  * speed.
  */
case class DecDot8(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "dec_dot8"

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def elemFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dec_dot8 expects two array<float|double>, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DecDot8.compute(a.asInstanceOf[ArrayData], elemFloat(left),
      b.asInstanceOf[ArrayData], elemFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh per-instance local: two dec_dot8 calls can share one codegen
      // scope (e.g. both operands non-nullable), where a fixed name would
      // collide and fail Janino compilation
      val ddr = ctx.freshName("ddr")
      s"""
         |java.lang.Double $ddr = graft.functions.DecDot8.compute(
         |  $a, ${elemFloat(left)}, $b, ${elemFloat(right)});
         |if ($ddr == null) { ${ev.isNull} = true; } else { ${ev.value} = $ddr.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DecDot8 {

  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    // Fast path: unscaled-long accumulation with checked arithmetic. A single
    // term only fits a long while |x·y| ≲ 9.2e10 (unscaled = value·1e8); the
    // running sum can overflow even earlier. Either condition falls back to
    // BigInteger accumulation, preserving the exactness contract at any
    // magnitude instead of silently wrapping.
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      // Spark round(double, 8): shortest-repr BigDecimal, HALF_UP; the
      // rescaled unscaled value IS the exact DECIMAL(·,8) term
      val term = java.math.BigDecimal.valueOf(x * y)
        .setScale(8, RoundingMode.HALF_UP).unscaledValue()
      try {
        acc = Math.addExact(acc, term.longValueExact())
      } catch {
        case _: ArithmeticException =>
          return computeWide(a, aFloat, b, bFloat, acc, term, i, n)
      }
      i += 1
    }
    java.lang.Double.valueOf(java.math.BigDecimal.valueOf(acc, 8).doubleValue())
  }

  /** Overflow continuation: resume from element `i` (whose term is already
    * computed) with arbitrary-precision accumulation. Exactness is identical
    * to the long path — only the carrier type widens.
    */
  private def computeWide(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean,
      accSoFar: Long, pendingTerm: java.math.BigInteger, from: Int, n: Int): java.lang.Double = {
    var acc = java.math.BigInteger.valueOf(accSoFar).add(pendingTerm)
    var i = from + 1
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc = acc.add(java.math.BigDecimal.valueOf(x * y)
        .setScale(8, RoundingMode.HALF_UP).unscaledValue())
      i += 1
    }
    java.lang.Double.valueOf(new java.math.BigDecimal(acc, 8).doubleValue())
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("dec_dot8", classOf[DecDot8])(exprs => DecDot8(exprs(0), exprs(1))))
}

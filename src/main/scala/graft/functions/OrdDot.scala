package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native ordered-double dot product `ord_dot(xs, ys)` → DOUBLE: the
  * compiled twin of the ordered-fold HOF recipe
  *
  *   aggregate(zip_with(xs, ys, (x, y) -> x·y), 0.0, (acc, v) -> acc + v)
  *
  * Plain IEEE double math, left-to-right — the SAME add sequence the HOF
  * and the DuckDB `list_reduce(list_prepend(0.0, ...))` mirror perform,
  * so results stay bit-identical across engines while skipping the
  * interpreted per-element lambda walk (~100× less CPU on 64-dim
  * arrays; the hot-path profile that motivated this was q160's ~500k
  * pairwise dots). `ord_dot(a, a)` is the ordered squared norm — the
  * fold `acc + x·x` performs identical operations.
  *
  * Null element or length mismatch → NULL, matching the HOF: a null
  * `zip_with` term (or the null padding on ragged lengths) poisons the
  * running sum.
  */
case class OrdDot(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "ord_dot"

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
      s"ord_dot expects two array<float|double>, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    OrdDot.compute(a.asInstanceOf[ArrayData], elemFloat(left),
      b.asInstanceOf[ArrayData], elemFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val odr = ctx.freshName("odr")
      s"""
         |java.lang.Double $odr = graft.functions.OrdDot.compute(
         |  $a, ${elemFloat(left)}, $b, ${elemFloat(right)});
         |if ($odr == null) { ${ev.isNull} = true; } else { ${ev.value} = $odr.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object OrdDot {

  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("ord_dot", classOf[OrdDot]) {
      case Seq(a, b) => OrdDot(a, b)
      case exprs => throw new IllegalArgumentException(
        s"ord_dot requires exactly 2 arguments (got ${exprs.length})")
    })
}

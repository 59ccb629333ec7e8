package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native banded random-hyperplane LSH encoder:
  * `lsh_band_codes(embedding, n_bands, bits_per_band)` → `ARRAY<BIGINT>`
  * of per-band sign-bit codes over the deterministic integer hyperplanes
  * `w(i, j) = ((i·64 + j) · 2654435761) % 2001 − 1000` (plane i
  * 0-based, component j 1-based — the same family q37/q39 mirror in
  * DuckDB).
  *
  * Replaces n_bands × bits_per_band interpreted
  * `aggregate(transform(sequence(...)))` folds per row (32 tree-walks
  * per vector in q39) with ONE compiled loop over the vector; each
  * plane's projection accumulates in component order, so every sign —
  * and therefore every code — is bit-identical to the HOF fold and the
  * DuckDB `list_reduce` mirror.
  */
case class LshBandCodes(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def prettyName: String = "lsh_band_codes"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def intish(dt: DataType) = dt == IntegerType || dt == LongType
    val arrOk = first.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (arrOk && intish(second.dataType) && intish(third.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lsh_band_codes expects (array<float|double>, int, int), got " +
        s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
  }

  private val elemIsFloat = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(arr: Any, bands: Any, bits: Any): Any =
    LshBandCodes.compute(arr.asInstanceOf[ArrayData], elemIsFloat,
      bands.asInstanceOf[Number].intValue(), bits.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.LshBandCodes.compute($a, $elemIsFloat, (int)($b), (int)($c))")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object LshBandCodes {

  def compute(arr: ArrayData, isFloat: Boolean, nBands: Int, bits: Int): ArrayData = {
    val n = arr.numElements()
    val codes = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var code = 0L
      var bit = 0
      while (bit < bits) {
        val plane = b * bits + bit
        // ordered accumulation in component order — matches the
        // aggregate() left fold and DuckDB list_reduce bit-for-bit
        var acc = 0.0
        var j = 1
        while (j <= n) {
          val w = ((plane * 64L + j) * 2654435761L) % 2001L - 1000L
          val x =
            if (arr.isNullAt(j - 1)) Double.NaN
            else if (isFloat) arr.getFloat(j - 1).toDouble
            else arr.getDouble(j - 1)
          acc += w.toDouble * x
          j += 1
        }
        if (acc > 0) code |= 1L << bit
        bit += 1
      }
      codes(b) = code
      b += 1
    }
    new GenericArrayData(codes)
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("lsh_band_codes", classOf[LshBandCodes])(
      exprs => LshBandCodes(exprs(0), exprs(1), exprs(2))))
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Banded random-hyperplane LSH encoder over an md5-derived coefficient
  * family: `lsh_band_codes_md5(embedding, n_bands, bits_per_band)` →
  * `ARRAY<BIGINT>`, coefficients
  * `w(plane, j) = h48("lshp#<plane>#<j>") % 2001 − 1000` (plane 0-based,
  * component j 1-based; h48 = the repo's portable 48-bit md5 fold, so a
  * DuckDB or Spark-SQL mirror can reproduce every coefficient).
  *
  * WHY THIS EXISTS (round 16): the [[LshBandCodes]] linear-congruential
  * family `((plane·64 + j) · 2654435761) % 2001 − 1000` is algebraically
  * DEGENERATE — every plane is the same arithmetic progression mod 2001
  * (step 1207) at a different starting offset, and the offset step per
  * plane is 1210, so planes p and p+5 start only 47/2001 apart: they are
  * near-duplicate hyperplanes whose sign bits agree on ~95 % of rows.
  * Widening a band past ~5 bits therefore adds almost no entropy — the
  * corpus piles into a handful of period-5 code patterns (measured:
  * 22 k-member buckets at 21 bits on an ISOTROPIC 2 M corpus, the real
  * driver of q72's 454× scale step; KernelParitySpec pins both the
  * degeneracy and this family's independence). The NARROW catalog
  * queries (q37/q39, 8-bit codes — below the period-5 knee) keep the
  * LCG family as the documented exhibit; every ≥ 16-bit surface —
  * catalog q72 (round 17, retiring its LCG encoder), the width-law
  * production twin ([[graft.vec.VectorQueries.adaptiveNearDup]]) and
  * its q184 gate — encodes with this family, whose coefficients are
  * independent across planes.
  *
  * The coefficient table is built once per (planes, dim) on first use
  * (≤ 128 × dim md5 calls, driver/executor-local static cache) — the
  * per-row loop reads the table, so throughput matches [[LshBandCodes]].
  */
case class LshBandCodesMd5(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def prettyName: String = "lsh_band_codes_md5"

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
      s"lsh_band_codes_md5 expects (array<float|double>, int, int), got " +
        s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
  }

  private val elemIsFloat = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(arr: Any, bands: Any, bits: Any): Any =
    LshBandCodesMd5.compute(arr.asInstanceOf[ArrayData], elemIsFloat,
      bands.asInstanceOf[Number].intValue(), bits.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.LshBandCodesMd5.compute($a, $elemIsFloat, (int)($b), (int)($c))")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object LshBandCodesMd5 {

  /** Portable coefficient: first 12 md5 hex digits of "lshp#p#j" as a
    * 48-bit int, mod 2001, shifted to [−1000, 1000] — the same h48 fold
    * every hash-derived value in this engine uses, so any SQL engine
    * with md5() can mirror the table.
    */
  private[graft] def coef(plane: Int, j: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"lshp#$plane#$j".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  private def table(planes: Int, dim: Int): Array[Long] =
    cache.computeIfAbsent((planes, dim), { _ =>
      val a = new Array[Long](planes * dim)
      var p = 0
      while (p < planes) {
        var j = 1
        while (j <= dim) { a(p * dim + j - 1) = coef(p, j); j += 1 }
        p += 1
      }
      a
    })

  def compute(arr: ArrayData, isFloat: Boolean, nBands: Int, bits: Int): ArrayData = {
    val n = arr.numElements()
    val w = table(nBands * bits, n)
    val codes = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var code = 0L
      var bit = 0
      while (bit < bits) {
        val plane = b * bits + bit
        // ordered accumulation in component order (the engine contract)
        var acc = 0.0
        var j = 1
        while (j <= n) {
          val x =
            if (arr.isNullAt(j - 1)) Double.NaN
            else if (isFloat) arr.getFloat(j - 1).toDouble
            else arr.getDouble(j - 1)
          acc += w(plane * n + j - 1).toDouble * x
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
    Kernels.kernel("lsh_band_codes_md5", classOf[LshBandCodesMd5])(
      exprs => LshBandCodesMd5(exprs(0), exprs(1), exprs(2))))
}

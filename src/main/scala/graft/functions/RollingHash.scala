package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for TRUE Rabin–Karp document
  * fingerprinting: `rolling_hash(text, width, base, mod)` returns
  * `STRUCT<doc_fp: BIGINT, wins: ARRAY<BIGINT>>` — the whole-document
  * polynomial hash plus the hash of every `width`-char window, all from
  * ONE O(n) pass:
  *
  *   prefix  h[0] = 0,  h[i] = (h[i−1]·B + c_i) mod M
  *   window  w[i] = (h[i+width] − h[i]·B^width) mod M   — O(1) each
  *
  * (B^width mod M precomputed once). This is the real rolling recurrence;
  * the HOF formulation it replaces re-Hornered each window from scratch
  * (8× the arithmetic) through interpreted `slice`+`aggregate` lambdas —
  * the same pathology [[DeepBookAgg]]'s scaladoc describes. Like there,
  * `doGenCode` emits a single static call that whole-stage codegen
  * inlines.
  *
  * EXACTNESS: by the prefix identity, w[i] ≡ the per-window Horner value
  * (mod M), and both land in [0, M), so they are EQUAL — the DuckDB
  * oracle can keep its per-window `list_reduce` Horner mirror and still
  * hash-match bit-for-bit. Characters are Unicode code points (what
  * `ascii(substring(text, i, 1))` yields in both engines). Windows at the
  * tail of a short text truncate to the remaining chars, matching
  * `slice(codes, i, width)` semantics; an empty text yields one window of
  * hash 0. Requires 1 < mod ≤ 3,037,000,499 (√Long.Max) so h·B^w never
  * overflows a long; code points < mod.
  */
case class RollingHash(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def prettyName: String = "rolling_hash"

  override def dataType: DataType = RollingHash.outType

  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def intish(dt: DataType) = dt == IntegerType || dt == LongType
    if (first.dataType == StringType && intish(second.dataType) &&
      intish(third.dataType) && intish(fourth.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash expects (string, int, int, int), got " +
          s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}, ${fourth.dataType.sql})")
  }

  override protected def nullSafeEval(str: Any, w: Any, b: Any, m: Any): Any =
    RollingHash.compute(str.asInstanceOf[UTF8String],
      w.asInstanceOf[Number].intValue(), b.asInstanceOf[Number].longValue(),
      m.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, w, b, m) =>
      s"graft.functions.RollingHash.compute($s, (int)($w), (long)($b), (long)($m))")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object RollingHash {

  val outType: StructType = StructType(Seq(
    StructField("doc_fp", LongType, nullable = false),
    StructField("wins", ArrayType(LongType, containsNull = false), nullable = false)))

  /** O(n) prefix-hash kernel; see the class doc for the exactness
    * contract with the Horner-per-window oracle mirror.
    */
  def compute(str: UTF8String, width: Int, base: Long, mod: Long): InternalRow = {
    val s = str.toString
    // code points (== ascii(substring(text, i, 1)) per position)
    var n = 0
    val codes = new Array[Int](s.length)
    var k = 0
    while (k < s.length) {
      val cp = s.codePointAt(k)
      codes(n) = cp
      n += 1
      k += Character.charCount(cp)
    }
    // prefix hashes
    val h = new Array[Long](n + 1)
    var i = 0
    while (i < n) {
      h(i + 1) = (h(i) * base + codes(i)) % mod
      i += 1
    }
    // B^k mod M for k ≤ width (tail windows truncate)
    val w = math.max(width, 1)
    val pw = new Array[Long](w + 1)
    pw(0) = 1L % mod
    k = 1
    while (k <= w) { pw(k) = pw(k - 1) * base % mod; k += 1 }

    val nWins = math.max(n - w + 1, 1)
    val wins = new Array[Long](nWins)
    i = 0
    while (i < nWins) {
      val end = math.min(i + w, n)
      var v = (h(end) - h(i) * pw(end - i)) % mod
      if (v < 0) v += mod
      wins(i) = v
      i += 1
    }

    val out = new GenericInternalRow(2)
    out.update(0, h(n))
    out.update(1, new GenericArrayData(wins))
    out
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("rolling_hash", classOf[RollingHash])(
      exprs => RollingHash(exprs(0), exprs(1), exprs(2), exprs(3))))
}

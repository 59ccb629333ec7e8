package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level Levenshtein distance: `lev_bytes(a, b)` over the UTF-8
  * octets of two strings.
  *
  * Spark's built-in `levenshtein` counts CHARACTER edits while DuckDB's
  * counts BYTE edits ('é'→'e' costs 2 there, '字' deletion costs 3) —
  * measured, not documented. This kernel implements the byte
  * convention so the oracle mirror can use DuckDB's built-in directly
  * and still hash-match on non-ASCII corpora.
  *
  * Classic two-row DP, O(|a|·|b|) time / O(min) space; a codegen'd
  * static call like the other graft kernels. Intended for VERIFYING
  * bounded candidate sets (LSH survivors), never for all-pairs scans —
  * the quadratic cost rides on a candidate generator that already
  * bounded the pair count.
  */
case class LevBytes(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "lev_bytes"

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lev_bytes expects (string, string), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LevBytes.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LevBytes.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LevBytes {

  def compute(a: UTF8String, b: UTF8String): Int = {
    val xa = a.getBytes
    val xb = b.getBytes
    // iterate over the longer, keep the DP row on the shorter
    val (s, t) = if (xa.length <= xb.length) (xa, xb) else (xb, xa)
    val n = s.length
    if (n == 0) return t.length
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= t.length) {
      cur(0) = i
      val ti = t(i - 1)
      j = 1
      while (j <= n) {
        val sub = prev(j - 1) + (if (s(j - 1) == ti) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        cur(j) = math.min(sub, math.min(del, ins))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      i += 1
    }
    prev(n)
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("lev_bytes", classOf[LevBytes])(exprs => LevBytes(exprs(0), exprs(1))))
}

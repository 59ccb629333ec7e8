package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro–Winkler similarity `jaro_winkler(s1, s2)` → DOUBLE —
  * the verify kernel of the record-linkage operator (q169).
  *
  * Semantics pinned BIT-FOR-BIT to DuckDB's
  * `jaro_winkler_similarity` (probed empirically; DuckDB vendors the
  * rapidfuzz definition), so the oracle mirror can use the native
  * function and still hash-match:
  *
  *   - either string empty → 0.0 (including both empty);
  *   - match window = ⌊max(|a|,|b|)/2⌋ − 1, clamped ≥ 0;
  *   - transpositions t = ⌊k/2⌋ where k = positional mismatches
  *     between the two matched-character sequences (INTEGER halving —
  *     verified on 'abcdef'/'bcadef' where k is odd);
  *   - jaro = (m/|a| + m/|b| + (m−t)/m) / 3, left-associated adds;
  *   - winkler bonus only when jaro > 0.7 (strict): jw = jaro +
  *     min(ℓ,4)·0.1·(1−jaro), ℓ = common prefix length.
  *
  * Comparison is per UTF-16 char of the decoded string — identical to
  * byte-wise for the ASCII identifiers the catalog links. O(|a|·|b|)
  * worst case with an O(|a|+|b|) common-prefix/window walk — the
  * interpreted HOF alternative (two array lambdas per candidate pair)
  * measured ~40× slower on the q169 verify stage.
  */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "jaro_winkler"

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects (string, string), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaroWinkler {

  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val (la, lb) = (a.length, b.length)
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // positional mismatches between the matched subsequences
    var k = 0
    var bi = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(bi)) bi += 1
        if (a.charAt(i) != b.charAt(bi)) k += 1
        bi += 1
      }
      i += 1
    }
    val t = k / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val lim = math.min(math.min(la, lb), 4)
      while (l < lim && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("jaro_winkler", classOf[JaroWinkler]) {
      case Seq(a, b) => JaroWinkler(a, b)
      case exprs => throw new IllegalArgumentException(
        s"jaro_winkler requires exactly 2 arguments (got ${exprs.length})")
    })
}

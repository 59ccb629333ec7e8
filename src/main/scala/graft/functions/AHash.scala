package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native Catalyst kernel for a byte-bigram-histogram average-hash over
  * an opaque BINARY payload: `ahash_bands(payload)` returns
  * `ARRAY<INT>` of four 16-bit band codes (a 64-bit perceptual hash
  * split for Hamming-LSH banding).
  *
  * This is the aHash idea from image near-dup detection (mean-threshold
  * bits over a reduced representation) applied to a payload the engine
  * treats as opaque bytes — the reduced representation is a 64-bin
  * hashed BYTE-BIGRAM histogram, not positional segments, so the hash
  * is a bag-of-bigrams signature: robust to the small insert/delete
  * edits that shift every downstream byte position (the corpus's
  * near-dup families drift by ±4-char edits). Plain byte-VALUE
  * histograms are degenerate on natural text (every document shares the
  * same letter distribution, so all pairs collapse to Hamming ≈ 0 —
  * measured on the test corpus); bigrams carry enough vocabulary signal
  * that true near-dups sit at Hamming ≤ 2 while the background mass
  * starts at 3+.
  *
  *   bin_i  = #{ k < n−1 : (b_k·31 + b_{k+1}) mod 64 == i },  i ∈ [0, 64)
  *   bit_i  = 1  iff  bin_i > (n−1)/64      (integer division, strict >)
  *   band_j = Σ_{k<16} bit_{16j+k} << k,    j ∈ [0, 4)
  *
  * EXACTNESS: pure integer math over the UTF-8 octets, mirrored in the
  * DuckDB oracle via `hex(encode(text))` nibble parsing — bit-identical
  * band codes in both engines. A 4-band split makes the band-equality
  * candidate join EXACT for Hamming ≤ 3 (pigeonhole) and a documented
  * heuristic above; the oracle mirrors the same banding so the catalog
  * query is engine-exact at any threshold. One O(n) pass per row,
  * inlined by whole-stage codegen via a single static call.
  */
case class AHashBands(child: Expression) extends UnaryExpression {

  override def prettyName: String = "ahash_bands"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ahash_bands expects BINARY, got ${child.dataType.sql}")

  override protected def nullSafeEval(payload: Any): Any =
    AHashBands.compute(payload.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.AHashBands.compute($b)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AHashBands {

  /** O(n) histogram + threshold; see the class doc for the oracle
    * exactness contract.
    */
  def compute(bytes: Array[Byte]): GenericArrayData = {
    val bins = new Array[Int](64)
    val ng = math.max(bytes.length - 1, 0)
    var i = 0
    while (i < ng) {
      bins(((bytes(i) & 0xff) * 31 + (bytes(i + 1) & 0xff)) % 64) += 1
      i += 1
    }
    val mean = ng / 64
    val bands = new Array[Int](4)
    var j = 0
    while (j < 4) {
      var code = 0
      var k = 0
      while (k < 16) {
        if (bins(16 * j + k) > mean) code |= 1 << k
        k += 1
      }
      bands(j) = code
      j += 1
    }
    new GenericArrayData(bands.map(x => x: Any))
  }

  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("ahash_bands", classOf[AHashBands])(exprs => AHashBands(exprs(0))))
}

package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass text kernels for the dedup layer (the
  * custom-`Expression` tier of the operator ladder, like [[DeepBookAgg]]
  * and [[RollingHash]]).
  *
  * Why: the HOF/explode formulations they replace pay two avoidable
  * costs at scale — (a) Spark's collection ops on NON-PRIMITIVE element
  * types (`array_distinct`, `array_intersect`, `array_union` on
  * `array<string>`) fall back to O(n²) nested scans, and (b) exploding
  * ~300 shingles per document into rows just to aggregate them back
  * per `doc_id` materializes a 300× row stream through the hash-agg
  * machinery (map-side combinable, but still per-row interpreted
  * expression evaluation). Each kernel here is one tight JVM loop per
  * document with a hash set for distinctness — O(len) per row,
  * shuffle-free, inlined by whole-stage codegen via a static call.
  *
  * EXACTNESS CONTRACT (with the DuckDB oracle mirrors and the HOF
  * formulations): shingles are `width` consecutive Unicode code points
  * (what `substring(text, i, w)` / `substr` yield), positions
  * 1..max(len−width+1, 1) with the tail shingle truncated; hashes are
  * MD5 over the shingle's UTF-8 bytes (identical to Catalyst
  * `md5(cast(s AS binary))` and DuckDB `md5(s)`), hex lowercase;
  * SimHash votes read hex digits (digit ≥ '8' ⟺ high nibble bit), and
  * MinHash span-mins compare 8-hex-char slices LEXICOGRAPHICALLY —
  * ASCII hex ordering, portable across all three paths.
  */
object TextKernels {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Digest `prefix ++ suffix` into `out` (16 bytes) without building
    * the concatenated string — the hot-loop path (one call per
    * (shingle, salt); string-building here was ~half the signature
    * stage's wall). `suffix` may be empty.
    */
  private def md5Into(d: MessageDigest, prefix: Array[Byte], suffix: Array[Byte],
                      out: Array[Byte]): Unit = {
    d.reset()
    d.update(prefix)
    if (suffix.length > 0) d.update(suffix)
    d.digest(out, 0, 16)
  }

  private def md5Hex(s: String): String = {
    val d = md5Local.get()
    d.reset()
    val b = d.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Distinct shingles of `width` code points (tail truncated, degenerate
    * short text yields its single truncated shingle).
    */
  private def distinctShingles(str: UTF8String, width: Int): java.util.LinkedHashSet[String] = {
    val s = str.toString
    // code point offsets so shingles slice by characters, not UTF-16 units
    val n = s.codePointCount(0, s.length)
    val offs = new Array[Int](n + 1)
    var k = 0
    var i = 0
    while (k < s.length) { offs(i) = k; k = s.offsetByCodePoints(k, 1); i += 1 }
    offs(n) = s.length
    val nPos = math.max(n - width + 1, 1)
    val set = new java.util.LinkedHashSet[String](math.max(16, nPos * 2))
    i = 0
    while (i < nPos) {
      set.add(s.substring(offs(i), offs(math.min(i + width, n))))
      i += 1
    }
    set
  }

  // ------------------------------------------------------------------
  /** `shingle_agg(text, width)` →
    * `STRUCT<n_positions: BIGINT, n_distinct: BIGINT, simhash: BIGINT>`
    * — shingle-position count, distinct-shingle count, and the SimHash-32
    * fingerprint (votes over md5 hex digits of each DISTINCT shingle),
    * one pass, no explode, no shuffle.
    */
  case class ShingleAgg(left: Expression, right: Expression) extends BinaryExpression {
    override def prettyName: String = "shingle_agg"
    override def dataType: DataType = ShingleAgg.outType
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType &&
        (right.dataType == IntegerType || right.dataType == LongType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"shingle_agg expects (string, int), got (${left.dataType.sql}, ${right.dataType.sql})")
    override protected def nullSafeEval(t: Any, w: Any): Any =
      ShingleAgg.compute(t.asInstanceOf[UTF8String], w.asInstanceOf[Number].intValue())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, w) =>
        s"graft.functions.TextKernels.shingleAggCompute($t, (int)($w))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  object ShingleAgg {
    val outType: StructType = StructType(Seq(
      StructField("n_positions", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("simhash", LongType, nullable = false),
      StructField("simhash64", LongType, nullable = false)))

    def compute(text: UTF8String, width: Int): InternalRow =
      TextKernels.shingleAggCompute(text, width)
  }

  def shingleAggCompute(text: UTF8String, width: Int): InternalRow = {
    val set = distinctShingles(text, width)
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    val votes = new Array[Int](32)
    // 64-bit votes: bit b = 4j + k votes on bit k of hex digit j's
    // value (the fleet-scale fingerprint — 16-bit bands stay selective
    // as the corpus grows; the 32-bit hex-digit-majority variant is the
    // gate-SF fingerprint with its DuckDB mirror in q32)
    val votes64 = new Array[Int](64)
    val d = md5Local.get()
    val digest = new Array[Byte](16)
    val it = set.iterator()
    while (it.hasNext) {
      md5Into(d, it.next().getBytes(StandardCharsets.UTF_8),
        Array.emptyByteArray, digest)
      // hex digit 2i is byte i's high nibble, 2i+1 its low nibble;
      // "digit ≥ '8'" ⟺ nibble ≥ 8; digit VALUE bits drive votes64
      var bi = 0
      while (bi < 16) {
        val hi = (digest(bi) >> 4) & 0xf
        val lo = digest(bi) & 0xf
        if (hi >= 8) votes(2 * bi) += 1 else votes(2 * bi) -= 1
        if (lo >= 8) votes(2 * bi + 1) += 1 else votes(2 * bi + 1) -= 1
        if (bi < 8) {
          var k = 0
          while (k < 4) {
            if (((hi >> k) & 1) == 1) votes64(8 * bi + k) += 1 else votes64(8 * bi + k) -= 1
            if (((lo >> k) & 1) == 1) votes64(8 * bi + 4 + k) += 1
            else votes64(8 * bi + 4 + k) -= 1
            k += 1
          }
        }
        bi += 1
      }
    }
    var sim = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) sim |= 1L << j
      j += 1
    }
    var sim64 = 0L
    j = 0
    while (j < 64) {
      if (votes64(j) > 0) sim64 |= 1L << j
      j += 1
    }
    val out = new GenericInternalRow(4)
    out.update(0, math.max(n - width + 1, 1).toLong)
    out.update(1, set.size().toLong)
    out.update(2, sim)
    out.update(3, sim64)
    out
  }

  // ------------------------------------------------------------------
  /** `minhash_spans(text, width, nsalts)` → `ARRAY<STRING>` of MinHash
    * components: for each salt k (or a single UNSALTED md5 when
    * nsalts = 0), the lexicographic min over distinct shingles of md5
    * hex, sliced into four disjoint 8-hex-char spans — salt-major order,
    * so nsalts = 0 → 4 components, nsalts = 4 → 16. One md5 per
    * (shingle, salt), no explode, no shuffle; min over raw vs distinct
    * shingles is identical (min is duplicate-insensitive).
    */
  case class MinhashSpans(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
    override def prettyName: String = "minhash_spans"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = {
      def intish(dt: DataType) = dt == IntegerType || dt == LongType
      if (first.dataType == StringType && intish(second.dataType) && intish(third.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"minhash_spans expects (string, int, int), got " +
          s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    }
    override protected def nullSafeEval(t: Any, w: Any, k: Any): Any =
      TextKernels.minhashSpansCompute(t.asInstanceOf[UTF8String],
        w.asInstanceOf[Number].intValue(), k.asInstanceOf[Number].intValue())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, w, k) =>
        s"graft.functions.TextKernels.minhashSpansCompute($t, (int)($w), (int)($k))")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  def minhashSpansCompute(text: UTF8String, width: Int, nSalts: Int): GenericArrayData = {
    val set = distinctShingles(text, width)
    val salts = math.max(nSalts, 1)
    val unsalted = nSalts == 0
    val saltBytes: Array[Array[Byte]] =
      if (unsalted) Array(Array.emptyByteArray)
      else Array.tabulate(salts)(k => ("#" + k).getBytes(StandardCharsets.UTF_8))
    // an 8-hex-char span is 4 digest bytes; lexicographic order on
    // lowercase hex ≡ unsigned order on the 32-bit value, so the min
    // scan runs on longs and only the final mins get hex-formatted
    val mins = Array.fill[Long](salts * 4)(-1L)
    val d = md5Local.get()
    val digest = new Array[Byte](16)
    val it = set.iterator()
    while (it.hasNext) {
      val shBytes = it.next().getBytes(StandardCharsets.UTF_8)
      var k = 0
      while (k < salts) {
        md5Into(d, shBytes, saltBytes(k), digest)
        var j = 0
        while (j < 4) {
          val v = ((digest(4 * j) & 0xffL) << 24) | ((digest(4 * j + 1) & 0xffL) << 16) |
            ((digest(4 * j + 2) & 0xffL) << 8) | (digest(4 * j + 3) & 0xffL)
          val idx = 4 * k + j
          if (mins(idx) == -1L || v < mins(idx)) mins(idx) = v
          j += 1
        }
        k += 1
      }
    }
    new GenericArrayData(mins.map { m =>
      if (m == -1L) UTF8String.EMPTY_UTF8
      else {
        val out = new Array[Char](8)
        var i = 0
        while (i < 8) { out(i) = hexDigits(((m >> (4 * (7 - i))) & 0xf).toInt); i += 1 }
        UTF8String.fromString(new String(out))
      }
    })
  }

  // ------------------------------------------------------------------
  /** `shingle_overlap(text_a, text_b, width)` →
    * `STRUCT<n_inter: BIGINT, n_union: BIGINT>`: exact
    * intersection/union sizes of the two distinct-shingle sets
    * (hash-set membership, O(len), vs the O(n²) non-primitive
    * `array_intersect`/`array_union`). Jaccard derives as the guarded
    * ratio of the two exact integers — bit-portable by construction.
    */
  case class ShingleOverlap(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
    override def prettyName: String = "shingle_overlap"
    override def dataType: DataType = ShingleOverlap.outType
    override def checkInputDataTypes(): TypeCheckResult =
      if (first.dataType == StringType && second.dataType == StringType &&
        (third.dataType == IntegerType || third.dataType == LongType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"shingle_overlap expects (string, string, int), got " +
          s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    override protected def nullSafeEval(a: Any, b: Any, w: Any): Any =
      TextKernels.shingleOverlapCompute(a.asInstanceOf[UTF8String],
        b.asInstanceOf[UTF8String], w.asInstanceOf[Number].intValue())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, w) =>
        s"graft.functions.TextKernels.shingleOverlapCompute($a, $b, (int)($w))")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  object ShingleOverlap {
    val outType: StructType = StructType(Seq(
      StructField("n_inter", LongType, nullable = false),
      StructField("n_union", LongType, nullable = false)))
  }

  def shingleOverlapCompute(a: UTF8String, b: UTF8String, width: Int): InternalRow = {
    val sa = distinctShingles(a, width)
    val sb = distinctShingles(b, width)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val out = new GenericInternalRow(2)
    out.update(0, inter.toLong)
    out.update(1, (sa.size() + sb.size() - inter).toLong)
    out
  }

  // ------------------------------------------------------------------
  /** `shingle_hash48(text, width)` → `ARRAY<BIGINT>`: the distinct
    * shingles' md5 hex-prefixes as 48-bit values — one loop per
    * document, no per-shingle string rows, longs instead of hex
    * strings across the downstream shuffle. EXACTNESS: each value is
    * the first 12 hex chars of `md5(shingle)` read as an unsigned
    * 48-bit integer, identical to the DuckDB fold over
    * `substr(md5(sh), 1, 12)` and to Catalyst
    * `conv(substr(md5(sh), 1, 12), 16, 10)`. Order is first-occurrence
    * (LinkedHashSet) — consumers must treat it as a set.
    */
  case class ShingleHash48(left: Expression, right: Expression)
    extends BinaryExpression {
    override def prettyName: String = "shingle_hash48"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType &&
        (right.dataType == IntegerType || right.dataType == LongType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"shingle_hash48 expects (string, int), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    override protected def nullSafeEval(t: Any, w: Any): Any =
      TextKernels.shingleHash48Compute(t.asInstanceOf[UTF8String],
        w.asInstanceOf[Number].intValue())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, w) =>
        s"graft.functions.TextKernels.shingleHash48Compute($t, (int)($w))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def shingleHash48Compute(text: UTF8String, width: Int): GenericArrayData = {
    val set = distinctShingles(text, width)
    val out = new Array[Long](set.size())
    val d = md5Local.get()
    val digest = new Array[Byte](16)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) {
      md5Into(d, it.next().getBytes(StandardCharsets.UTF_8), Array.emptyByteArray, digest)
      out(i) = ((digest(0) & 0xffL) << 40) | ((digest(1) & 0xffL) << 32) |
        ((digest(2) & 0xffL) << 24) | ((digest(3) & 0xffL) << 16) |
        ((digest(4) & 0xffL) << 8) | (digest(5) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------------------
  /** `char_grams(text, width)` → `ARRAY<STRING>`: ALL width-code-point
    * grams at positions 1..max(n−width+1, 1) (tail truncated only for
    * degenerate sub-width text), order preserved, duplicates KEPT —
    * the positional gram stream `transform(sequence(1, n−w+1), i ->
    * substring(text, i, w))` yields, built in one loop instead of one
    * interpreted lambda + UTF8String allocation per position (measured
    * ~4 s → sub-second for the 2.5M-gram q113 build at sf0.1).
    * Positions come from `posexplode` downstream (idx + 1).
    */
  case class CharGrams(left: Expression, right: Expression) extends BinaryExpression {
    override def prettyName: String = "char_grams"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType &&
        (right.dataType == IntegerType || right.dataType == LongType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"char_grams expects (string, int), got (${left.dataType.sql}, ${right.dataType.sql})")
    override protected def nullSafeEval(t: Any, w: Any): Any =
      TextKernels.charGramsCompute(t.asInstanceOf[UTF8String], w.asInstanceOf[Number].intValue())
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, w) =>
        s"graft.functions.TextKernels.charGramsCompute($t, (int)($w))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def charGramsCompute(str: UTF8String, width: Int): GenericArrayData = {
    val nCp = str.numChars()
    val nPos = math.max(nCp - width + 1, 1)
    val out = new Array[Any](nPos)
    var i = 0
    while (i < nPos) {
      out(i) = str.substringSQL(i + 1, width)
      i += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------------------
  /** `sorted_inter_count(a, b)` → `BIGINT`: intersection size of two
    * ascending-sorted duplicate-free BIGINT arrays by one merge scan —
    * O(|a|+|b|) per pair, zero allocation, no per-pair hash set. For
    * inputs satisfying the contract (`array_sort` over a set, e.g. a
    * sorted [[ShingleHash48]] array) this equals
    * `size(array_intersect(a, b))` exactly; unsorted inputs produce
    * undefined counts. Exists for the verify stage of windowed dedup
    * (q153): each document meets ~2·W window partners, so sorting once
    * per document and merge-counting per pair replaces ~2·W hash-set
    * builds — the dominant 1000×-scale cost measured in PERF.md r15.
    */
  case class SortedInterCount(left: Expression, right: Expression)
    extends BinaryExpression {
    override def prettyName: String = "sorted_inter_count"
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = {
      def longArray(dt: DataType) = dt match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
      if (longArray(left.dataType) && longArray(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"sorted_inter_count expects (array<bigint>, array<bigint>), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }
    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextKernels.sortedInterCountCompute(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.TextKernels.sortedInterCountCompute($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def sortedInterCountCompute(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  // ------------------------------------------------------------------
  val registrations: Seq[Kernels.Registration] = Seq(
    Kernels.kernel("shingle_agg", classOf[ShingleAgg])(exprs => ShingleAgg(exprs(0), exprs(1))),
    Kernels.kernel("minhash_spans", classOf[MinhashSpans])(
      exprs => MinhashSpans(exprs(0), exprs(1), exprs(2))),
    Kernels.kernel("shingle_overlap", classOf[ShingleOverlap])(
      exprs => ShingleOverlap(exprs(0), exprs(1), exprs(2))),
    Kernels.kernel("shingle_hash48", classOf[ShingleHash48])(exprs => ShingleHash48(exprs(0), exprs(1))),
    Kernels.kernel("char_grams", classOf[CharGrams])(exprs => CharGrams(exprs(0), exprs(1))),
    Kernels.kernel("sorted_inter_count", classOf[SortedInterCount])(
      exprs => SortedInterCount(exprs(0), exprs(1))))
}

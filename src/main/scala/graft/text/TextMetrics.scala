package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis and dedup primitives for the LLM-data-pipeline layer
  * (builder brief: language-ID, quality scoring, token counting,
  * fingerprinting, exact + MinHash/SimHash/n-gram dedup).
  *
  * All scalar ops are pure Column expressions (codegen'd, shuffle-free);
  * set-valued ops use higher-order functions over shingle arrays so the
  * per-document work never leaves its row. Only MinHash/SimHash
  * signatures use an explode + groupBy(doc_id) pass — integer/string
  * aggregation, order-insensitive, safe under any partitioning.
  */
object TextMetrics {

  /** Whitespace token count; 0 for blank text. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Character count excluding whitespace. */
  def charsNoWs(text: Column): Column = length(regexp_replace(text, "\\s", ""))

  /** Count of a character class, via length difference. */
  def classCount(text: Column, charClass: String): Column =
    length(text) - length(regexp_replace(text, charClass, ""))

  /** Distinct character n-gram (shingle) array; degenerate short texts
    * yield the single truncated shingle.
    */
  def shingles(n: Int): Column =
    expr(s"array_distinct(transform(sequence(1, greatest(length(text) - ${n - 1}, 1)), i -> substring(text, i, $n)))")

  /** Raw (non-distinct) shingle array — O(len) per row. Prefer this for
    * duplicate-insensitive consumers (MinHash min, Jaccard
    * intersect/union). For consumers that NEED distinctness, prefer
    * [[shingles]] (per-row array_distinct): it is O(len²) on string
    * arrays in the worst case, but at realistic document sizes that
    * beats shuffling the exploded shingle stream into a distributed
    * distinct, and it keeps the dedup map-side at any scale.
    */
  def shinglesRaw(n: Int): Column =
    expr(s"transform(sequence(1, greatest(length(text) - ${n - 1}, 1)), i -> substring(text, i, $n))")

  /** n-gram Jaccard similarity between two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni > 0, inter.cast("double") / uni)
  }

  /** MinHash signature component k: min over shingles of md5(s ∥ "#k").
    * Lexicographic min over hex strings — portable across engines, no
    * integer-hash dependence. Call over an exploded shingle column.
    */
  def minhashAgg(shingle: Column, k: Int): Column =
    min(md5(concat(shingle, lit(s"#$k")).cast("binary")))

  /** MinHash component from span j (0-based) of a PRE-COMPUTED md5-hex
    * column: min over shingles of its 8-hex-char (32-bit) slice. Four
    * independent-in-the-LSH-sense components per md5 — hash once,
    * slice four times (the salted [[minhashAgg]] costs one md5 each).
    */
  def minhashSpanAgg(md5Hex: Column, j: Int): Column =
    min(substring(md5Hex, 1 + 8 * j, 8))

  /** LSH band id from signature components. */
  def bandId(sig: Seq[Column]): Column = md5(concat(sig: _*).cast("binary"))

  /** SimHash-32 bit-vote column over a PRE-COMPUTED md5-hex column (hash
    * once per shingle row — 32 votes would otherwise each recompute it):
    * bit j votes +1 when hex digit j has its high nibble bit set
    * (digit ≥ '8'), else −1.
    */
  def simhashVote(md5Hex: Column, j: Int): Column =
    sum(when(substring(md5Hex, j, 1) >= "8", lit(1)).otherwise(lit(-1)))

  /** Fingerprint from the 32 vote sums: Σ 2^(j−1)·1{vote_j > 0}. */
  def simhashFingerprint(votes: Seq[Column]): Column =
    votes.zipWithIndex.map { case (v, j) =>
      when(v > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Language-ID marker words (toy n-gram heuristic — the engine operator
    * is the scoring/argmax machinery, not linguistic accuracy).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and"),
    "es" -> Seq("el", "la"),
    "de" -> Seq("der", "und"),
    "fr" -> Seq("le", "les"),
    "zh" -> Seq("de", "shi"))
}

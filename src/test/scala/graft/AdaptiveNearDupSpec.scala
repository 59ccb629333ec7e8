package graft

import graft.vec.VectorQueries
import org.apache.spark.sql.functions._

/** The scale-adaptive production twin of q72 (round-15 weak flag: fixed
  * 16-bit bands go quadratic at 2 M rows — 454× step — and the hot-bucket
  * cap starts silently truncating past ~10⁷). Pins the width law, the
  * exactness of the cap-truncation counter (no silent caps), and that at
  * the catalog's width the twin IS q72.
  */
class AdaptiveNearDupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("width law: ceil(log2 N) holds occupancy ~1, clamped to [8, 32]") {
    assert(VectorQueries.adaptiveBandBits(1L) === 8)
    assert(VectorQueries.adaptiveBandBits(256L) === 8)
    assert(VectorQueries.adaptiveBandBits(257L) === 9)
    assert(VectorQueries.adaptiveBandBits(50000L) === 16)
    assert(VectorQueries.adaptiveBandBits(2000000L) === 21)
    assert(VectorQueries.adaptiveBandBits(10000000L) === 24)
    assert(VectorQueries.adaptiveBandBits(1000000000L) === 30)
    assert(VectorQueries.adaptiveBandBits(Long.MaxValue) === 32)
    // monotone: more corpus never means narrower codes
    val pts = Seq(1L, 100L, 10000L, 1000000L, 100000000L, 1L << 40)
      .map(VectorQueries.adaptiveBandBits)
    assert(pts === pts.sorted)
  }

  test("at the catalog width (16 bits) the twin IS q72") {
    // q72 encodes with the md5 family since round 17 (the LCG encoder
    // was the degenerate exhibit), so the twin's DEFAULT family at the
    // catalog width must reproduce it exactly
    val (pairs, _, _, bits) = VectorQueries.adaptiveNearDup(
      spark, dir, bitsOverride = Some(16))
    assert(bits === 16)
    val q72 = SparkEntry.queries("q72_embedding_neardup_wide")(spark, dir)
      .select("id_a", "id_b", "n_bands", "cos_sim")
    assert(pairs.except(q72).isEmpty && q72.except(pairs).isEmpty,
      "bitsOverride=16 must reproduce catalog q72 exactly")
    spark.catalog.clearCache()
  }

  test("cap counter is exact — a truncated bucket is never silent") {
    val bits = 8
    val cap = 2
    val (_, _, audit, _) =
      VectorQueries.adaptiveNearDup(spark, dir, Some(bits), cap = cap)
    // independent recount: per band, sum over (band, code) buckets of
    // max(occupancy - cap, 0)
    val expected = Tables(spark, dir, "embeddings")
      .select(posexplode(expr(s"lsh_band_codes_md5(embedding, 4, $bits)"))
        .as(Seq("band_idx", "code")))
      .groupBy("band_idx", "code").agg(count(lit(1)).as("c"))
      .withColumn("tr", greatest(col("c") - cap, lit(0L)))
      .groupBy("band_idx").agg(sum("tr").as("expected"))
      .filter(col("expected") > 0)
    val mismatch = audit
      .join(expected, Seq("band_idx"), "full")
      .filter(coalesce(col("rows_truncated"), lit(-1L)) =!=
        coalesce(col("expected"), lit(-1L)))
      .count()
    assert(mismatch === 0L, "rows_truncated must equal the recount per band")
    assert(audit.agg(sum("rows_truncated")).first().getLong(0) > 0L,
      "cap=2 at 8 bits must actually truncate on this corpus " +
        "(else the test proves nothing)")
    spark.catalog.clearCache()
  }

  test("LCG plane family is period-5 degenerate; md5 family is not") {
    // The round-16 root cause of q72's 454x step: every LCG plane is the
    // same arithmetic progression mod 2001 at offset 1210·plane, so
    // planes p and p+5 start 47/2001 apart — near-duplicate hyperplanes
    // whose sign bits agree on almost every row. The md5 family's
    // coefficients are independent, so bit (i, i+5) agreement sits near
    // the 50% coin-flip line. Measured over one 16-bit band on the gate
    // corpus, all 11 (i, i+5) bit pairs.
    def agree(fn: String): Double = {
      val code = Tables(spark, dir, "embeddings")
        .select(element_at(expr(s"$fn(embedding, 1, 16)"), 1).as("c"))
      val pairs = (0 until 11).map(i =>
        avg((shiftright(col("c"), i).bitwiseAND(lit(1L)) ===
          shiftright(col("c"), i + 5).bitwiseAND(lit(1L))).cast("int"))
          .as(s"a$i"))
      val r = code.agg(pairs.head, pairs.tail: _*).first()
      (0 until 11).map(r.getDouble).sum / 11
    }
    val lcg = agree("lsh_band_codes")
    val md5 = agree("lsh_band_codes_md5")
    assert(lcg > 0.75, f"LCG (i, i+5) bit agreement should be far above coin-flip: $lcg%.3f")
    assert(md5 > 0.35 && md5 < 0.65,
      f"md5 family bits must be independent (≈0.5 agreement): $md5%.3f")
    assert(lcg - md5 > 0.2,
      f"the degeneracy gap must be wide: lcg=$lcg%.3f md5=$md5%.3f")
    // and the md5 coefficient table is the portable h48 fold (spot pin)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("lshp#0#1".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    assert(graft.functions.LshBandCodesMd5.coef(0, 1) ===
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L)
  }

  test("law width at gate scale: audit empty, twin finds the q72 pairs' ids") {
    val (pairs, _, audit, bits) = VectorQueries.adaptiveNearDup(spark, dir)
    val n = Tables(spark, dir, "embeddings").count()
    assert(bits === VectorQueries.adaptiveBandBits(n))
    // occupancy-1 law + corpus smaller than the cap ⇒ nothing truncated
    assert(audit.count() === 0L,
      "at the law's width no bucket may exceed the hot-bucket cap here")
    assert(pairs.columns.toSeq ===
      Seq("id_a", "id_b", "n_bands", "cos_sim"))
    spark.catalog.clearCache()
  }
}

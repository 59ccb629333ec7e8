package graft

import graft.vec.VectorQueries
import org.apache.spark.sql.functions._

/** Banded-LSH near-dup (q39) structure tests at sf0.001: bucket
  * occupancy must actually shard the join, banding must beat a single
  * band's recall against brute-force ground truth, and every emitted
  * pair must verify above the cosine threshold.
  */
class VecDedupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private lazy val q39 = VectorQueries.q39.run(spark, dir).cache()

  /** Brute-force ground-truth pairs (double math is fine for a bound
    * check — assertions leave 1e-6 slack around the threshold).
    */
  private lazy val truth: Set[(Long, Long)] = {
    val en = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("aggregate(embedding, 0d, (a, x) -> a + CAST(x AS DOUBLE) * x)").as("n2"))
    val p = en.as("a").join(en.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        (expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * y), 0d, (acc, v) -> acc + v)") /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cos"))
    p.filter(col("cos") > 0.15 + 1e-6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("band buckets shard the corpus (occupancy histogram)") {
    // rebuild the band codes exactly as q39 does, via its own output is
    // pair-level — here we just need the code distribution shape
    def plane(i: Int) = expr(
      s"aggregate(transform(sequence(1, size(embedding)), j -> " +
        s"CAST((($i * 64 + j) * 2654435761) % 2001 - 1000 AS DOUBLE) * " +
        s"CAST(element_at(embedding, j) AS DOUBLE)), " +
        s"CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    val withPlanes = (0 to 31).foldLeft(Tables(spark, dir, "embeddings")) { (d, i) =>
      d.withColumn(s"h$i", plane(i))
    }
    def bandCode(b: Int) = (0 to 7).map(i =>
      when(col(s"h${8 * b + i}") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val bands = withPlanes.select(col("vec_id"),
      posexplode(array((0 to 3).map(bandCode): _*))).toDF("vec_id", "band_idx", "code")
    val hist = bands.groupBy("band_idx", "code").count()
      .groupBy("band_idx").agg(
        count(lit(1)).as("n_buckets"), max("count").as("max_occ"), sum("count").as("total"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hist.length === 4)
    hist.foreach { case (b, nBuckets, maxOcc, total) =>
      assert(total === 500L, s"band $b covers every vector")
      assert(nBuckets >= 16, s"band $b uses a spread of codes ($nBuckets)")
      assert(maxOcc < 250L, s"band $b max bucket occupancy $maxOcc must shard the join")
    }
  }

  test("banding beats a single band's recall; emitted pairs verify above threshold") {
    val got = q39.select("id_a", "id_b", "n_bands")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val gotPairs = got.map(_._1).toSet
    assert(got.forall { case (_, nb) => nb >= 1 && nb <= 4 })
    assert(q39.filter(col("cos_sim") <= 0.15).count() === 0,
      "verification keeps only pairs above the threshold")
    val recallAll = gotPairs.count(truth.contains).toDouble / truth.size
    assert(recallAll > 0.0, "banded candidates catch some true pairs")
    // multi-band union is a strict superset of any one band's candidates:
    // pairs caught in exactly one band prove the union adds recall
    assert(got.exists { case (_, nb) => nb == 1 },
      "some pairs are caught by only one band — a single code would lose them")
  }

  test("16-bit bands (q72) generate strictly fewer candidates than 8-bit (q39)") {
    // candidate volume = Σ_buckets n·(n−1)/2 — the quantity that goes
    // N²/2^bits at fixed width (the measured q39 cliff in PERF.md);
    // width is the knob, and this pins the direction of the knob
    def candidateVolume(bits: Int): Long =
      Tables(spark, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(expr(s"lsh_band_codes(embedding, 4, $bits)")))
        .toDF("vec_id", "band_idx", "code")
        .groupBy("band_idx", "code").count()
        .agg(sum(expr("count * (count - 1) / 2"))).collect()(0).getDouble(0).toLong
    val narrow = candidateVolume(8)
    val wide = candidateVolume(16)
    assert(wide < narrow,
      s"wide codes must shrink the candidate set (8-bit: $narrow, 16-bit: $wide)")
    // and the verified outputs of BOTH widths contain only true pairs
    val q72 = vec.VectorQueries.q72.run(spark, dir)
    assert(q72.filter(col("cos_sim") <= 0.15).count() === 0)
  }
}

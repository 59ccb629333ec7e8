package graft

import graft.vec.VectorQueries
import org.apache.spark.sql.functions._

/** Learned-centroid IVF (q54) quality at sf0.001: the seeded k-means
  * cells must recall a healthy fraction of the brute-force (q36) top-3
  * within one probe, and must beat the per-label stand-in cells (q44) —
  * the point of learning centroids from the embedding geometry.
  */
class KmeansIvfSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.filter(col("rnk") <= 3).select("q_id", "c_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private def meanOverlap(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double =
    truth.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size / 3.0 }
      .sum / truth.size

  test("k-means IVF recalls brute-force top-3 better than label cells") {
    val truth = top3(VectorQueries.q36.run(spark, dir))
    val kmeans = meanOverlap(top3(VectorQueries.q54.run(spark, dir)), truth)
    val labels = meanOverlap(top3(VectorQueries.q44.run(spark, dir)), truth)
    info(f"top-3 overlap vs q36 brute force: kmeans=$kmeans%.3f label-cells=$labels%.3f")
    assert(kmeans >= 0.3, f"learned-cell recall $kmeans%.3f below floor")
    assert(kmeans > labels,
      f"learned cells ($kmeans%.3f) should beat the label stand-in ($labels%.3f)")
  }

  test("every vector lands in exactly one learned cell; cells are non-trivial") {
    val out = VectorQueries.q54.run(spark, dir).collect()
    assert(out.length === 24, "8 queries x top-3")
    val perQ = out.groupBy(_.getLong(0))
    assert(perQ.keySet === (0L until 8L).toSet)
    perQ.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L, 3L))
      assert(rows.map(_.getLong(1)).toSet.size === 1, "one cell per query")
    }
  }

  test("withCell: a 1-centroid codebook assigns every vector to that cell") {
    // round 13's least() guard: Spark's least() needs >= 2 args, so a
    // K=1 codebook must bypass it (pre-fix this threw at analysis time)
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(-3.0, 0.5)), (3L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val cent = Seq((7L, Seq(0.5, 0.5), 0.5)).toDF("cid", "cvec", "cnorm2")
    val out = VectorQueries.withCell(emb, cent).select("vec_id", "cell").collect()
    assert(out.length === 3)
    assert(out.forall(_.getLong(1) === 7L), "every vector must land in the single cell")
  }

  test("withCell: an empty codebook frame fails loudly, not with an analysis error") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val cent = Seq.empty[(Long, Seq[Double], Double)].toDF("cid", "cvec", "cnorm2")
    val e = intercept[IllegalArgumentException] {
      VectorQueries.withCell(emb, cent)
    }
    assert(e.getMessage.contains("at least one centroid"))
  }

  test("q167 greedy k-center: radius sequence non-increasing, picks distinct") {
    val df = SparkEntry.queries("q167_kcenter_coreset")(spark, "/root/testdata/sf0.001")
    val rows = df.collect().toIndexedSeq.sortBy(_.getAs[Long]("round"))
    assert(rows.size === 9, "8 picks + the residual row")
    val centers = rows.init.map(_.getAs[Long]("center_id"))
    assert(centers.toSet.size === 8, "greedy picks must be distinct")
    assert(rows.last.get(rows.last.fieldIndex("center_id")) == null)
    // farthest-point property: adding a center can only shrink every
    // point's min-distance, so the pick radii (and the residual) are
    // monotone non-increasing
    val radii = rows.drop(1).map(_.getAs[Double]("radius2"))
    radii.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-12, s"radius grew: $a -> $b")
    }
    assert(radii.forall(_ > 0))
  }
}

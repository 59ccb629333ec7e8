package graft

import org.apache.spark.sql.functions._

/** Parity: the compiled unscaled-long Exact sums must be bit-identical
  * to the DECIMAL(38,s) formulation they replace, including null terms,
  * negatives, empty groups, and the sumExactR two-scale re-round.
  */
class DecSumSpec extends SparkTestBase {

  test("sumExactFast / sumExactRFast ≡ decimal formulation incl. nulls and empty groups") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 5000).map { i =>
      val v = if (i % 97 == 0) None
        else Some((rnd.nextDouble() - 0.5) * math.pow(10.0, i % 7))
      (i % 13, v)
    } :+ (99, None) // group 99: only-null terms → sum NULL in both paths
    val df = rows.toDF("g", "x")
    val agg = df.groupBy("g").agg(
      Exact.sumExact(col("x"), 2).as("dec2"),
      Exact.sumExactFast(col("x"), 2).as("fast2"),
      Exact.sumExactR(col("x") * col("x"), 6, 2).as("decR"),
      Exact.sumExactRFast(col("x") * col("x"), 6, 2).as("fastR"),
      Exact.avgExact(col("x"), 2).as("decA"),
      Exact.avgExactFast(col("x"), 2).as("fastA"))
    val bad = agg.filter(
      not(col("dec2") <=> col("fast2")) ||
      not(col("decR") <=> col("fastR")) ||
      not(col("decA") <=> col("fastA"))).collect()
    assert(bad.isEmpty, s"fast-sum mismatch: ${bad.take(3).mkString("; ")}")
  }

  test("dec_unscaled overflows loudly past the long bound instead of wrapping") {
    val sess = spark
    import sess.implicits._
    val e = intercept[Exception] {
      Seq(1.0e15).toDF("x")
        .select(expr("dec_unscaled(x, 8)")).collect()
    }
    assert(e.getMessage != null)
  }
}

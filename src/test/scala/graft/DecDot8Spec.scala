package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._

/** Contract tests for the native `dec_dot8` kernel: parity with the
  * interpreted HOF decimal fold it replaced, exactness ACROSS the
  * long-accumulator bound (overflow falls back to BigInteger
  * accumulation instead of silently wrapping), and a codegen regression
  * pin for two calls sharing one codegen scope (fresh local names).
  */
class DecDot8Spec extends SparkTestBase {

  private def hof(a: String, b: String): String =
    s"""CAST(aggregate(zip_with($a, $b, (x, y) -> CAST(round(x * y, 8) AS DECIMAL(30,8))),
       |CAST(0 AS DECIMAL(30,8)), (acc, t) -> CAST(acc + t AS DECIMAL(30,8))) AS DOUBLE)""".stripMargin

  private def refDot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = java.math.BigInteger.ZERO
    a.zip(b).foreach { case (x, y) =>
      acc = acc.add(JBigDecimal.valueOf(x * y)
        .setScale(8, RoundingMode.HALF_UP).unscaledValue())
    }
    new JBigDecimal(acc, 8).doubleValue()
  }

  test("dec_dot8 ≡ HOF decimal fold on mixed magnitudes (long fast path)") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      val scale = math.pow(10.0, (i % 9) - 4) // 1e-4 .. 1e4
      val n = 1 + rnd.nextInt(16)
      (Seq.fill(n)((rnd.nextDouble() - 0.5) * scale),
        Seq.fill(n)((rnd.nextDouble() - 0.5) * scale))
    }
    val df = rows.toDF("a", "b")
      .withColumn("native", expr("dec_dot8(a, b)"))
      .withColumn("hofv", expr(hof("a", "b")))
    val bad = df.filter(not(col("native") <=> col("hofv"))).collect()
    assert(bad.isEmpty, s"dec_dot8 vs HOF mismatch: ${bad.take(3).mkString("; ")}")
  }

  test("dec_dot8 stays exact past the long-accumulator bound (wide fallback)") {
    val sess = spark
    import sess.implicits._
    // |x·y| ≈ 1e14 → unscaled term ≈ 1e22 » Long.MaxValue: every term takes
    // the BigInteger continuation. Also mix magnitudes so the overflow
    // happens mid-accumulation, not only on the first element.
    val big = Seq.fill(8)(1.0e7 + 123.456)
    val mixed = Seq(1.5, 2.5e7, -3.25e7, 4.0)
    val rows = Seq((big, big), (mixed, mixed), (Seq(9.0e9), Seq(9.0e9)))
    val out = rows.toDF("a", "b")
      .withColumn("native", expr("dec_dot8(a, b)"))
      .collect().map(_.getDouble(2))
    val expect = rows.map { case (a, b) => refDot(a, b) }
    out.zip(expect).foreach { case (got, want) =>
      assert(got === want, s"wide-path dot: got $got want $want")
    }
  }

  test("two dec_dot8 calls on non-nullable inputs share a codegen scope") {
    val sess = spark
    import sess.implicits._
    // Non-nullable children → nullSafeExec adds no braces → before the
    // freshName fix both calls declared the same local and Janino failed
    // (silently dropping to interpreted). Forbid the silent fallback so a
    // codegen compile error fails the test instead of hiding.
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
        .select(expr("dec_dot8(a, a)").as("na"), expr("dec_dot8(b, b)").as("nb"),
          expr("dec_dot8(a, b)").as("nab"))
      val r = df.collect().head
      assert(r.getDouble(0) === 5.0 && r.getDouble(1) === 25.0 && r.getDouble(2) === 11.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }
}

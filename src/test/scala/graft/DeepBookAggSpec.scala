package graft

import graft.book.{BookMetrics, SyntheticBook}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native Catalyst kernel must be bit-identical to the HOF fold path
  * it replaced (the q50 oracle pins it against DuckDB; this spec pins it
  * against the in-engine HOF implementation, including gap rows where
  * whole sides are invalid), and must stay inside whole-stage codegen.
  */
class DeepBookAggSpec extends SparkTestBase {

  private def deepArrays = {
    val base = SyntheticBook.fromEvents(
      Tables(spark, "/root/testdata/sf0.001", "events"), 0)
    def side(s: String, pm: Int, ps: Int, mm: Int, ms: Int, szm: Int, szk: Int) = expr(
      s"""transform(sequence(1, 100), k -> named_struct(
         'price', CASE WHEN (seq + $pm * k) % $mm = 0 THEN CAST(NULL AS DOUBLE)
                       ELSE best_$s + ${if (s == "bid") "-" else ""}0.01D * (k - 1) END,
         'size',  CASE WHEN (seq + $ps * k) % $ms = 0 THEN CAST(NULL AS DOUBLE)
                       ELSE CAST(1 + (seq + $szk * k) % $szm AS DOUBLE) END))""")
    base
      .withColumn("bids", side("bid", 7, 3, 31, 29, 7, 1))
      .withColumn("asks", side("ask", 5, 2, 37, 23, 5, 2))
  }

  test("native kernel ≡ HOF folds bit-for-bit on the synthetic deep book") {
    val withBoth = deepArrays
      .withColumn("vb", BookMetrics.validLevels(col("bids")))
      .withColumn("va", BookMetrics.validLevels(col("asks")))
      .withColumn("m", expr("deep_book_agg(bids, asks, CAST(50.0 AS DOUBLE))"))
      .withColumn("h_imb", BookMetrics.imbalanceDepthKArray(col("bids"), col("asks")))
      .withColumn("h_ntb", BookMetrics.notionalDepthArray(col("bids")))
      .withColumn("h_nta", BookMetrics.notionalDepthArray(col("asks")))
      .withColumn("h_slb", BookMetrics.bookSlopeValidArray(col("vb")))
      .withColumn("h_sla", BookMetrics.bookSlopeValidArray(col("va")))
      .withColumn("h_wk", graft.impact.Impact.walkArray(col("asks"), lit(50.0)))
    def neq(a: Column, b: Column) = !(a <=> b)
    val bad = withBoth.filter(
      neq(col("m.imbalance_k"), col("h_imb")) ||
        neq(col("m.notional_bid_k"), col("h_ntb")) ||
        neq(col("m.notional_ask_k"), col("h_nta")) ||
        neq(col("m.slope_bid"), col("h_slb")) ||
        neq(col("m.slope_ask"), col("h_sla")) ||
        neq(col("m.walk_filled"), col("h_wk.filled")) ||
        neq(col("m.walk_cost"), col("h_wk.cost")) ||
        neq(col("m.walk_touched"), col("h_wk.touched")))
    assert(bad.count() === 0)
    // gap rows (best_bid NULL → every bid level invalid) must be present
    // so the n = 0 / null-slope path is actually exercised
    val gaps = withBoth.filter(size(col("vb")) === 0).count()
    assert(gaps > 0, "fixture must contain all-invalid sides")
  }

  test("kernel runs inside whole-stage codegen (no interpreted fallback)") {
    val df = deepArrays.withColumn("m", expr("deep_book_agg(bids, asks, CAST(5.0 AS DOUBLE))"))
      .select(col("m.walk_cost"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen spans, got:\n${plan.take(500)}")
    // and it actually evaluates under codegen (would throw on compile fallback)
    assert(df.agg(sum("walk_cost")).collect()(0).getDouble(0) > 0)
  }

  test("type check rejects malformed inputs") {
    val e = intercept[Exception] {
      spark.range(1).selectExpr("deep_book_agg(array(1.0), array(2.0), CAST(1.0 AS DOUBLE))")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("deep_book_agg"))
  }
}

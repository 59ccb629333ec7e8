package graft

import graft.book.{BookMetrics, SyntheticBook}
import org.apache.spark.sql.functions._

/** The array compute schema is the scale path for deep books: these
  * suites pin wide ≡ array equivalence and exercise a real depth-100
  * recording (408-column wide layout) end-to-end through the converters.
  */
class ArraySchemaSpec extends SparkTestBase {

  private lazy val wide =
    SyntheticBook.fromEvents(Tables(spark, "/root/testdata/sf0.001", "events"), 5)
  private lazy val arr = SyntheticBook.toArraySchema(wide, 5)

  test("imbalance_k and notionals: array HOFs equal the wide coalesce-chains") {
    val w = wide.select(col("seq"),
      BookMetrics.imbalanceDepthK(
        BookMetrics.bidLevels(5).map(_._2), BookMetrics.askLevels(5).map(_._2)).as("imb"),
      BookMetrics.notionalDepth(BookMetrics.bidLevels(5)).as("nb"),
      BookMetrics.notionalDepth(BookMetrics.askLevels(5)).as("na"))
    val a = arr.select(col("seq"),
      BookMetrics.imbalanceDepthKArray(col("bids"), col("asks")).as("imb_a"),
      BookMetrics.notionalDepthArray(col("bids")).as("nb_a"),
      BookMetrics.notionalDepthArray(col("asks")).as("na_a"))
    val bad = w.join(a, "seq").filter(
      !(col("imb") <=> col("imb_a")) || !(col("nb") <=> col("nb_a")) ||
        !(col("na") <=> col("na_a")))
    assert(bad.count() === 0)
  }

  test("synth_ladder kernel equals the transform+named_struct formulation") {
    val base = SyntheticBook.fromEvents(
      Tables(spark, "/root/testdata/sf0.001", "events"), 0)
    val K = 100
    val bidsHof = expr(
      s"""transform(sequence(1, $K), k -> named_struct(
         'price', CASE WHEN (seq + 7 * k) % 31 = 0 THEN CAST(NULL AS DOUBLE)
                       ELSE best_bid - 0.01D * (k - 1) END,
         'size',  CASE WHEN (seq + 3 * k) % 29 = 0 THEN CAST(NULL AS DOUBLE)
                       ELSE CAST(1 + (seq + k) % 7 AS DOUBLE) END))""")
    val asksHof = expr(
      s"""transform(sequence(1, $K), k -> named_struct(
         'price', CASE WHEN (seq + 5 * k) % 37 = 0 THEN CAST(NULL AS DOUBLE)
                       ELSE best_ask + 0.01D * (k - 1) END,
         'size',  CASE WHEN (seq + 2 * k) % 23 = 0 THEN CAST(NULL AS DOUBLE)
                       ELSE CAST(1 + (seq + 2 * k) % 5 AS DOUBLE) END))""")
    // null-safe struct-array equality, including the NULL-best rows
    // (seq % 97 / % 89) where only prices go null
    val bad = base
      .withColumn("b_k", expr(s"synth_ladder(seq, best_bid, $K, 0)"))
      .withColumn("a_k", expr(s"synth_ladder(seq, best_ask, $K, 1)"))
      .withColumn("b_h", bidsHof).withColumn("a_h", asksHof)
      .filter(!(col("b_k") <=> col("b_h")) || !(col("a_k") <=> col("a_h")))
    assert(bad.count() === 0)
  }

  test("depth-100 wide recording (408 cols) converts and computes via array HOFs") {
    val deep = spark.read.parquet("/root/reference/data/ETH_bybit_L2_60s.parquet")
    assert(deep.columns.length === 8 + 4 * 100)
    val a100 = SyntheticBook.toArraySchema(deep, 100)
      .withColumn("imb", BookMetrics.imbalanceDepthKArray(col("bids"), col("asks")))
      .withColumn("ntl_bid", BookMetrics.notionalDepthArray(col("bids")))
      .withColumn("slope_bid", BookMetrics.bookSlopeArray(col("bids")))
      .withColumn("walk", graft.impact.Impact.walkArray(col("asks"), lit(10.0)))
    val rows = a100.select("imb", "ntl_bid", "slope_bid", "walk.filled").collect()
    assert(rows.length === 60)
    rows.foreach { r =>
      val imb = r.getDouble(0)
      assert(imb >= 0.0 && imb <= 1.0)
      assert(r.getDouble(1) > 0.0)            // deep book has notional
      assert(r.getDouble(3) === 10.0)         // 100 levels always fill qty 10
    }
  }

  // The same checks on an in-repo input: the recorder's synthesized
  // depth-100 book has the reference recording's 8 + 4·100 layout.
  test("in-repo depth-100 wide book (408 cols) converts and computes via array HOFs") {
    val deep = graft.streaming.Recorder.synthesizeBook(spark.range(60).toDF("value"), 100)
    assert(deep.columns.length === 8 + 4 * 100)
    val a100 = SyntheticBook.toArraySchema(deep, 100)
      .withColumn("imb", BookMetrics.imbalanceDepthKArray(col("bids"), col("asks")))
      .withColumn("ntl_bid", BookMetrics.notionalDepthArray(col("bids")))
      .withColumn("slope_bid", BookMetrics.bookSlopeArray(col("bids")))
      .withColumn("walk", graft.impact.Impact.walkArray(col("asks"), lit(10.0)))
    val rows = a100.select("imb", "ntl_bid", "slope_bid", "walk.filled").collect()
    assert(rows.length === 60)
    rows.foreach { r =>
      val imb = r.getDouble(0)
      assert(imb >= 0.0 && imb <= 1.0)
      assert(r.getDouble(1) > 0.0)
      assert(r.getDouble(3) === 10.0)
    }
  }
}

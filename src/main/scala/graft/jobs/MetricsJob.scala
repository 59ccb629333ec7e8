package graft.jobs

import graft.book.{BookMetrics, SeriesMetrics}
import graft.io.BookIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** mmt-metrics analog (SURVEY.md §3.1, `metrics_cli.py:88-162`): enrich a
  * flat recording with the 9 row metrics + rolling reset-on-gap RV +
  * strict L1 OFI, all 10-dp formatted, preserving the input columns
  * verbatim — byte-parity with the reference's committed `_metrics.csv`
  * outputs.
  *
  * Reference quirks replicated deliberately:
  *   - RV is computed from the FORMATTED mid (`metrics_cli.py:124-126`
  *     reads back the 10-dp strings) ≡ `round(mid, 10)` here;
  *   - RV uses log returns with reset-on-gap (`metrics.py:196-232`);
  *   - OFI is the strict flavor with NULL poisoning (`metrics.py:293-333`);
  *   - first-row OFI is "" and rows during RV warmup are "".
  *
  * Partitioning: the default treats the input as many series keyed by
  * `partitionKeys` — the shape that scales to a 1000-executor cluster.
  * Each series is sorted exactly once ([[SeriesLayout]]): one range
  * exchange on the keys into `spark.sql.shuffle.partitions` tasks, one
  * Sort for the one window spec (keys, then `ts_ms`, then input order),
  * and the output order needs no further exchange or sort. The plan is
  * Exchange rangepartitioning → Sort → Window (lags) → Window (RV) →
  * Project. `golden = true` reproduces the reference's one-file-=-one-series
  * mode exactly (coalesce(1) + a single unpartitioned window ordered by
  * input row, byte-parity with the committed `_metrics.csv`) and is only
  * right for per-file recordings.
  *
  * The reset-on-gap RV needs no gap-group window: its frame is the last W
  * rows of the series and it is defined only when all W returns are
  * non-null. Such a frame contains no gap, so it lies inside one gap
  * group and holds the same W rows as the group-partitioned frame; with
  * fewer than W non-null returns neither frame reaches W.
  */
object MetricsJob {

  def run(spark: SparkSession, inPath: String, depth: Int, rvWindow: Int,
          partitionKeys: Seq[String] = Seq("exchange_id", "symbol"),
          golden: Boolean = false): DataFrame = {
    val raw = BookIO.readAny(spark, inPath)
    val baseCols = raw.columns.toSeq

    def d(name: String): Column = col(name).cast("double")
    val bb = d("best_bid"); val ba = d("best_ask")
    val qb = d("bid1_size"); val qa = d("ask1_size")
    def levels(side: String) =
      (1 to depth).map(k => (d(s"$side${k}_price"), d(s"$side${k}_size")))

    val metrics: Seq[(String, Column)] = Seq(
      "spread" -> BookMetrics.spread(bb, ba),
      "mid" -> BookMetrics.mid(bb, ba),
      "relative_spread_bps" -> BookMetrics.relSpreadBpsStrict(bb, ba),
      "microprice" -> BookMetrics.microprice(bb, ba, qb, qa),
      "microprice_imbalance_bps" -> BookMetrics.micropriceImbalanceBps(bb, ba, qb, qa),
      "imbalance_l1" -> BookMetrics.imbalanceL1(qb, qa),
      "imbalance_k" -> BookMetrics.imbalanceDepthK(levels("bid").map(_._2), levels("ask").map(_._2)),
      "notional_bid_k" -> BookMetrics.notionalDepth(levels("bid")),
      "notional_ask_k" -> BookMetrics.notionalDepth(levels("ask")))

    val layout = SeriesLayout(raw, partitionKeys, golden)
    val w = layout.spec

    // every lag once, as a named column over the one spec
    val midR = round(BookMetrics.mid(bb, ba), 10) // RV reads the formatted mid
    val bp = d("bid1_price"); val ap = d("ask1_price")
    val lagged = layout.rows.select(col("*"), lag(midR, 1).over(w).as("_mid_prev"),
      lag(bp, 1).over(w).as("_pb"), lag(qb, 1).over(w).as("_sb"),
      lag(ap, 1).over(w).as("_pa"), lag(qa, 1).over(w).as("_sa"))

    val prev = col("_mid_prev")
    val ret = when(midR.isNotNull && prev.isNotNull && midR > 0 && prev > 0, log(midR / prev))
    // reset-on-gap without a gap-group window (see the scaladoc): count
    // == W means W non-null returns, so the frame holds no gap
    val frame = w.rowsBetween(-(rvWindow - 1), Window.currentRow)
    val r = col("_ret")
    val rv = when(count(r).over(frame) === rvWindow,
      sum((r * r).cast(DecimalType(38, 30))).over(frame).cast("double"))
    val ofi = SeriesMetrics.ofiL1StrictFrom(bp, qb, ap, qa,
      col("_pb"), col("_sb"), col("_pa"), col("_sa"))

    val finished = lagged.withColumn("_ret", ret)
      .withColumns((metrics :+ ("rv" -> rv) :+ ("ofi_l1" -> ofi)).toMap)
    def fmt(name: String): Column = BookIO.fmt10(col(name)).as(name)
    layout.ordered(finished).select(baseCols.map(col) ++ metrics.map(m => fmt(m._1)) ++
      Seq(lit(rvWindow).as("rv_window"), fmt("rv"), fmt("ofi_l1")): _*)
  }

  /** CLI-shaped entry point mirroring the reference's metrics writer
    * (`metrics_cli.py:60-66`): compute, then persist parquet with the
    * reference's CSV fallback chain. Returns the path actually written
    * (callers dispatch later reads via [[BookIO.readAny]]).
    */
  def runAndSave(spark: SparkSession, inPath: String, outPath: String,
                 depth: Int, rvWindow: Int,
                 partitionKeys: Seq[String] = Seq("exchange_id", "symbol"),
                 golden: Boolean = false): String =
    BookIO.writeAnyWithFallback(
      run(spark, inPath, depth, rvWindow, partitionKeys, golden), outPath)
}

package graft.jobs

import graft.book.{BookMetrics, SeriesMetrics}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** mmt-plot / mmt-plot-adv analog (SURVEY §2.1 S13): the engine emits the
  * *plotted series* as DataFrames — rendering stays client-side.
  * Covers `plot_cli.py` (mid/spread series, three OFI cumulative
  * variants, rolling RV) and `advanced_plots.py` (depth curve + slope,
  * spread histogram, rolling OFI↔return correlation, tail window).
  */
object PlotSeriesJob {

  case class Frames(series: DataFrame, depthCurve: DataFrame,
                    spreadHist: DataFrame, tail: DataFrame)

  def run(spark: SparkSession, inPath: String, depth: Int,
          rvWindow: Int = 20, corrWindow: Int = 30, tailN: Int = 2000,
          partitionKeys: Seq[String] = Seq("exchange_id", "symbol"),
          golden: Boolean = false): Frames = {
    // golden: single-series parity mode; default: per-key event-time windows
    // (keys missing from the input degrade to the single-series mode).
    // Every series window runs over the layout's one spec: one sort.
    val raw = graft.io.BookIO.readAny(spark, inPath)
    val layout = SeriesLayout(raw, partitionKeys, golden)
    val w = layout.spec
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def d(c: String): Column = col(c).cast("double")
    val bb = d("best_bid"); val ba = d("best_ask")
    val bidSum = (1 to depth).map(k => coalesce(d(s"bid${k}_size"), lit(0.0))).reduce(_ + _)
    val askSum = (1 to depth).map(k => coalesce(d(s"ask${k}_size"), lit(0.0))).reduce(_ + _)
    def lv(s: String) = (1 to depth).map(k => (d(s"$s${k}_price"), d(s"$s${k}_size")))

    val mid = BookMetrics.mid(bb, ba)
    val prev = lag(mid, 1).over(w)
    val retPct = when(mid > 0 && prev > 0, mid / prev - 1)
    val base = layout.rows
      .withColumn("mid", mid)
      .withColumn("spread_bps", BookMetrics.relSpreadBpsVector(bb, ba))
      .withColumn("ofi_l1",
        SeriesMetrics.ofiLobster(w, d("bid1_price"), d("bid1_size"), d("ask1_price"), d("ask1_size")))
      .withColumn("ofi_cum", sum("ofi_l1").over(wRun))
      .withColumn("bid_sz_k", bidSum).withColumn("ask_sz_k", askSum)
      .withColumn("ofi_size_k", SeriesMetrics.depthOfi(col("bid_sz_k"), col("ask_sz_k"), w))
      .withColumn("ofi_size_k_cum", sum("ofi_size_k").over(wRun))
      .withColumn("bid_ntl_k", coalesce(BookMetrics.notionalDepth(lv("bid")), lit(0.0)))
      .withColumn("ask_ntl_k", coalesce(BookMetrics.notionalDepth(lv("ask")), lit(0.0)))
      .withColumn("ofi_ntl_k", SeriesMetrics.depthOfi(col("bid_ntl_k"), col("ask_ntl_k"), w))
      .withColumn("ofi_ntl_k_cum", SeriesMetrics.cumsumExact(col("ofi_ntl_k"), w))
      .withColumn("ret", retPct)
      .withColumn("rv", SeriesMetrics.realizedVar(col("ret"), w, rvWindow))
    val withCorr = SeriesMetrics.withRollingCorrExact(
      base, col("ofi_l1"), col("ret"), w, corrWindow, "ofi_ret_corr")
    val seriesCols = (layout.keys ++ Seq("_rid", "ts_ms", "mid", "spread_bps", "ofi_l1",
      "ofi_cum", "ofi_size_k", "ofi_size_k_cum", "ofi_ntl_k", "ofi_ntl_k_cum", "ret", "rv",
      "ofi_ret_corr")).map(col)
    val series = layout.ordered(withCorr).select(seriesCols: _*)

    // W12: the last N rows of each series, in series order — the rows
    // fewer than N before the end, counted over the same sort
    val fromEnd = count(lit(1)).over(Window.partitionBy(layout.keys.map(col): _*)) -
      row_number().over(w)
    val tail = layout.ordered(withCorr.withColumn("_from_end", fromEnd)
      .filter(col("_from_end") < tailN)).select(seriesCols: _*)

    // A1/A2: tidy depth curve + per-level slope
    val stackExpr = (1 to depth).flatMap(k =>
      Seq(s"'bid', $k, bid${k}_size", s"'ask', $k, ask${k}_size")).mkString(", ")
    val depthCurve = raw
      .selectExpr(s"stack(${2 * depth}, $stackExpr) as (side, level, size_s)")
      .withColumn("size", col("size_s").cast("double")).drop("size_s")
      .groupBy("side", "level")
      .agg(count(col("size")).as("n_obs"),
        (graft.Exact.sumExact(col("size"), 6) / count(col("size"))).as("avg_size"))
      .withColumn("davg", col("avg_size") -
        lag("avg_size", 1).over(Window.partitionBy("side").orderBy("level")))
      .orderBy("side", "level")

    // A7: 60-bin spread histogram over the observed range
    val s60 = raw.select(BookMetrics.relSpreadBpsVector(bb, ba).as("spread_bps"))
      .filter(col("spread_bps").isNotNull)
    val mm = s60.agg(min("spread_bps"), max("spread_bps")).collect()(0)
    // no spread to bin (an empty input): any range gives the empty (bin, n) frame
    val (lo, hi) = if (mm.isNullAt(0)) (0.0, 0.0) else (mm.getDouble(0), mm.getDouble(1))
    val binW = if (hi > lo) (hi - lo) / 60.0 else 1.0
    val spreadHist = s60
      .withColumn("bin", least(floor((col("spread_bps") - lit(lo)) / lit(binW)), lit(59L)))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .orderBy("bin")

    Frames(series, depthCurve, spreadHist, tail)
  }
}

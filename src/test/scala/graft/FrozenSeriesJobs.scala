package graft

import graft.book.{BookMetrics, SeriesMetrics}
import graft.io.BookIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reference implementation for [[SeriesJobLayoutSpec]]: `MetricsJob.run`
  * as it was before the jobs moved onto `jobs.SeriesLayout`, copied
  * verbatim. Its plan hash-partitions on the keys, re-sorts for a gap-group
  * window and range-sorts the window output again; its rows are the
  * contract the single-sort layout must reproduce in order.
  */
object FrozenMetricsJob {

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

    // golden: one file = one ordered series (single window, stable row id);
    // default: per-key windows ordered by event time, _rid as tiebreak.
    // Keys missing from the input (older schemas) degrade to the
    // reference's one-file-=-one-series semantics.
    val keys = if (golden) Seq.empty[String] else partitionKeys.filter(raw.columns.contains)
    val ordered =
      (if (golden) raw.coalesce(1) else raw).withColumn("_rid", monotonically_increasing_id())
    val ord = Seq(col("ts_ms").cast("long"), col("_rid"))
    val w = if (keys.isEmpty) Window.orderBy("_rid")
            else Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // RV on the formatted mid (≡ round(mid, 10)), log returns, reset-on-gap
    val midR = round(BookMetrics.mid(bb, ba), 10)
    val prev = lag(midR, 1).over(w)
    val ret = when(midR.isNotNull && prev.isNotNull && midR > 0 && prev > 0,
      graft.book.SeriesMetrics.logReturn(midR, w))
    val enriched = ordered
      .withColumn("_ret", ret)
      .withColumn("_gap", count(when(col("_ret").isNull, lit(1))).over(wRun))
    val gw = if (keys.isEmpty) Window.partitionBy("_gap").orderBy("_rid")
             else Window.partitionBy((keys :+ "_gap").map(col): _*).orderBy(ord: _*)
    val frame = gw.rowsBetween(-(rvWindow - 1), Window.currentRow)
    val rv = when(col("_ret").isNotNull && count(col("_ret")).over(frame) === rvWindow,
      sum((col("_ret") * col("_ret")).cast(DecimalType(38, 30))).over(frame).cast("double"))

    val ofi = graft.book.SeriesMetrics.ofiL1Strict(w,
      d("bid1_price"), d("bid1_size"), d("ask1_price"), d("ask1_size"))

    val out = enriched
      .withColumns(metrics.map { case (n, c) => n -> BookIO.fmt10(c) }.toMap)
      .withColumn("rv_window", lit(rvWindow))
      .withColumn("rv", BookIO.fmt10(rv))
      .withColumn("ofi_l1", BookIO.fmt10(ofi))
    val addCols = metrics.map(_._1) ++ Seq("rv_window", "rv", "ofi_l1")
    val sorted = if (keys.isEmpty) out.orderBy("_rid")
                 else out.orderBy(keys.map(col) ++ ord: _*)
    sorted.select((baseCols ++ addCols).map(col): _*)
  }
}

/** Reference implementation for [[SeriesJobLayoutSpec]]: `EventMetricsJob.run`
  * before the single-sort layout, copied verbatim.
  */
object FrozenEventMetricsJob {

  def run(spark: SparkSession, inPath: String, rvWindow: Int = 20,
          partitionKeys: Seq[String] = Seq("exchange_id", "symbol"),
          golden: Boolean = false): DataFrame = {
    var raw = BookIO.readAny(spark, inPath)
    for (c <- Seq("bid1_size", "ask1_size"))
      if (!raw.columns.contains(c)) raw = raw.withColumn(c, lit(0.0))
    val baseCols = raw.columns.toSeq

    def d(name: String): Column = col(name).cast("double")
    val bb = d("best_bid"); val ba = d("best_ask")
    val qb = coalesce(d("bid1_size"), lit(0.0))
    val qa = coalesce(d("ask1_size"), lit(0.0))

    // golden: single-series parity; default: per-key event-time windows
    // (keys missing from the input degrade to the single-series mode)
    val keys = if (golden) Seq.empty[String] else partitionKeys.filter(raw.columns.contains)
    val ordered =
      (if (golden) raw.coalesce(1) else raw).withColumn("_rid", monotonically_increasing_id())
    val ord = Seq(col("ts_ms").cast("long"), col("_rid"))
    val w = if (keys.isEmpty) Window.orderBy("_rid")
            else Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)

    val mid = (bb + ba) / 2.0
    val spreadBps = when(bb > 0 && ba > 0, (ba - bb) / mid * lit(1e4))
    val micro = BookMetrics.micropriceEvent(bb, ba, d("bid1_size"), d("ask1_size"))
    val ofi = SeriesMetrics.ofiEvent(w, bb, qb, ba, qa)
    val retMid = log(mid) - lag(log(mid), 1).over(w)
    val frame = w.rowsBetween(-(rvWindow - 1), Window.currentRow)

    val out = ordered
      .withColumn("mid", mid)
      .withColumn("spread_bps", spreadBps)
      .withColumn("microprice", micro)
      .withColumn("ofi_l1", ofi)
      .withColumn("ret_mid", retMid)
      .withColumn(s"rv_event_$rvWindow",
        when(count(col("ret_mid")).over(frame) === rvWindow,
          sum(col("ret_mid") * col("ret_mid")).over(frame)))
    val sorted = if (keys.isEmpty) out.orderBy("_rid")
                 else out.orderBy(keys.map(col) ++ ord: _*)
    sorted.select((baseCols ++ Seq("mid", "spread_bps", "microprice", "ofi_l1", "ret_mid",
      s"rv_event_$rvWindow")).map(col): _*)
  }
}

/** Reference implementation for [[PlotSeriesLayoutSpec]]: `PlotSeriesJob.run`
  * as it was before it moved onto `jobs.SeriesLayout`, copied verbatim. Its
  * series frame casts `ts_ms` under a new alias in every window, so each
  * window sorts again, and the trailing `orderBy` range-samples the window
  * output; its frames are the contract the single-sort layout must
  * reproduce in order.
  */
object FrozenPlotSeriesJob {

  def run(spark: SparkSession, inPath: String, depth: Int,
          rvWindow: Int = 20, corrWindow: Int = 30, tailN: Int = 2000,
          partitionKeys: Seq[String] = Seq("exchange_id", "symbol"),
          golden: Boolean = false): graft.jobs.PlotSeriesJob.Frames = {
    // golden: single-series parity mode; default: per-key event-time windows
    // (keys missing from the input degrade to the single-series mode)
    val raw0 = graft.io.BookIO.readAny(spark, inPath)
    val keys = if (golden) Seq.empty[String] else partitionKeys.filter(raw0.columns.contains)
    val raw = (if (golden) raw0.coalesce(1) else raw0)
      .withColumn("_rid", monotonically_increasing_id())
    val ord = Seq(col("ts_ms").cast("long"), col("_rid"))
    val w = if (keys.isEmpty) Window.orderBy("_rid")
            else Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def d(c: String): Column = col(c).cast("double")
    val bb = d("best_bid"); val ba = d("best_ask")
    val bidSum = (1 to depth).map(k => coalesce(d(s"bid${k}_size"), lit(0.0))).reduce(_ + _)
    val askSum = (1 to depth).map(k => coalesce(d(s"ask${k}_size"), lit(0.0))).reduce(_ + _)
    def lv(s: String) = (1 to depth).map(k => (d(s"$s${k}_price"), d(s"$s${k}_size")))

    val mid = BookMetrics.mid(bb, ba)
    val prev = lag(mid, 1).over(w)
    val retPct = when(mid > 0 && prev > 0, mid / prev - 1)
    val base = raw
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
    val seriesCols = keys ++ Seq("_rid", "ts_ms", "mid", "spread_bps", "ofi_l1", "ofi_cum",
      "ofi_size_k", "ofi_size_k_cum", "ofi_ntl_k", "ofi_ntl_k_cum", "ret", "rv", "ofi_ret_corr")
    val series = withCorr.select(seriesCols.map(col): _*)
    val seriesSorted = if (keys.isEmpty) series.orderBy("_rid")
                       else series.orderBy(keys.map(col) ++ ord: _*)

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
    val s60 = base.filter(col("spread_bps").isNotNull)
    val mm = s60.agg(min("spread_bps"), max("spread_bps")).collect()(0)
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val binW = if (hi > lo) (hi - lo) / 60.0 else 1.0
    val spreadHist = s60
      .withColumn("bin", least(floor((col("spread_bps") - lit(lo)) / lit(binW)), lit(59L)))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .orderBy("bin")

    // W12: last-N window re-sorted ascending — per key in partitioned mode
    // (row_number over a desc window, no global limit bottleneck)
    val tail =
      if (keys.isEmpty) series.orderBy(desc("_rid")).limit(tailN).orderBy("_rid")
      else {
        val wDesc = Window.partitionBy(keys.map(col): _*)
          .orderBy(col("ts_ms").cast("long").desc, col("_rid").desc)
        series.withColumn("_rn", row_number().over(wDesc))
          .filter(col("_rn") <= tailN).drop("_rn")
          .orderBy(keys.map(col) ++ ord: _*)
      }
    graft.jobs.PlotSeriesJob.Frames(seriesSorted, depthCurve, spreadHist, tail)
  }
}

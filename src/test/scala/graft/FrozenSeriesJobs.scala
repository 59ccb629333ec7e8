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

package graft.jobs

import graft.book.{BookMetrics, SeriesMetrics}
import graft.io.BookIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** mmt-event-metrics analog (`event_metrics.py:30-115`): adds
  * mid, spread_bps, microprice (mid-fallback flavor), event-time Kyle OFI,
  * log return of mid, and rv_event_<W> — the event-time flavor bundle
  * (SURVEY §7.4.1-3: these deliberately differ from the mmt-metrics
  * flavors).
  *
  * Reference quirks replicated:
  *   - missing `bid1_size`/`ask1_size` columns are created as 0.0
  *     (`event_metrics.py:60-63`);
  *   - OFI uses BEST quotes with sizes coerced to 0; only a missing PREV
  *     makes both tie-indicators true; first row forced 0.0;
  *   - ret_mid = ln(mid_t) − ln(mid_{t−1}) (difference of logs, not log
  *     of ratio — a different FP rounding than metrics.py's flavor);
  *   - rv window uses pandas' default min_periods = window.
  */
object EventMetricsJob {

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

    val layout = SeriesLayout(raw, partitionKeys, golden)
    val w = layout.spec

    val mid = (bb + ba) / 2.0
    // every lag once, as a named column over the one spec
    val lagged = layout.rows.select(col("*"),
      lag(bb, 1).over(w).as("_pb"), lag(qb, 1).over(w).as("_sb"),
      lag(ba, 1).over(w).as("_pa"), lag(qa, 1).over(w).as("_sa"),
      (row_number().over(w) === 1).as("_first"),
      lag(log(mid), 1).over(w).as("_log_mid_prev"))

    val spreadBps = when(bb > 0 && ba > 0, (ba - bb) / mid * lit(1e4))
    val micro = BookMetrics.micropriceEvent(bb, ba, d("bid1_size"), d("ask1_size"))
    val ofi = SeriesMetrics.ofiEventFrom(bb, qb, ba, qa,
      col("_pb"), col("_sb"), col("_pa"), col("_sa"), col("_first"))
    val frame = w.rowsBetween(-(rvWindow - 1), Window.currentRow)
    val r = col("ret_mid")
    val rvName = s"rv_event_$rvWindow"

    val out = lagged
      .withColumns(Map("mid" -> mid, "spread_bps" -> spreadBps, "microprice" -> micro,
        "ofi_l1" -> ofi, "ret_mid" -> (log(mid) - col("_log_mid_prev"))))
      .withColumn(rvName, when(count(r).over(frame) === rvWindow, sum(r * r).over(frame)))
    layout.ordered(out).select((baseCols ++ Seq("mid", "spread_bps", "microprice", "ofi_l1",
      "ret_mid", rvName)).map(col): _*)
  }
}

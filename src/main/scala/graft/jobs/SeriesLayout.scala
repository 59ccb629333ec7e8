package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Row layout shared by the per-series window jobs ([[MetricsJob]],
  * [[EventMetricsJob]], [[PlotSeriesJob]]): every series is sorted
  * exactly once.
  *
  * Keyed (the default): `_rid` is assigned before any exchange (input
  * order, the tie-break for duplicate timestamps), `_ts = ts_ms` as a
  * long is materialized once, and the rows are range-partitioned on the
  * keys into the session's `spark.sql.shuffle.partitions`. The explicit
  * count keeps AQE from coalescing the CPU-bound window stage, and the
  * range sample scans the cheap input rather than the window output.
  * Every window then runs over the one [[spec]], so Spark plans one Sort,
  * and [[ordered]]'s `(keys, _ts, _rid)` order is already met by the
  * range partitioning plus that sort: it adds no exchange and no sort.
  *
  * Golden, or no key column in the input (older schemas): the reference's
  * one-file-=-one-series mode — `coalesce(1)` (golden only) and a single
  * unpartitioned window ordered by `_rid`.
  */
private[jobs] final class SeriesLayout private (
    val keys: Seq[String], val rows: DataFrame, val spec: WindowSpec, order: Seq[Column]) {

  /** `df` — `rows` plus projections and windows over [[spec]] — in output order. */
  def ordered(df: DataFrame): DataFrame = df.orderBy(order: _*)
}

private[jobs] object SeriesLayout {

  def apply(raw: DataFrame, partitionKeys: Seq[String], golden: Boolean): SeriesLayout = {
    val names = if (golden) Nil else partitionKeys.filter(raw.columns.contains)
    val keys = names.map(col)
    val withRid =
      (if (golden) raw.coalesce(1) else raw).withColumn("_rid", monotonically_increasing_id())
    if (keys.isEmpty) new SeriesLayout(Nil, withRid, Window.orderBy("_rid"), Seq(col("_rid")))
    else {
      val parts = raw.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val rows = withRid.withColumn("_ts", col("ts_ms").cast("long"))
        .repartitionByRange(parts, keys: _*)
      new SeriesLayout(names, rows, Window.partitionBy(keys: _*).orderBy("_ts", "_rid"),
        keys ++ Seq(col("_ts"), col("_rid")))
    }
  }
}

package graft.book

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Ordered time-series metrics as Spark window expressions (SURVEY.md
  * §2.5). The reference operates on one unpartitioned series (one file =
  * one symbol); we generalize to `partitionBy(sym)` — at 100 TB a global
  * single-partition sort is the scale killer, and per-symbol windows
  * shuffle once then pipeline.
  *
  * Ordering key must be a deterministic total order (the reference's data
  * has duplicate timestamps — SURVEY §7.4.10): pass a unique `seq`.
  */
object SeriesMetrics {

  /** Standard per-symbol event order. */
  def bySym(orderCol: String = "seq"): WindowSpec =
    Window.partitionBy("sym").orderBy(orderCol)

  /** W1 `metrics.py:293-333` — Cont-style strict L1 OFI over consecutive
    * rows; NULL if ANY of the 8 inputs (cur/prev price+size both sides)
    * is missing (null-poisoning via plain arithmetic on null lags).
    * First row per partition → NULL (lag is null).
    */
  def ofiL1Strict(w: WindowSpec,
                  bidPx: Column = col("bid1_price"), bidSz: Column = col("bid1_size"),
                  askPx: Column = col("ask1_price"), askSz: Column = col("ask1_size")): Column =
    ofiL1StrictFrom(bidPx, bidSz, askPx, askSz,
      lag(bidPx, 1).over(w), lag(bidSz, 1).over(w), lag(askPx, 1).over(w), lag(askSz, 1).over(w))

  /** [[ofiL1Strict]] from the previous row's quotes given as columns
    * (`pb`, `sb`, `pa`, `sa` = lag 1 of each input, as `BookSql.lagLayer`
    * names them), so a caller that names its lags once evaluates each lag
    * once instead of once per reference.
    */
  def ofiL1StrictFrom(bidPx: Column, bidSz: Column, askPx: Column, askSz: Column,
                      pb: Column, sb: Column, pa: Column, sa: Column): Column = {
    val bidTerm = when(bidPx > pb, bidSz - sb).when(bidPx < pb, -sb).otherwise(lit(0.0))
    val askTerm = when(askPx < pa, askSz - sa).when(askPx > pa, -sa).otherwise(lit(0.0))
    // poison: any NULL input → NULL result (matches the reference's early return)
    when(bidPx.isNotNull && bidSz.isNotNull && askPx.isNotNull && askSz.isNotNull &&
      pb.isNotNull && sb.isNotNull && pa.isNotNull && sa.isNotNull,
      bidTerm + askTerm)
  }

  /** W2 `event_metrics.py:84-105` — Kyle/event-time OFI:
    * ΔB = 1{p_b ≥ prev}·q_b − 1{p_b ≤ prev}·q_b_prev (ties count BOTH),
    * ΔA mirrored; OFI = ΔB − ΔA; missing prev → both indicators true;
    * first row forced 0.0. Missing sizes are pre-coerced to 0 by the
    * caller (event_metrics.py:60-63).
    */
  def ofiEvent(w: WindowSpec,
               bidPx: Column = col("bid1_price"), bidSz: Column = col("bid1_size"),
               askPx: Column = col("ask1_price"), askSz: Column = col("ask1_size")): Column =
    ofiEventFrom(bidPx, bidSz, askPx, askSz,
      lag(bidPx, 1).over(w), lag(bidSz, 1).over(w), lag(askPx, 1).over(w), lag(askSz, 1).over(w),
      row_number().over(w) === 1)

  /** [[ofiEvent]] from named lag columns (see [[ofiL1StrictFrom]]);
    * `first` is true on each series' first row.
    */
  def ofiEventFrom(bidPx: Column, bidSz: Column, askPx: Column, askSz: Column,
                   pb: Column, sb: Column, pa: Column, sa: Column, first: Column): Column = {
    val qb = coalesce(bidSz, lit(0.0)); val qbPrev = coalesce(sb, lit(0.0))
    val qa = coalesce(askSz, lit(0.0)); val qaPrev = coalesce(sa, lit(0.0))
    // only a missing PREV forces both indicators true (event_metrics.py:
    // `(bb >= bb_prev) | bb_prev.isna()`); a missing CURRENT price makes
    // the comparison false, like pandas NaN comparisons
    val geB = when(pb.isNull, lit(1.0)).when(bidPx >= pb, lit(1.0)).otherwise(lit(0.0))
    val leB = when(pb.isNull, lit(1.0)).when(bidPx <= pb, lit(1.0)).otherwise(lit(0.0))
    val leA = when(pa.isNull, lit(1.0)).when(askPx <= pa, lit(1.0)).otherwise(lit(0.0))
    val geA = when(pa.isNull, lit(1.0)).when(askPx >= pa, lit(1.0)).otherwise(lit(0.0))
    val dB = geB * qb - leB * qbPrev
    val dA = leA * qa - geA * qaPrev
    when(first, lit(0.0)).otherwise(dB - dA)
  }

  /** W3 `plot_cli.py:145-161` — LOBSTER-style strict OFI with NaN→0:
    * 1{p_b↑}·q_b − 1{p_b↓}·q_b_prev − 1{p_a↑}·q_a_prev + 1{p_a↓}·q_a,
    * any missing input → term contributes 0 (no poisoning).
    */
  def ofiLobster(w: WindowSpec,
                 bidPx: Column = col("bid1_price"), bidSz: Column = col("bid1_size"),
                 askPx: Column = col("ask1_price"), askSz: Column = col("ask1_size")): Column = {
    val pb = lag(bidPx, 1).over(w); val sb = lag(bidSz, 1).over(w)
    val pa = lag(askPx, 1).over(w); val sa = lag(askSz, 1).over(w)
    val t1 = coalesce(when(bidPx > pb, bidSz), lit(0.0))
    val t2 = coalesce(when(bidPx < pb, sb), lit(0.0))
    val t3 = coalesce(when(askPx > pa, sa), lit(0.0))
    val t4 = coalesce(when(askPx < pa, askSz), lit(0.0))
    t1 - t2 - t3 + t4
  }

  /** W4 `plot_cli.py:162` — running cumulative sum. Values here are
    * integer-valued doubles (sizes), so a double running sum is exact and
    * order-robust; for fractional series use [[cumsumExact]].
    */
  def cumsum(x: Column, w: WindowSpec): Column =
    sum(x).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Exact running sum: round-to-grid then DECIMAL accumulation
    * (order-independent — safe for fractional doubles under any
    * shuffle/merge order; see [[graft.Exact]]).
    */
  def cumsumExact(x: Column, w: WindowSpec, scale: Int = 8): Column =
    sum(round(x, scale).cast(DecimalType(38, scale)))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .cast("double")

  /** W7 `event_metrics.py:109-110` — log return of mid: ln(p_t/p_{t−1})
    * (the reference computes the ratio then one log — `metrics.py:219`).
    */
  def logReturn(p: Column, w: WindowSpec): Column = log(p / lag(p, 1).over(w))

  /** Simple return p_t/p_{t−1} − 1 (the `use_log=false` flavor of
    * `metrics.py:172-193`; also the cross-engine-exact variant used by
    * oracle queries, since libm `log` is not bit-portable).
    */
  def simpleReturn(p: Column, w: WindowSpec): Column = p / lag(p, 1).over(w) - 1

  /** W8 `metrics.py:172-193` — rolling realized variance: windowed sum of
    * squared returns with min_periods = window (NULL until filled).
    * DECIMAL(38,20) accumulation keeps the rolling sum exact.
    */
  def realizedVar(ret: Column, w: WindowSpec, window: Int, scale: Int = 12): Column = {
    val frame = w.rowsBetween(-(window - 1), Window.currentRow)
    val r2 = round(ret * ret, scale).cast(DecimalType(38, scale))
    val cnt = count(ret).over(frame)
    when(cnt === window, sum(r2).over(frame).cast("double"))
  }

  /** W9 `metrics.py:196-232` — reset-on-gap rolling realized variance:
    * any NULL return clears the accumulator and the window restarts.
    * Spark formulation: gap-group = running count of NULL returns, then
    * the plain rolling RV partitioned additionally by that group.
    * Returns (gapGroup, rv) so callers can materialize the group column.
    */
  def gapGroup(ret: Column, w: WindowSpec): Column =
    count(when(ret.isNull, lit(1)))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  def realizedVarResetOnGap(ret: Column, grpW: WindowSpec, window: Int, scale: Int = 12): Column = {
    val frame = grpW.rowsBetween(-(window - 1), Window.currentRow)
    val cnt = count(ret).over(frame)
    when(ret.isNotNull && cnt === window,
      sum(round(ret * ret, scale).cast(DecimalType(38, scale))).over(frame).cast("double"))
  }

  /** A6/W11 `advanced_plots.py:169` — rolling Pearson correlation via the
    * built-in `corr` window aggregate. NOTE: under ANSI mode a
    * zero-variance window raises DIVIDE_BY_ZERO; prefer
    * [[rollingCorrExact]] which guards and is cross-engine deterministic.
    */
  def rollingCorr(x: Column, y: Column, w: WindowSpec, window: Int): Column =
    corr(x, y).over(w.rowsBetween(-(window - 1), Window.currentRow))

  /** Rolling Pearson correlation in closed form over exact decimal window
    * sums: n·Σxy − Σx·Σy over √(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²), pairs with
    * either side NULL excluded, NULL when n < 2 or a variance is ≤ 0.
    * Order-independent (decimal accumulation) and zero-variance-safe.
    * Scales assume |x| ≲ 1e6, |y| ≲ 1 (x at 6dp, y at 12dp).
    */
  def rollingCorrExact(x: Column, y: Column, w: WindowSpec, window: Int): Column = {
    val f = w.rowsBetween(-(window - 1), Window.currentRow)
    val pair = x.isNotNull && y.isNotNull
    val xm = when(pair, x)
    val ym = when(pair, y)
    def dsum(c: Column, sc: Int) =
      sum(round(c, sc).cast(DecimalType(38, sc))).over(f).cast("double")
    val n = count(xm).over(f).cast("double")
    val sx = dsum(xm, 6); val sy = dsum(ym, 12)
    val sxy = dsum(xm * ym, 12); val sxx = dsum(xm * xm, 6); val syy = dsum(ym * ym, 14)
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    when(n >= 2 && varx > 0 && vary > 0, (n * sxy - sx * sy) / (sqrt(varx) * sqrt(vary)))
  }

  /** [[rollingCorrExact]] with the decimal terms materialized as named
    * columns first: sliding window frames re-evaluate the aggregate input
    * per frame row, so pre-projecting the round+cast terms turns
    * 5 × window × rows expression evaluations into plain decimal adds
    * (~6× faster at window 30). Identical values.
    */
  /** Implementation note: sliding-frame sums are computed as prefix-sum
    * differences (cum[i] − cum[i−window]) — O(1) per row instead of
    * re-summing the frame, and EXACTLY equal to the direct frame sum
    * because the decimal arithmetic is exact. Both window passes share
    * the same partitioning+sort, so Spark plans a single Sort.
    */
  def withRollingCorrExact(df: org.apache.spark.sql.DataFrame, x: Column, y: Column,
                           w: WindowSpec, window: Int, out: String): org.apache.spark.sql.DataFrame = {
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pair = x.isNotNull && y.isNotNull
    val terms = df
      .withColumn("_cx", when(pair, x))
      .withColumn("_cy", when(pair, y))
      .withColumn("_cxr", round(col("_cx"), 6).cast(DecimalType(38, 6)))
      .withColumn("_cyr", round(col("_cy"), 12).cast(DecimalType(38, 12)))
      .withColumn("_cxyr", round(col("_cx") * col("_cy"), 12).cast(DecimalType(38, 12)))
      .withColumn("_cxxr", round(col("_cx") * col("_cx"), 6).cast(DecimalType(38, 6)))
      .withColumn("_cyyr", round(col("_cy") * col("_cy"), 14).cast(DecimalType(38, 14)))
    val runs = terms
      .withColumn("_rn", count(col("_cx")).over(run))
      .withColumn("_rx", sum(col("_cxr")).over(run))
      .withColumn("_ry", sum(col("_cyr")).over(run))
      .withColumn("_rxy", sum(col("_cxyr")).over(run))
      .withColumn("_rxx", sum(col("_cxxr")).over(run))
      .withColumn("_ryy", sum(col("_cyyr")).over(run))
    // (38,s) − (38,s) needs precision 39 → Spark would REDUCE THE SCALE
    // to fit, silently rounding; downcasting both operands to (37,s)
    // (lossless at these magnitudes) keeps the full scale exact.
    def fdiff(c: String): Column = runs.schema(c).dataType match {
      case d: org.apache.spark.sql.types.DecimalType =>
        val dt = DecimalType(37, d.scale)
        (col(c).cast(dt) - coalesce(lag(col(c), window).over(w), lit(0)).cast(dt)).cast("double")
      case dt =>
        (col(c) - coalesce(lag(col(c), window).over(w), lit(0).cast(dt))).cast("double")
    }
    val n = fdiff("_rn")
    val sx = fdiff("_rx"); val sy = fdiff("_ry")
    val sxy = fdiff("_rxy"); val sxx = fdiff("_rxx"); val syy = fdiff("_ryy")
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    runs.withColumn(out,
      when(n >= 2 && varx > 0 && vary > 0, (n * sxy - sx * sy) / (sqrt(varx) * sqrt(vary))))
      .drop("_cx", "_cy", "_cxr", "_cyr", "_cxyr", "_cxxr", "_cyyr",
        "_rn", "_rx", "_ry", "_rxy", "_rxx", "_ryy")
  }

  /** W5 `plot_cli.py:168-175` — depth-K size OFI: Δ(Σ_K bid sizes) −
    * Δ(Σ_K ask sizes), NaN→0 (first row 0).
    */
  def depthOfi(bidSum: Column, askSum: Column, w: WindowSpec): Column = {
    val dB = bidSum - lag(bidSum, 1).over(w)
    val dA = askSum - lag(askSum, 1).over(w)
    coalesce(dB - dA, lit(0.0))
  }
}

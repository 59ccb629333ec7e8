package graft.book

import graft.{Exact, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-book metric queries over the deterministic synthetic book
  * (depth 5), exercising the reference's full per-row and series operator
  * surface (SURVEY.md §2.2/§2.5) with DuckDB oracle mirrors.
  *
  * Scale design: all per-row metrics are pure projections (one codegen
  * stage, no shuffle); series metrics shuffle ONCE on `sym` and evaluate
  * every window function over the same (sym, seq) sort — Spark reuses a
  * single Sort+Window stage for all of them.
  */
object BookQueries {

  private val D = 5

  private def bookDf(s: SparkSession, dir: String): DataFrame =
    SyntheticBook.fromEvents(Tables(s, dir, "events"), D)

  private def withCte(rest: String): String = s"WITH ${SyntheticBook.sqlCte(D)}$rest"

  private val w = Window.partitionBy("sym").orderBy("seq")
  private val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
  private val winSql = "(PARTITION BY sym ORDER BY seq)"
  private val runSql =
    "(PARTITION BY sym ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

  // ---------------------------------------------------------------- q11
  val q11 = Q("q11_book_row_metrics",
    (s, dir) => {
      // layered slope columns keep the projection codegen-able (the
      // single-tree closed form falls back to interpreted — ~6× slower).
      // Sort FIRST, on the narrow synthetic book: a trailing global sort
      // range-samples its child, executing the whole expensive metric
      // projection twice; sorted-then-projected runs it once (projection
      // preserves row order) — measured 5.3 s → 2.7 s at sf0.1.
      val withSlopes = BookMetrics.withSlopeLayered(
        BookMetrics.withSlopeLayered(bookDf(s, dir).orderBy("seq"), "bid", D), "ask", D)
      val others = BookMetrics.rowMetricsBundle(D).toMap -- Seq("slope_bid", "slope_ask")
      withSlopes
        .withColumns(others)
        .select(Seq("seq", "sym").map(col) ++ BookMetrics.rowMetricsBundle(D).map(p => col(p._1)): _*)
    },
    Some(withCte(s""",
    s1 AS (
      SELECT *,
        ${BookSql.slopeLayer1("bid", D)},
        ${BookSql.slopeLayer1("ask", D)}
      FROM book
    ),
    s2 AS (
      SELECT *,
        ${BookSql.slopeLayer2("bid", D)},
        ${BookSql.slopeLayer2("ask", D)}
      FROM s1
    )
    SELECT seq, sym,
      ${BookSql.spread} AS spread,
      ${BookSql.mid} AS mid,
      ${BookSql.relSpreadBpsStrict} AS relative_spread_bps,
      ${BookSql.microprice} AS microprice,
      ${BookSql.micropriceImbalanceBps} AS microprice_imbalance_bps,
      ${BookSql.imbalanceL1} AS imbalance_l1,
      ${BookSql.imbalanceDepthK(D)} AS imbalance_k,
      ${BookSql.notionalDepth("bid", D)} AS notional_bid_k,
      ${BookSql.notionalDepth("ask", D)} AS notional_ask_k,
      ${BookSql.slopeFinal("bid", D)} AS slope_bid,
      ${BookSql.slopeFinal("ask", D)} AS slope_ask
    FROM s2
    ORDER BY seq""")),
    headline = true)

  // ---------------------------------------------------------------- q12
  val q12 = Q.sql("q12_spread_flavors",
    withCte(s"""
    SELECT seq, sym,
      ${BookSql.relSpreadBpsStrict} AS spread_bps_strict,
      ${BookSql.relSpreadBpsVector} AS spread_bps_vector,
      ${BookSql.spreadBpsEvent} AS spread_bps_event,
      CAST(best_bid > best_ask AS INTEGER) AS is_crossed,
      CAST(best_bid = best_ask AS INTEGER) AS is_locked
    FROM book
    ORDER BY seq"""))

  // ------------------------------------------------- q13/q14/q15: OFI ×3
  private def laggedCte: String = s""",
    lagged AS (
      SELECT *, ${BookSql.lagLayer}
      FROM book WINDOW w AS $winSql
    )"""

  val q13 = Q("q13_ofi_l1_strict",
    (s, dir) => {
      bookDf(s, dir)
        .withColumn("ofi_l1", SeriesMetrics.ofiL1Strict(w))
        .withColumn("ofi_cum", sum("ofi_l1").over(wRun))
        .select("seq", "sym", "ofi_l1", "ofi_cum")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some(withCte(s"""$laggedCte,
    o AS (SELECT seq, sym, ${BookSql.ofiL1Strict} AS ofi_l1 FROM lagged)
    SELECT seq, sym, ofi_l1, SUM(ofi_l1) OVER $runSql AS ofi_cum
    FROM o ORDER BY seq""")),
    headline = true)

  val q14 = Q("q14_ofi_event",
    (s, dir) => {
      bookDf(s, dir)
        .withColumn("ofi_event", SeriesMetrics.ofiEvent(w))
        .withColumn("ofi_event_cum", sum("ofi_event").over(wRun))
        .select("seq", "sym", "ofi_event", "ofi_event_cum")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some(withCte(s"""$laggedCte,
    o AS (SELECT seq, sym, ${BookSql.ofiEvent} AS ofi_event FROM lagged)
    SELECT seq, sym, ofi_event, SUM(ofi_event) OVER $runSql AS ofi_event_cum
    FROM o ORDER BY seq""")))

  val q15 = Q("q15_ofi_lobster",
    (s, dir) => {
      bookDf(s, dir)
        .withColumn("ofi_lob", SeriesMetrics.ofiLobster(w))
        .withColumn("ofi_lob_cum", sum("ofi_lob").over(wRun))
        .select("seq", "sym", "ofi_lob", "ofi_lob_cum")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some(withCte(s"""$laggedCte,
    o AS (SELECT seq, sym, ${BookSql.ofiLobster} AS ofi_lob FROM lagged)
    SELECT seq, sym, ofi_lob, SUM(ofi_lob) OVER $runSql AS ofi_lob_cum
    FROM o ORDER BY seq""")))

  // ---------------------------------------------------------------- q16
  val q16 = Q("q16_ofi_depth_k",
    (s, dir) => {
      val bidSum = (1 to D).map(k => coalesce(col(s"bid${k}_size"), lit(0.0))).reduce(_ + _)
      val askSum = (1 to D).map(k => coalesce(col(s"ask${k}_size"), lit(0.0))).reduce(_ + _)
      val bidNtl = BookMetrics.notionalDepth(BookMetrics.bidLevels(D))
      val askNtl = BookMetrics.notionalDepth(BookMetrics.askLevels(D))
      bookDf(s, dir)
        .withColumn("bid_sz_k", bidSum).withColumn("ask_sz_k", askSum)
        .withColumn("bid_ntl_k", bidNtl).withColumn("ask_ntl_k", askNtl)
        .withColumn("ofi_size_k",
          SeriesMetrics.depthOfi(col("bid_sz_k"), col("ask_sz_k"), w))
        .withColumn("ofi_ntl_k",
          SeriesMetrics.depthOfi(coalesce(col("bid_ntl_k"), lit(0.0)),
            coalesce(col("ask_ntl_k"), lit(0.0)), w))
        .withColumn("ofi_size_k_cum", sum("ofi_size_k").over(wRun))
        .withColumn("ofi_ntl_k_cum",
          sum(round(col("ofi_ntl_k"), 6).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .over(wRun).cast("double"))
        .select("seq", "sym", "ofi_size_k", "ofi_size_k_cum", "ofi_ntl_k", "ofi_ntl_k_cum")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some {
      val bidSum = (1 to D).map(k => s"COALESCE(bid${k}_size, 0.0::DOUBLE)").mkString(" + ")
      val askSum = (1 to D).map(k => s"COALESCE(ask${k}_size, 0.0::DOUBLE)").mkString(" + ")
      withCte(s""",
    sums AS (
      SELECT seq, sym,
        $bidSum AS bid_sz_k,
        $askSum AS ask_sz_k,
        COALESCE(${BookSql.notionalDepth("bid", D)}, 0.0::DOUBLE) AS bid_ntl_k,
        COALESCE(${BookSql.notionalDepth("ask", D)}, 0.0::DOUBLE) AS ask_ntl_k
      FROM book
    ),
    deltas AS (
      SELECT seq, sym,
        COALESCE((bid_sz_k - LAG(bid_sz_k, 1) OVER w) - (ask_sz_k - LAG(ask_sz_k, 1) OVER w), 0.0::DOUBLE) AS ofi_size_k,
        COALESCE((bid_ntl_k - LAG(bid_ntl_k, 1) OVER w) - (ask_ntl_k - LAG(ask_ntl_k, 1) OVER w), 0.0::DOUBLE) AS ofi_ntl_k
      FROM sums WINDOW w AS $winSql
    )
    SELECT seq, sym, ofi_size_k,
      SUM(ofi_size_k) OVER $runSql AS ofi_size_k_cum,
      ofi_ntl_k,
      CAST(SUM(CAST(ROUND(ofi_ntl_k, 6) AS DECIMAL(38,6))) OVER $runSql AS DOUBLE) AS ofi_ntl_k_cum
    FROM deltas ORDER BY seq""")
    })

  // ----------------------------------------------------------- q17: RV
  // Returns are computed on a bounded price transform px = 100 + mid/100
  // (the raw synthetic mid jumps orders of magnitude between events,
  // which is not a price series and would overflow any fixed decimal
  // scale for r² accumulation).
  private def midRetCte: String = s""",
    m AS (SELECT seq, sym, ${BookSql.mid} AS mid FROM book),
    p AS (SELECT seq, sym, 100.0::DOUBLE + mid / 100.0::DOUBLE AS px FROM m),
    r AS (
      SELECT seq, sym, px,
        CASE WHEN px > 0 AND LAG(px, 1) OVER w > 0
             THEN px / LAG(px, 1) OVER w - 1 END AS ret
      FROM p WINDOW w AS $winSql
    )"""

  private def midRetDf(s: SparkSession, dir: String): DataFrame = {
    val prevPx = lag(col("px"), 1).over(w)
    bookDf(s, dir)
      .withColumn("mid", BookMetrics.mid(col("best_bid"), col("best_ask")))
      .withColumn("px", lit(100.0) + col("mid") / lit(100.0))
      .withColumn("ret", when(col("px") > 0 && prevPx > 0, col("px") / prevPx - 1))
  }

  val q17 = Q("q17_realized_variance",
    (s, dir) => {
      midRetDf(s, dir)
        .withColumn("rv20", SeriesMetrics.realizedVar(col("ret"), w, 20))
        .select("seq", "sym", "px", "ret", "rv20")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some(withCte(s"""$midRetCte
    SELECT seq, sym, px, ret,
      CASE WHEN COUNT(ret) OVER f = 20
           THEN CAST(SUM(CAST(ROUND(ret * ret, 12) AS DECIMAL(38,12))) OVER f AS DOUBLE) END AS rv20
    FROM r
    WINDOW f AS (PARTITION BY sym ORDER BY seq ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ORDER BY seq""")),
    headline = true)

  // ------------------------------------------------ q18: reset-on-gap RV
  val q18 = Q("q18_rv_reset_on_gap",
    (s, dir) => {
      val grpW = Window.partitionBy("sym", "gap_grp").orderBy("seq")
      midRetDf(s, dir)
        .withColumn("gap_grp", SeriesMetrics.gapGroup(col("ret"), w))
        .withColumn("rv20", SeriesMetrics.realizedVarResetOnGap(col("ret"), grpW, 20))
        .select("seq", "sym", "ret", "gap_grp", "rv20")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some(withCte(s"""$midRetCte,
    g AS (
      SELECT *, COUNT(CASE WHEN ret IS NULL THEN 1 END) OVER $runSql AS gap_grp
      FROM r
    )
    SELECT seq, sym, ret, gap_grp,
      CASE WHEN ret IS NOT NULL AND COUNT(ret) OVER f = 20
           THEN CAST(SUM(CAST(ROUND(ret * ret, 12) AS DECIMAL(38,12))) OVER f AS DOUBLE) END AS rv20
    FROM g
    WINDOW f AS (PARTITION BY sym, gap_grp ORDER BY seq ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ORDER BY seq""")))

  // ---------------------------------------------- q19: rolling corr OFI↔ret
  // Closed-form Pearson over exact decimal window sums (not the built-in
  // `corr` aggregate): cross-engine bit-deterministic, and immune to the
  // ANSI divide-by-zero on zero-variance windows.
  val q19 = Q("q19_rolling_corr_ofi_ret",
    (s, dir) => {
      SeriesMetrics.withRollingCorrExact(
        midRetDf(s, dir).withColumn("ofi_lob", SeriesMetrics.ofiLobster(w)),
        col("ofi_lob"), col("ret"), w, 30, "corr30")
        .select("seq", "sym", "corr30")
        .transform(Q.presentSorted(_, "seq"))
    },
    Some {
      def dsum(t: String, sc: Int) =
        s"CAST(SUM(CAST(ROUND($t, $sc) AS DECIMAL(38,$sc))) OVER f AS DOUBLE)"
      val n = "CAST(COUNT(xm) OVER f AS DOUBLE)"
      val sx = dsum("xm", 6); val sy = dsum("ym", 12)
      val sxy = dsum("xm * ym", 12); val sxx = dsum("xm * xm", 6); val syy = dsum("ym * ym", 14)
      val varx = s"($n * $sxx - $sx * $sx)"
      val vary = s"($n * $syy - $sy * $sy)"
      withCte(s"""$midRetCte,
    lg AS (
      SELECT r.seq, r.sym, r.ret, b.bid1_price, b.bid1_size, b.ask1_price, b.ask1_size,
             LAG(b.bid1_price, 1) OVER w AS pb, LAG(b.bid1_size, 1) OVER w AS sb,
             LAG(b.ask1_price, 1) OVER w AS pa, LAG(b.ask1_size, 1) OVER w AS sa
      FROM r JOIN book b USING (seq, sym) WINDOW w AS (PARTITION BY r.sym ORDER BY r.seq)
    ),
    o AS (SELECT seq, sym, ret, ${BookSql.ofiLobster} AS ofi_lob FROM lg),
    pm AS (
      SELECT seq, sym,
        CASE WHEN ofi_lob IS NOT NULL AND ret IS NOT NULL THEN ofi_lob END AS xm,
        CASE WHEN ofi_lob IS NOT NULL AND ret IS NOT NULL THEN ret END AS ym
      FROM o
    )
    SELECT seq, sym,
      CASE WHEN $n >= 2 AND $varx > 0 AND $vary > 0
           THEN ($n * $sxy - $sx * $sy) / (sqrt($varx) * sqrt($vary)) END AS corr30
    FROM pm
    WINDOW f AS (PARTITION BY sym ORDER BY seq ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    ORDER BY seq""")
    })

  // --------------------------------------------------- q20: depth curve
  val q20 = Q("q20_depth_curve",
    (s, dir) => {
      val stackExpr = (1 to D).flatMap(k =>
        Seq(s"'bid', $k, bid${k}_size", s"'ask', $k, ask${k}_size")).mkString(", ")
      bookDf(s, dir)
        .selectExpr(s"stack(${2 * D}, $stackExpr) as (side, level, size)")
        .groupBy("side", "level")
        .agg(count(col("size")).as("n_obs"),
          (Exact.sumExactFast(col("size"), 2) / count(col("size"))).as("avg_size"))
        .withColumn("davg",
          col("avg_size") - lag("avg_size", 1)
            .over(Window.partitionBy("side").orderBy("level")))
        .orderBy("side", "level")
    },
    Some {
      val branches = (1 to D).flatMap(k => Seq(
        s"SELECT 'bid' AS side, $k AS level, bid${k}_size AS size FROM book",
        s"SELECT 'ask' AS side, $k AS level, ask${k}_size AS size FROM book")).mkString("\n      UNION ALL ")
      withCte(s""",
    tidy AS (
      $branches
    ),
    curve AS (
      SELECT side, level, COUNT(size) AS n_obs,
        (${Exact.sumExactSql("size", 2)} / COUNT(size)) AS avg_size
      FROM tidy GROUP BY side, level
    )
    SELECT side, level, n_obs, avg_size,
      avg_size - LAG(avg_size, 1) OVER (PARTITION BY side ORDER BY level) AS davg
    FROM curve ORDER BY side, level""")
    })

  // ------------------------------------------------ q21: spread histogram
  val q21 = Q.sql("q21_spread_histogram",
    withCte(s""",
    x AS (SELECT ${BookSql.relSpreadBpsVector} AS sbps FROM book)
    SELECT CAST(floor(sbps / 2.5::DOUBLE) AS BIGINT) AS bin, COUNT(*) AS n
    FROM x WHERE sbps IS NOT NULL
    GROUP BY bin ORDER BY bin"""))

  // ------------------------------------------- q47: bucketed range join
  /** Interval matching at scale: for every gap row (NULL mid) find the
    * same-symbol rows within ±1 hour. The naive plan is a cross join +
    * filter (O(N²)); the engine buckets both sides on ts div G and joins
    * each probe to 3 adjacent buckets — an equi-join Catalyst can hash —
    * then applies the exact band filter. The oracle states the plain
    * BETWEEN join (DuckDB plans an IEJoin); results are identical.
    */
  val q47 = Q.sql("q47_gap_neighbors_rangejoin",
    withCte(s""",
    bm AS (SELECT sym, seq, ts_us, ${BookSql.mid} AS mid FROM book),
    gaps AS (SELECT sym AS g_sym, seq AS g_seq, ts_us AS g_ts FROM bm WHERE mid IS NULL)
    SELECT g.g_sym AS sym, g.g_seq, g.g_ts,
      COUNT(c.seq) AS n_neighbors,
      MIN(ABS(c.ts_us - g.g_ts)) AS min_dt_us
    FROM gaps g LEFT JOIN bm c
      ON c.sym = g.g_sym AND c.seq != g.g_seq
      AND c.ts_us BETWEEN g.g_ts - 3600000000 AND g.g_ts + 3600000000
    GROUP BY g.g_sym, g.g_seq, g.g_ts
    ORDER BY sym, g.g_seq"""))

  // ---------------------------------------------------------------- q50
  /** Depth-100 book metrics END-TO-END on the array compute schema
    * (SURVEY §1.4/§7.4.11): the deep ladder is built directly as
    * `ARRAY<STRUCT<price,size>>` (never materializing the 408-column
    * wide layout), and every metric is a higher-order fold — generic in
    * K, one codegen-friendly projection, no shuffle. Oracle mirrors the
    * folds with DuckDB `list_reduce` over a prepended zero accumulator,
    * which reproduces Spark's `aggregate()` left-fold order exactly
    * (needed for FP-exact notional/slope/walk sums).
    */
  val q50 = Q.sql("q50_deep_book_array",
    {
      // ordered-fold helpers: list_reduce over a prepended zero struct ≡
      // Spark aggregate(); elements are pre-shaped to the accumulator type
      // NOTE field order: DuckDB's list_reduce updates the struct
      // accumulator field-by-field IN PLACE, so a later field reading an
      // earlier-assigned acc field sees the NEW value. Every fold here
      // orders fields so no field reads one assigned before it (cum is
      // read by sy/sxy, so it comes last) — correct under both in-place
      // and snapshot evaluation. The fold also carries the notional (nt)
      // so one pass per side covers slope + notional, like the Spark side.
      def slopeAccSql(v: String) =
        s"""list_reduce(list_prepend(
             struct_pack(sx := 0.0::DOUBLE, sy := 0.0::DOUBLE, sxy := 0.0::DOUBLE,
                         sxx := 0.0::DOUBLE, nt := 0.0::DOUBLE, cum := 0.0::DOUBLE),
             list_transform($v, x -> struct_pack(sx := abs(x.price - $v[1].price),
                         sy := 0.0::DOUBLE, sxy := 0.0::DOUBLE, sxx := 0.0::DOUBLE,
                         nt := x.price * x.size, cum := x.size))),
           (acc, x) -> struct_pack(sx := acc.sx + x.sx,
                                   sy := acc.sy + (acc.cum + x.cum),
                                   sxy := acc.sxy + x.sx * (acc.cum + x.cum),
                                   sxx := acc.sxx + x.sx * x.sx,
                                   nt := acc.nt + x.nt,
                                   cum := acc.cum + x.cum))"""
      def slopeSql(a: String, n: String) =
        s"""CASE WHEN $n >= 2 AND ($a.sxx - $a.sx * $a.sx / $n) > 0
             THEN ($a.sxy - $a.sx * $a.sy / $n) / ($a.sxx - $a.sx * $a.sx / $n) END"""
      // take reads acc.rem, so rem must be assigned LAST (see note above);
      // element structs carry price in `px` / size in `sz` fields
      val takeSql =
        """CASE WHEN x.px IS NOT NULL AND x.sz IS NOT NULL AND acc.rem > 0
               THEN least(acc.rem, greatest(0.0::DOUBLE, x.sz)) ELSE 0.0::DOUBLE END"""
      val walkSql =
        s"""list_reduce(list_prepend(
             struct_pack(cost := 0.0::DOUBLE, tch := 0, px := NULL::DOUBLE,
                         sz := NULL::DOUBLE, rem := 50.0::DOUBLE),
             list_transform(asks, x -> struct_pack(cost := 0.0::DOUBLE, tch := 0,
                         px := x.price, sz := x.size, rem := 0.0::DOUBLE))),
           (acc, x) -> struct_pack(
             cost := acc.cost + (CASE WHEN ($takeSql) > 0
                                      THEN x.px * ($takeSql) ELSE 0.0::DOUBLE END),
             tch := acc.tch + (CASE WHEN ($takeSql) > 0 THEN 1 ELSE 0 END),
             px := NULL::DOUBLE, sz := NULL::DOUBLE,
             rem := acc.rem - ($takeSql)))"""
      withCte(s""",
    deep AS (
      SELECT seq, sym, best_bid, best_ask,
        list_transform(generate_series(1, 100), k -> struct_pack(
          price := CASE WHEN (seq + 7 * k) % 31 = 0 THEN NULL
                        ELSE best_bid - 0.01::DOUBLE * (k - 1) END,
          size  := CASE WHEN (seq + 3 * k) % 29 = 0 THEN NULL
                        ELSE CAST(1 + (seq + k) % 7 AS DOUBLE) END)) AS bids,
        list_transform(generate_series(1, 100), k -> struct_pack(
          price := CASE WHEN (seq + 5 * k) % 37 = 0 THEN NULL
                        ELSE best_ask + 0.01::DOUBLE * (k - 1) END,
          size  := CASE WHEN (seq + 2 * k) % 23 = 0 THEN NULL
                        ELSE CAST(1 + (seq + 2 * k) % 5 AS DOUBLE) END)) AS asks
      FROM book
    ),
    vf AS (
      SELECT *,
        list_filter(bids, x -> x.price IS NOT NULL AND x.size IS NOT NULL) AS vb,
        list_filter(asks, x -> x.price IS NOT NULL AND x.size IS NOT NULL) AS va,
        list_sum(list_transform(bids, x -> coalesce(x.size, 0.0::DOUBLE))) AS szb,
        list_sum(list_transform(asks, x -> coalesce(x.size, 0.0::DOUBLE))) AS sza
      FROM deep
    ),
    agg AS (
      SELECT seq, sym, szb, sza,
        len(vb) AS nvb, len(va) AS nva,
        ${slopeAccSql("vb")} AS ab, ${slopeAccSql("va")} AS aa,
        $walkSql AS wa
      FROM vf
    )
    SELECT seq, sym,
      CASE WHEN szb + sza > 0 THEN szb / (szb + sza) END AS imbalance_k,
      CASE WHEN nvb > 0 THEN ab.nt END AS notional_bid_k,
      CASE WHEN nva > 0 THEN aa.nt END AS notional_ask_k,
      ${slopeSql("ab", "CAST(nvb AS DOUBLE)")} AS slope_bid,
      ${slopeSql("aa", "CAST(nva AS DOUBLE)")} AS slope_ask,
      50.0::DOUBLE - wa.rem AS walk_filled,
      wa.cost AS walk_cost,
      wa.tch AS walk_touched
    FROM agg ORDER BY seq""")
    },
    headline = true)

  // ------------------------------------------------- q176: OHLC time bars
  /** Time-bar aggregation — the resampling step every irregular tick
    * stream pays before downstream modeling (the reference computes all
    * series metrics at tick granularity; bars are the missing rollup,
    * cf. `metrics_cli.py` operating on raw rows). Per (sym, hour):
    * open/close via `min_by`/`max_by` on the unique `seq` (deterministic
    * — no window, no sort), high/low as plain max/min, tick count, L1
    * volume as an exact long sum, and bar VWAP via the decimal-exact
    * recipe ([[graft.Exact]]).
    *
    * Scale shape: ONE partial-aggregable groupBy over (sym, bar) — every
    * aggregate here (min_by/max_by/min/max/sum) map-side combines, so a
    * 100 TB tick table reduces to bar-cardinality state per executor
    * before the single shuffle. That is the whole plan: no window means
    * no per-key sort, which is what makes bars cheaper than any of the
    * §2.5 series metrics at fleet scale.
    */
  val q176 = Q.sql("q176_ohlc_bars",
    withCte(s""",
    m AS (
      SELECT sym, seq, ts_us // 3600000000 AS bar, ${BookSql.mid} AS mid,
        CAST(COALESCE(bid1_size, 0.0::DOUBLE) + COALESCE(ask1_size, 0.0::DOUBLE) AS BIGINT) AS vol
      FROM book
      WHERE ${BookSql.mid} IS NOT NULL
    ), agg AS (
      SELECT sym, bar,
        arg_min(mid, seq) AS open,
        MAX(mid) AS high,
        MIN(mid) AS low,
        arg_max(mid, seq) AS close,
        COUNT(*) AS n_ticks,
        CAST(SUM(vol) AS BIGINT) AS l1_volume,
        ${Exact.sumExactRSql("mid * vol", 6, 6)} AS pv
      FROM m GROUP BY sym, bar
    )
    SELECT sym, bar, open, high, low, close, n_ticks, l1_volume,
      CASE WHEN l1_volume > 0 THEN pv / l1_volume END AS bar_vwap
    FROM agg ORDER BY sym, bar"""))

  // ----------------------------------------------- q181: VPIN toxicity
  /** Volume-synchronized probability of informed trading (VPIN —
    * Easley, López de Prado, O'Hara, RFS 2012): the order-flow
    * toxicity meter the OFI family (§2.5) doesn't cover. Ticks are
    * direction-classified by the tick rule (mid up = buy, down = sell,
    * unchanged carries the last known direction; leading unknowns
    * default to buy — stated convention), volume-bucketed by
    * cumulative-L1-volume striping (the q175 offset trick: bucket =
    * pre-tick cumulative volume div V, V = 256 — equal-volume buckets
    * with no sequential state), and each bucket's |buy − sell|
    * imbalance feeds a trailing-5-bucket integer VPIN:
    * 1000·Σimb div Σvol.
    *
    * Scale shape: the tick windows (lag, carried direction, cumsum)
    * all share ONE (sym, seq) sort — Spark plans a single Sort+Window
    * stage; the bucket rollup is a partial-aggregable groupBy and the
    * VPIN window runs over BUCKET-cardinality rows (data volume div V),
    * never ticks. All integer after the sign comparison, so the oracle
    * hash-matches at any partitioning.
    */
  val q181 = Q.sql("q181_vpin_toxicity",
    withCte(s""",
    m AS (
      SELECT sym, seq, ${BookSql.mid} AS mid,
        CAST(COALESCE(bid1_size, 0.0::DOUBLE) + COALESCE(ask1_size, 0.0::DOUBLE) AS BIGINT) AS vol
      FROM book
      WHERE ${BookSql.mid} IS NOT NULL
    ), d AS (
      SELECT sym, seq, vol,
        CASE WHEN mid > lag(mid) OVER $winSql THEN 1
             WHEN mid < lag(mid) OVER $winSql THEN -1 END AS dir_raw
      FROM m
    ), c AS (
      SELECT sym, seq, vol,
        COALESCE(last_value(dir_raw IGNORE NULLS) OVER $runSql, 1) AS dir,
        CAST(SUM(vol) OVER $runSql AS BIGINT) AS cum
      FROM d
    ), b AS (
      SELECT sym, (cum - vol) // 256 AS bucket,
        CAST(SUM(CASE WHEN dir = 1 THEN vol ELSE 0 END) AS BIGINT) AS buy_vol,
        CAST(SUM(CASE WHEN dir = -1 THEN vol ELSE 0 END) AS BIGINT) AS sell_vol
      FROM c GROUP BY sym, bucket
    ), i AS (
      SELECT sym, bucket, buy_vol, sell_vol,
        abs(buy_vol - sell_vol) AS imbalance,
        buy_vol + sell_vol AS bucket_vol
      FROM b
    ), v AS (
      SELECT sym, bucket, buy_vol, sell_vol, imbalance, bucket_vol,
        CAST(SUM(imbalance) OVER wv AS BIGINT) AS win_imb,
        CAST(SUM(bucket_vol) OVER wv AS BIGINT) AS win_vol
      FROM i
      WINDOW wv AS (PARTITION BY sym ORDER BY bucket ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT sym, bucket, buy_vol, sell_vol, imbalance, bucket_vol,
      CASE WHEN win_vol > 0 THEN (1000 * win_imb) // win_vol END AS vpin_permille
    FROM v ORDER BY sym, bucket"""))

  def all: Seq[Q] =
    Seq(q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q47, q50, q176, q181)
}

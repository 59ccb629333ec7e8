package graft.rel

import graft.{Exact, Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational capability layer over the TPC-H-ish test tables: scans with
  * pushed filters, broadcast/shuffle joins, hash aggregation, rollup,
  * semi/anti joins, ranking and running windows, sessionization
  * (SURVEY.md §2.3/§2.4 "absent in the reference, required by the
  * north-star"). Each query is paired with its DuckDB oracle.
  *
  * Scale notes: dimension joins (`customer`, `nation`, `region`,
  * `supplier`, `part`) are explicitly `broadcast()`; fact-fact joins
  * shuffle on the join key and AQE handles skew. Aggregates use
  * [[graft.Exact]] decimal summation, which also makes results
  * reproducible under any cluster partitioning.
  */
object RelationalQueries {

  private val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private val discSql = "l_extendedprice * (1 - l_discount)"

  /** Hilbert d-index for every cell of a 16×16 grid (row-major
    * x·16 + y), generated at class-init by the standard xy2d
    * rotate-and-descend walk. q159 inlines these 256 values as a
    * LITERAL lookup in BOTH engines — the curve is data, not per-row
    * logic, so the mirrors cannot diverge on it.
    */
  private[graft] val hilbertLut16: Array[Long] = {
    val n = 16
    val t = new Array[Long](n * n)
    for (x0 <- 0 until n; y0 <- 0 until n) {
      var (x, y, d) = (x0, y0, 0L)
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        s /= 2
      }
      t(x0 * n + y0) = d
    }
    t
  }

  val q01 = Q.sql("q01_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
      ${Exact.sumExactSql("l_quantity", 2)} AS sum_qty,
      ${Exact.sumExactSql("l_extendedprice", 2)} AS sum_base_price,
      ${Exact.sumExactRSql(discSql, 4, 2)} AS sum_disc_price,
      ${Exact.sumExactRSql(s"$discSql * (1 + l_tax)", 6, 2)} AS sum_charge,
      ${Exact.avgExactSql("l_quantity", 2)} AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus""",
    headline = true)

  val q02 = Q.sql("q02_top_revenue_orders",
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      ${Exact.sumExactRSql(discSql, 4, 2)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10""",
    headline = true)

  val q03 = Q.sql("q03_region_revenue",
    s"""SELECT r_name, n_name, ${Exact.sumExactRSql(discSql, 4, 2)} AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND r_name IN ('ASIA', 'EUROPE')
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name""",
    headline = true)

  val q04 = Q("q04_active_segment_stats",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), Exact.sumExactFast(col("c_acctbal"), 2).as("sum_acctbal"))
        .orderBy("c_mktsegment")
    },
    Some(s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
      ${Exact.sumExactSql("c_acctbal", 2)} AS sum_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""))

  val q05 = Q.sql("q05_inactive_customers",
    s"""SELECT n_name, COUNT(*) AS n_customers,
      ${Exact.sumExactSql("c_acctbal", 2)} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    GROUP BY n_name
    ORDER BY n_name""")

  val q06 = Q.sql("q06_rollup_lineitem",
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
      COALESCE(l_linestatus, 'ALL') AS lstatus,
      COUNT(*) AS n, ${Exact.sumExactSql("l_quantity", 2)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY rflag, lstatus""")

  val q07 = Q("q07_customer_running_spend",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"),
        row_number().over(w).cast("long").as("order_seq"),
        sum(round(col("o_totalprice"), 2).cast(DecimalType(38, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_spend"))
        .transform(graft.Q.presentSorted(_, "o_custkey", "order_seq"))
    },
    Some("""SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      o_totalprice,
      ROW_NUMBER() OVER w AS order_seq,
      CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(38,2)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, order_seq"""))

  val q08 = Q.sql("q08_events_minute_agg",
    s"""SELECT epoch_us(ts) // 60000000 AS minute, event_type,
      COUNT(*) AS n,
      ${Exact.sumExactSql("value", 2)} AS sum_value,
      MIN(value) AS min_value, MAX(value) AS max_value
    FROM events
    GROUP BY minute, event_type
    ORDER BY minute, event_type""",
    headline = true)

  val q09 = Q.sql("q09_events_sessionize",
    s"""WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ), flagged AS (
      SELECT *, CASE WHEN ts_us - LAG(ts_us, 1) OVER w IS NULL
                       OR ts_us - LAG(ts_us, 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
      MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
      ${Exact.sumExactSql("value", 2)} AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id""")

  // ---------------------------------------------------------------- q55
  /** q09's gap sessionization via Spark's NATIVE `session_window`
    * operator (batch mode): one groupBy over (user, session_window)
    * replaces the lag + flag + running-sum + groupBy pipeline — the
    * idiomatic formulation, and the same operator the streaming path
    * uses. Semantics note mirrored in the oracle: session_window ends
    * are EXCLUSIVE (`end = last_ts + gap`; an event exactly `gap` later
    * starts a NEW session), hence the `>= gap` flag below vs q09's
    * `> gap`.
    */
  val q55 = Q.sql("q55_session_window_native",
    s"""WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
    ), flagged AS (
      SELECT *, CASE WHEN LAG(ts_us) OVER w IS NULL
                       OR ts_us - LAG(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts_us) AS session_start_us,
      MAX(ts_us) + 1800000000 AS session_end_us,
      COUNT(*) AS n_events, ${Exact.sumExactSql("value", 2)} AS session_value
    FROM sessions GROUP BY user_id, sid
    ORDER BY user_id, session_start_us""")

  // ---------------------------------------------------------------- q56
  /** Exact per-group top-k through a custom [[TypedImperativeAggregate]]
    * (`functions.ExactTopK`): O(k) buffer per group, map-side
    * combinable — at scale each partition ships k doubles per group
    * instead of the full value stream a window-rank shuffles. The
    * oracle is the window-rank formulation, proving the two agree
    * exactly.
    */
  val q56 = Q.sql("q56_topk_typed_agg",
    """WITH r AS (
      SELECT o_orderpriority, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk
      FROM orders)
    SELECT o_orderpriority, rnk, o_totalprice AS price
    FROM r WHERE rnk <= 5 ORDER BY o_orderpriority, rnk""")

  val q10 = Q("q10_top_orders_per_customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .transform(graft.Q.presentSorted(_, "o_custkey", "rk"))
    },
    Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    )
    WHERE rk <= 3
    ORDER BY o_custkey, rk"""))

  val q38 = Q.sql("q38_events_json_topk",
    """SELECT event_type, rk, event_id, k_val FROM (
      SELECT event_type, event_id,
        CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) != ''
             THEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) END AS k_val,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) != ''
             THEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) END DESC, event_id) AS rk
      FROM events)
    WHERE rk <= 20
    ORDER BY event_type, rk""")

  /** Skew-salting pattern, verified exact: pre-aggregate on
    * (key, salt) then merge — decimal partials make the two-phase result
    * bit-identical to the direct aggregation (what the oracle computes).
    * This is the shape that survives a hot key at 100 TB.
    */
  val q41 = Q("q41_salted_user_stats",
    (s, dir) => {
      val partial = Tables(s, dir, "events")
        .withColumn("salt", pmod(col("event_id"), lit(8)))
        .groupBy("user_id", "salt")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value"), 2).cast(DecimalType(38, 2))).as("sv"))
      partial.groupBy("user_id")
        .agg(sum("n").as("n_events"), sum("sv").cast("double").as("sum_value"))
        .orderBy("user_id")
    },
    Some(s"""SELECT user_id, COUNT(*) AS n_events,
      ${Exact.sumExactSql("value", 2)} AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Sketch aggregates, audited-exact restatement (closes the catalog's
    * one `no_oracle` carve-out): the original surface — approximate
    * distinct orders/parts and approximate p50/p95 price per return
    * flag — re-expressed with DETERMINISTIC sketches both engines can
    * compute bit-identically, each beside its exact companion:
    *
    *   - distinct counts: per-group KMV (k=64) over 48-bit md5 key
    *     hashes via the [[graft.functions.ExactTopK]] aggregator (the
    *     q84 recipe, grouped) — O(k) state per group, map-side
    *     combinable — plus the exact `count(distinct)` and the sketch's
    *     real per-mille error;
    *   - quantiles: the q125 histogram-pruned two-pass — a 256-bin
    *     equi-width histogram per group (bounded driver walk: returnflag
    *     has 3 values → ≤ 768 rows collected), integer-interpolated
    *     estimate, then EXACT rank statistic read from only the target
    *     bins (no per-group sort — ranks are windowed per (group, bin)).
    *
    * Replaces `approx_count_distinct`/`percentile_approx`, whose
    * internals aren't portable to an oracle; the audited twins measure
    * the same thing with a cross-engine-exact contract.
    */
  val q42 = Q("q42_sketch_aggregates",
    (s, dir) => {
      val sess = s
      import sess.implicits._
      // no spread: measured round 18 (receipts/q42_perstage_r18.json) —
      // round-robining the 16-column lineitem costs 10× the CPU the
      // kernels save (min-of-3 wall 2.54→3.67, shuffle 3.2→30.7 MB);
      // the query's cost is 3 cheap full scans, not scan parallelism
      val li = Tables(s, dir, "lineitem")

      // Both KMV sketches in ONE distinct + ONE aggregation: explode each
      // row into its two tagged integer keys, distinct the (flag, tag,
      // key) triples BEFORE hashing (the distinct is a cheap long
      // shuffle; the md5 fold — the dominant per-row cost — runs only on
      // survivors, ~4× fewer for orders, ~10× for parts), then one
      // grouped agg with tag-conditional exact_topk (null inputs skip the
      // heap). n_exact is the true distinct-key count; the k-th minimum
      // keeps any hash-collision duplicates, identically in both engines
      // (the oracle hashes after the same pre-hash DISTINCT).
      // k2 packs (key, tag) into one long — the distinct shuffle carries
      // (3-byte flag, long) rows, no strings, no structs
      val hv = li.select(col("l_returnflag").as("g"),
          explode(array(col("l_orderkey") * 2, col("l_partkey") * 2 + 1)).as("k2"))
        .distinct()
        .select(col("g"), col("k2"),
          expr("CAST(conv(substr(md5(CAST(concat(CASE WHEN k2 % 2 = 0 THEN 'o#' ELSE 'p#' END, CAST(k2 div 2 AS STRING)) AS BINARY)), 1, 12), 16, 10) AS BIGINT)")
            .as("v"))
      val km = hv.groupBy("g").agg(
          count(when(col("k2") % 2 === 0, 1)).as("n_exact_orders"),
          expr("exact_topk(CASE WHEN k2 % 2 = 0 THEN CAST(-v AS DOUBLE) END, 64)").as("tn_o"),
          count(when(col("k2") % 2 === 1, 1)).as("n_exact_parts"),
          expr("exact_topk(CASE WHEN k2 % 2 = 1 THEN CAST(-v AS DOUBLE) END, 64)").as("tn_p"))
        .withColumn("v_k_o", when(size(col("tn_o")) >= 64,
          (-element_at(col("tn_o"), 64)).cast("long")))
        .withColumn("kmv_orders", expr("CAST((63 * 281474976710656) div v_k_o AS BIGINT)"))
        .withColumn("err_orders_permille",
          expr("abs(kmv_orders - n_exact_orders) * 1000 div n_exact_orders"))
        .withColumn("v_k_p", when(size(col("tn_p")) >= 64,
          (-element_at(col("tn_p"), 64)).cast("long")))
        .withColumn("kmv_parts", expr("CAST((63 * 281474976710656) div v_k_p AS BIGINT)"))
        .withColumn("err_parts_permille",
          expr("abs(kmv_parts - n_exact_parts) * 1000 div n_exact_parts"))
        .select("g", "n_exact_orders", "kmv_orders", "err_orders_permille",
          "n_exact_parts", "kmv_parts", "err_parts_permille")

      // null prices drop BEFORE the stats pass: aggregates skip NULLs in
      // both engines, but the driver-side bin walk below needs n to count
      // binnable rows only (a null-heavy group would otherwise plan a
      // rank beyond the histogram mass and MatchError on the walk)
      val vv = li.select(col("l_returnflag").as("g"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
        .filter(col("v").isNotNull)
      val statRows = vv.groupBy("g")
        .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2) - r.getLong(1) + 1, r.getLong(3)))
      val statsDf = statRows.map { case (g, mn, span, _) => (g, mn, span) }
        .toSeq.toDF("g", "mn", "span")
      // Two consumers read the binned projection (the histogram pass and
      // the pruned-bin rank pass) — persist it so the scan + broadcast
      // join run once, not once per pass. At fleet scale this is the
      // temp materialization any two-pass quantile job writes; the
      // harness clears the cache per query (GlobalRank contract).
      val binned = vv.join(broadcast(statsDf), Seq("g"))
        .withColumn("bin", expr("(v - mn) * 256 div span"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hist = binned.groupBy("g", "bin").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val plans = for {
        (g, mn, span, n) <- statRows.toSeq
        pct <- Seq(50L, 95L)
      } yield {
        val r = (n - 1) * pct / 100L
        var cum = 0L; var hit: (Long, Long, Long) = null
        var b = 0L
        while (b < 256L && hit == null) {
          val c = hist.getOrElse((g, b), 0L)
          if (r >= cum && r < cum + c) hit = (b, r - cum, c)
          cum += c; b += 1
        }
        val (bin, off, c) = hit
        val blo = mn + bin * span / 256L
        val bhi = mn + (bin + 1) * span / 256L
        (g, pct, bin, off + 1, blo + (bhi - blo) * off / c)
      }
      val wanted = plans.toDF("g", "pct", "bin", "rk", "est_cents")
      val rankedq = binned
        .join(broadcast(wanted.select("g", "bin").distinct()), Seq("g", "bin"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("g", "bin").orderBy("v")).cast("long"))
      val quant = rankedq.join(broadcast(wanted), Seq("g", "bin", "rk"))
        .select(col("g"), col("pct"), col("est_cents"), col("v").as("exact_cents"))
      val p50 = quant.filter(col("pct") === 50L).select(col("g"),
        col("est_cents").as("p50_est_cents"), col("exact_cents").as("p50_exact_cents"))
      val p95 = quant.filter(col("pct") === 95L).select(col("g"),
        col("est_cents").as("p95_est_cents"), col("exact_cents").as("p95_exact_cents"))

      km.join(p50, Seq("g")).join(p95, Seq("g"))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag")
    },
    Some("""WITH hok AS (
      SELECT DISTINCT l_returnflag AS g, l_orderkey AS k FROM lineitem
    ), ho AS (
      SELECT g,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef',
              substr(md5('o#' || CAST(k AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) AS v
      FROM hok
    ), rko AS (
      SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM ho
    ), kmo AS (
      SELECT e.g, e.n_exact_orders, kv.kmv_orders,
        abs(kv.kmv_orders - e.n_exact_orders) * 1000 // e.n_exact_orders
          AS err_orders_permille
      FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_exact_orders FROM ho GROUP BY g) e
      LEFT JOIN (SELECT g, CAST((63 * 281474976710656) // v AS BIGINT) AS kmv_orders
                 FROM rko WHERE rn = 64) kv ON kv.g = e.g
    ), hpk AS (
      SELECT DISTINCT l_returnflag AS g, l_partkey AS k FROM lineitem
    ), hp AS (
      SELECT g,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 12), i ->
            CAST(strpos('0123456789abcdef',
              substr(md5('p#' || CAST(k AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
          (acc, x) -> acc * 16 + x) AS v
      FROM hpk
    ), rkp AS (
      SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM hp
    ), kmp AS (
      SELECT e.g, e.n_exact_parts, kv.kmv_parts,
        abs(kv.kmv_parts - e.n_exact_parts) * 1000 // e.n_exact_parts
          AS err_parts_permille
      FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_exact_parts FROM hp GROUP BY g) e
      LEFT JOIN (SELECT g, CAST((63 * 281474976710656) // v AS BIGINT) AS kmv_parts
                 FROM rkp WHERE rn = 64) kv ON kv.g = e.g
    ), vv AS (
      SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
    ), mm AS (
      SELECT g, min(v) AS mn, max(v) AS mx, CAST(count(*) AS BIGINT) AS n,
        max(v) - min(v) + 1 AS span FROM vv GROUP BY g
    ), binned AS (
      SELECT vv.g, v, (v - mm.mn) * 256 // mm.span AS bin
      FROM vv JOIN mm ON vv.g = mm.g
    ), hist AS (
      SELECT g, bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY g, bin
    ), cums AS (
      SELECT g, bin, c,
        CAST(SUM(c) OVER (PARTITION BY g ORDER BY bin) - c AS BIGINT) AS cumlo
      FROM hist
    ), pcts AS (
      SELECT CAST(unnest([50, 95]) AS BIGINT) AS pct
    ), plans AS (
      SELECT mm.g, p.pct, cu.bin, cu.c,
        (mm.n - 1) * p.pct // 100 - cu.cumlo AS off,
        mm.mn + cu.bin * mm.span // 256 AS blo,
        mm.mn + (cu.bin + 1) * mm.span // 256 AS bhi
      FROM pcts p, mm, cums cu
      WHERE cu.g = mm.g
        AND (mm.n - 1) * p.pct // 100 >= cu.cumlo
        AND (mm.n - 1) * p.pct // 100 < cu.cumlo + cu.c
    ), rankedq AS (
      SELECT b.g, b.bin, b.v,
        row_number() OVER (PARTITION BY b.g, b.bin ORDER BY b.v) AS rk
      FROM binned b
      WHERE EXISTS (SELECT 1 FROM plans pl WHERE pl.g = b.g AND pl.bin = b.bin)
    ), qq AS (
      SELECT pl.g, pl.pct,
        pl.blo + (pl.bhi - pl.blo) * pl.off // pl.c AS est_cents,
        rk.v AS exact_cents
      FROM plans pl
      JOIN rankedq rk ON rk.g = pl.g AND rk.bin = pl.bin AND rk.rk = pl.off + 1
    )
    SELECT kmo.g AS l_returnflag,
      kmo.n_exact_orders, kmo.kmv_orders, kmo.err_orders_permille,
      kmp.n_exact_parts, kmp.kmv_parts, kmp.err_parts_permille,
      q50.est_cents AS p50_est_cents, q50.exact_cents AS p50_exact_cents,
      q95.est_cents AS p95_est_cents, q95.exact_cents AS p95_exact_cents
    FROM kmo
    JOIN kmp ON kmp.g = kmo.g
    JOIN (SELECT * FROM qq WHERE pct = 50) q50 ON q50.g = kmo.g
    JOIN (SELECT * FROM qq WHERE pct = 95) q95 ON q95.g = kmo.g
    ORDER BY l_returnflag"""))

  val q43 = Q.sql("q43_cube_lineitem",
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
      COALESCE(l_linestatus, 'ALL') AS lstatus,
      COUNT(*) AS n, ${Exact.sumExactSql("l_quantity", 2)} AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY rflag, lstatus""")

  /** TPC-H Q14-ish: promo revenue share by brand — conditional decimal
    * aggregation + broadcast dimension join; touches the `part` table.
    */
  val q45 = Q.sql("q45_promo_revenue_share",
    s"""SELECT p_brand, COUNT(*) AS n_items,
      ${Exact.sumExactRSql(discSql, 4, 2)} AS revenue,
      ${Exact.sumExactRSql(s"CASE WHEN p_type LIKE 'PROMO%' THEN $discSql ELSE 0.0::DOUBLE END", 4, 2)} AS promo_revenue,
      CASE WHEN ${Exact.sumExactRSql(discSql, 4, 2)} != 0
           THEN ${Exact.sumExactRSql(s"CASE WHEN p_type LIKE 'PROMO%' THEN $discSql ELSE 0.0::DOUBLE END", 4, 2)}
                / ${Exact.sumExactRSql(discSql, 4, 2)} END AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand""")

  /** Pivot: per-returnflag counts and exact sums spread over linestatus
    * columns (explicit value list keeps the schema static — the form that
    * survives at scale; dynamic pivot needs a driver-side distinct pass).
    */
  val q46 = Q("q46_pivot_status",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)).as("n"), Exact.sumExactFast(col("l_quantity"), 2).as("qty"))
        .orderBy("l_returnflag")
    },
    Some(s"""SELECT l_returnflag,
      COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F_n",
      ${Exact.sumExactSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 2)} AS "F_qty",
      COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O_n",
      ${Exact.sumExactSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 2)} AS "O_qty"
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** EXACT distribution quantiles (p50/p95/p99, linear interpolation) —
    * verifiably identical across engines: Spark `percentile` and DuckDB
    * `quantile_cont` compute the same p·(n−1) position and interpolation
    * over the same doubles, so the oracle pins them bit-for-bit (probed
    * on all groups before adoption). Scale note: exact percentile holds
    * each group's values in its aggregation buffer — right for bounded
    * groups and for oracle-able exactness; an unbounded-cardinality
    * production path uses approx_percentile (t-digest), whose sketch
    * results are engine-specific by construction (q42's family).
    */
  val q65 = Q("q65_exact_quantiles",
    (s, dir) => {
      // distributed exact quantiles (see ExactQuantile): built-in
      // `percentile` buffers every group value in ONE reducer — correct
      // here, impossible at 100 TB. Range-sort + rank-pick returns
      // bit-identical interpolations without materializing any group.
      val li = Tables(s, dir, "lineitem")
      val pq = ExactQuantile
        .perGroup(li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.95, 0.99))
        .groupBy("g").agg(
          max(when(col("p") === 0.5, col("q"))).as("price_p50"),
          max(when(col("p") === 0.95, col("q"))).as("price_p95"),
          max(when(col("p") === 0.99, col("q"))).as("price_p99"))
      val qq = ExactQuantile.perGroup(li, "l_returnflag", "l_quantity", Seq(0.5))
        .select(col("g").as("g2"), col("q").as("qty_p50"))
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min("l_extendedprice").as("price_min"),
          max("l_extendedprice").as("price_max"),
          count(lit(1)).as("n"))
        .join(broadcast(pq), col("l_returnflag") === col("g"))
        .join(broadcast(qq), col("l_returnflag") === col("g2"))
        .select(col("l_returnflag"), col("price_p50"), col("price_p95"),
          col("price_p99"), col("qty_p50"), col("price_min"), col("price_max"), col("n"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      quantile_cont(l_extendedprice, 0.5) AS price_p50,
      quantile_cont(l_extendedprice, 0.95) AS price_p95,
      quantile_cont(l_extendedprice, 0.99) AS price_p99,
      quantile_cont(l_quantity, 0.5) AS qty_p50,
      MIN(l_extendedprice) AS price_min,
      MAX(l_extendedprice) AS price_max,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // --------------------------------------------------------------- q111
  /** Shuffle-skew planner — the diagnostic an engine operator runs
    * BEFORE a big join/agg to decide its skew mitigation (the q41
    * salted-agg pattern and AQE's skewedJoin both need a salt factor /
    * threshold from somewhere): per-key row counts for a join key,
    * folded into log2-sized buckets. Per bucket: how many keys, how
    * many rows they carry (share_permille of the table), the largest
    * key, and the salt factor that would cap a task at ~1000 rows of
    * that key — `(max_cnt + 999) div 1000`, i.e. what you'd pass to the
    * q41 salting or compare against
    * `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes`.
    *
    * Scale shape: two partial-aggregable groupBys (key → count, then
    * bucket → stats); the second input is one row per DISTINCT key, so
    * the planner costs one pass over the fact table regardless of skew.
    */
  val q111 = Q.sql("q111_skew_planner",
    """WITH pk AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
    ), t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM pk
    ), b AS (
      SELECT CAST(length(bin(cnt)) AS BIGINT) AS log2_bucket,
        COUNT(*) AS n_keys,
        CAST(SUM(cnt) AS BIGINT) AS n_rows,
        CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM pk GROUP BY 1
    )
    SELECT b.log2_bucket, b.n_keys, b.n_rows,
      b.n_rows * 1000 // t.n_total AS share_permille,
      b.max_cnt, (b.max_cnt + 999) // 1000 AS salt_factor
    FROM b, t ORDER BY b.log2_bucket""")

  // --------------------------------------------------------------- q116
  /** Hybrid hot/cold skew join — the production answer when one join
    * key carries a disproportionate share of a 100 TB fact table and
    * AQE's byte-threshold skew split isn't enough: split the FACT side
    * by per-key row count (the q111 planner's output), route hot keys
    * through a broadcast join against the (tiny, because few hot keys)
    * matching dim slice, route the cold long tail through the normal
    * shuffle join, and union. No shuffle partition ever holds more than
    * `threshold` rows of any single hot key, and the cold-path shuffle
    * is the balanced one Spark would have wanted all along.
    *
    * The final aggregate proves the split is lossless: per-priority
    * revenue over hot+cold equals the plain single-join oracle exactly
    * ([[Exact]] decimal sums are partitioning-independent, so the
    * two-path union cannot perturb the fold).
    */
  val q116 = Q("q116_hybrid_skew_join",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val ord = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      // planner pass: per-key counts; "hot" = above-threshold keys.
      // The hot set is small by construction (skew means FEW heavy
      // keys), so both the semi/anti routing and the hot dim slice
      // broadcast.
      val hot = li.groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 6).select("l_orderkey")
      val liHot = li.join(broadcast(hot), Seq("l_orderkey"), "left_semi")
      val liCold = li.join(broadcast(hot), Seq("l_orderkey"), "left_anti")
      val ordHot = ord.join(
        broadcast(hot.select(col("l_orderkey").as("o_orderkey"))),
        Seq("o_orderkey"), "left_semi")
      val hotPath = liHot.join(broadcast(ordHot), col("l_orderkey") === col("o_orderkey"))
      val coldPath = liCold.join(ord, col("l_orderkey") === col("o_orderkey"))
      hotPath.select(col("o_orderpriority"), col("l_quantity"), disc.as("rev"))
        .union(coldPath.select(col("o_orderpriority"), col("l_quantity"), disc.as("rev")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          Exact.sumExactFast(col("l_quantity"), 2).as("sum_qty"),
          Exact.sumExactRFast(col("rev"), 4, 2).as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o.o_orderpriority,
      COUNT(*) AS n_items,
      ${Exact.sumExactSql("l.l_quantity", 2)} AS sum_qty,
      ${Exact.sumExactRSql("l.l_extendedprice * (1 - l.l_discount)", 4, 2)} AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""))

  // --------------------------------------------------------------- q125
  /** Two-pass histogram-pruned exact quantiles + sketch-error audit:
    * pass 1 builds a 256-bin equi-width histogram over integer price
    * cents (mergeable, partial-aggregable — the sketch a streaming
    * ingest tier keeps); the DRIVER walks the 256 cumulative counts to
    * (a) interpolate the sketch's quantile ESTIMATE and (b) locate the
    * one bin holding each exact target rank; pass 2 ranks ONLY the
    * ≤ 7 target bins (≈ targets/256 of the data) with a per-bin window
    * and reads the exact rank statistic. Reported error is the audit:
    * how far the uniform-within-bin assumption drifts at each tail.
    *
    * Scale: no global sort anywhere — pass 1 is a 256-row aggregate,
    * pass 2 sorts only the pruned bins (recurse the same pruning for a
    * 100 TB column where a single bin is still huge). All integer
    * arithmetic: ranks are 0-based lower ranks, the estimate is
    * `lo + width·off/count` in integer division, mirrored exactly.
    */
  val q125 = Q("q125_histogram_quantile_audit",
    (s, dir) => {
      val sess = s
      import sess.implicits._
      val v = Tables(s, dir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      val head = v.agg(min("v"), max("v"), count(lit(1))).head()
      val (mn, mx, n) = (head.getLong(0), head.getLong(1), head.getLong(2))
      val span = mx - mn + 1
      val binExpr = s"(v - ${mn}L) * 256 div ${span}L"
      val hist = v.groupBy(expr(binExpr).as("bin")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var cum = 0L
      val cums = (0L until 256L).map { b =>
        val c = hist.getOrElse(b, 0L); val lo = cum; cum += c; b -> ((lo, c))
      }.toMap
      val plans = Seq(1L, 5L, 25L, 50L, 75L, 95L, 99L).map { pct =>
        val r = (n - 1) * pct / 100L
        val b = (0L until 256L)
          .find { b => val (lo, c) = cums(b); r >= lo && r < lo + c }.get
        val (cumLo, c) = cums(b)
        val off = r - cumLo
        val blo = mn + b * span / 256L
        val bhi = mn + (b + 1) * span / 256L
        (pct, r, b, off, blo + (bhi - blo) * off / c)
      }
      val targetBins = plans.map(_._3).distinct
      val ranked = v.withColumn("bin", expr(binExpr))
        .filter(col("bin").isin(targetBins: _*))
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("bin").orderBy("v")))
      val wanted = plans.map { case (pct, r, b, off, est) => (pct, r, b, off + 1, est) }
        .toDF("pct", "rank_0b", "bin", "rk", "est_cents")
      ranked.join(broadcast(wanted), Seq("bin", "rk"))
        .select(col("pct"), col("rank_0b"), col("est_cents"),
          col("v").as("exact_cents"),
          expr(s"abs(est_cents - v) * 1000 div ${span}L").as("err_permille_of_span"))
        .orderBy("pct")
    },
    Some("""WITH vv AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
    ), mm AS (
      SELECT min(v) AS mn, max(v) AS mx, CAST(count(*) AS BIGINT) AS n,
        max(v) - min(v) + 1 AS span FROM vv
    ), binned AS (
      SELECT v, (v - mm.mn) * 256 // mm.span AS bin FROM vv, mm
    ), hist AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY bin
    ), cums AS (
      SELECT bin, c,
        CAST(SUM(c) OVER (ORDER BY bin) - c AS BIGINT) AS cumlo FROM hist
    ), pcts AS (
      SELECT CAST(unnest([1, 5, 25, 50, 75, 95, 99]) AS BIGINT) AS pct
    ), plans AS (
      SELECT p.pct, (mm.n - 1) * p.pct // 100 AS rank_0b, cu.bin, cu.c,
        (mm.n - 1) * p.pct // 100 - cu.cumlo AS off,
        mm.mn + cu.bin * mm.span // 256 AS blo,
        mm.mn + (cu.bin + 1) * mm.span // 256 AS bhi
      FROM pcts p, mm, cums cu
      WHERE (mm.n - 1) * p.pct // 100 >= cu.cumlo
        AND (mm.n - 1) * p.pct // 100 < cu.cumlo + cu.c
    ), ranked AS (
      SELECT bin, v, row_number() OVER (PARTITION BY bin ORDER BY v) AS rk
      FROM binned WHERE bin IN (SELECT bin FROM plans)
    )
    SELECT pl.pct, pl.rank_0b,
      pl.blo + (pl.bhi - pl.blo) * pl.off // pl.c AS est_cents,
      rk.v AS exact_cents,
      abs(pl.blo + (pl.bhi - pl.blo) * pl.off // pl.c - rk.v) * 1000
        // mm.span AS err_permille_of_span
    FROM plans pl
    JOIN ranked rk ON rk.bin = pl.bin AND rk.rk = pl.off + 1, mm
    ORDER BY pl.pct"""))

  // --------------------------------------------------------------- q132
  /** Event-type transition matrix — the behavioral Markov summary a
    * sequence-modeling pipeline starts from: per-user event streams
    * (ts, event_id order — fully deterministic) yield (from → to)
    * transition counts, each row's share of its FROM-state marginal in
    * integer permille, plus the self-loop flag analytics dashboards
    * filter on. One series window per user (the q13 one-shuffle shape)
    * and a 25-row aggregate — the corpus-sized stream crosses the wire
    * once, partitioned by user.
    */
  val q132 = Q("q132_event_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val trans = Tables(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val marg = trans.groupBy("from_type").agg(sum("n").as("n_from"))
      trans.join(broadcast(marg), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("n * 1000 div n_from").as("share_permille"),
          when(col("from_type") === col("to_type"), 1L).otherwise(0L).as("self_loop"))
        .transform(graft.Q.presentSorted(_, "from_type", "to_type"))
    },
    Some("""WITH seq AS (
      SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts), event_id) AS to_type
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY event_type, to_type
    ), marg AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n,
      t.n * 1000 // m.n_from AS share_permille,
      CAST(CASE WHEN t.from_type = t.to_type THEN 1 ELSE 0 END AS BIGINT) AS self_loop
    FROM trans t JOIN marg m USING (from_type)
    ORDER BY from_type, to_type"""))

  // --------------------------------------------------------------- q133
  /** Columnar-encoding advisor: for four representative lineitem
    * columns, the statistics a parquet/ORC writer consults — global
    * cardinality, dictionary code width (`length(bin(distinct−1))`
    * bits), and RLE run structure WITHIN each order's row cluster (the
    * row-group stand-in: real writers encode per row group, so run
    * counting never needs a global order — each order's runs count in
    * parallel and sum). The verdict column applies the standard rule:
    * RLE when the mean run ≥ 2 values, else dictionary when codes fit
    * a byte, else plain.
    *
    * Scale: four column-pruned scans (each branch reads ONE value
    * column + the two cluster keys), per-order windows (the natural
    * clustering key — no global window anywhere), 4-row output.
    */
  val q133 = Q("q133_encoding_advisor",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      def forCol(name: String): org.apache.spark.sql.DataFrame = {
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
        // appending the value itself makes the order total UP TO ties of
        // equal values, under which the run structure is invariant
        val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "v")
        val runs = li.select(col("l_orderkey"), col("l_linenumber"), col(name).as("v"))
          // exactly IS DISTINCT FROM: <=> treats NULL-vs-NULL as equal
          // (a run of NULLs is ONE run, matching the oracle; an extra
          // isNull clause here double-counted null rows as new runs)
          .withColumn("is_new",
            when(!(col("v") <=> lag("v", 1).over(w)), 1L).otherwise(0L))
          .agg(count(lit(1)).as("n_rows"), sum("is_new").as("n_runs"))
        val card = li.select(countDistinct(col(name)).as("n_distinct"))
        runs.crossJoin(card).select(
          lit(name).as("col_name"), col("n_rows"), col("n_distinct"),
          length(bin(greatest(col("n_distinct") - 1, lit(1)))).cast("long").as("dict_bits"),
          col("n_runs"),
          expr("n_rows * 1000 div n_runs").as("avg_run_permille"))
      }
      Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .map(forCol).reduce(_.unionAll(_))
        .withColumn("advice",
          when(col("avg_run_permille") >= 2000, lit("rle"))
            .when(col("dict_bits") <= 8, lit("dict"))
            .otherwise(lit("plain")))
        .transform(graft.Q.presentSorted(_, "col_name"))
    },
    Some {
      def per(c: String) = s"""(
      SELECT '$c' AS col_name,
        CAST(count(*) AS BIGINT) AS n_rows,
        (SELECT CAST(count(DISTINCT $c) AS BIGINT) FROM lineitem) AS n_distinct,
        CAST(length(bin(greatest((SELECT count(DISTINCT $c) FROM lineitem) - 1, 1))) AS BIGINT) AS dict_bits,
        CAST(SUM(is_new) AS BIGINT) AS n_runs
      FROM (
        SELECT CASE WHEN lag($c) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, $c)
                         IS DISTINCT FROM $c THEN 1 ELSE 0 END AS is_new
        FROM lineitem))"""
      s"""WITH stats AS (
      ${Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .map(per).mkString("\n      UNION ALL\n      ")}
    )
    SELECT col_name, n_rows, n_distinct, dict_bits, n_runs,
      n_rows * 1000 // n_runs AS avg_run_permille,
      CASE WHEN n_rows * 1000 // n_runs >= 2000 THEN 'rle'
           WHEN dict_bits <= 8 THEN 'dict' ELSE 'plain' END AS advice
    FROM stats ORDER BY col_name"""
    })

  // --------------------------------------------------------------- q134
  /** Join-cardinality estimator audit — the CBO sanity check: for the
    * three FK joins of the schema, compare the textbook independence
    * estimate `|A|·|B| / max(d_A, d_B)` (the formula every
    * System-R-descended optimizer uses) against the TRUE join
    * cardinality, in integer permille error. The inputs (row counts,
    * per-side key cardinalities) are exactly the statistics ANALYZE
    * would collect; the audit shows where FK uniformity holds (orders →
    * lineitem) and where skew breaks the formula.
    */
  val q134 = Q("q134_join_card_audit",
    (s, dir) => {
      val sess = s
      import sess.implicits._
      def audit(nameA: String, keyA: String, nameB: String, keyB: String)
          : (String, Long, Long, Long, Long, Long, Long) = {
        val a = Tables(s, dir, nameA).select(col(keyA).as("k"))
        val b = Tables(s, dir, nameB).select(col(keyB).as("k"))
        val sa = a.agg(count(lit(1)), countDistinct(col("k"))).head()
        val sb = b.agg(count(lit(1)), countDistinct(col("k"))).head()
        val actual = a.join(b, "k").count()
        val est = sa.getLong(0) * sb.getLong(0) / math.max(sa.getLong(1), sb.getLong(1))
        (s"$nameA-$nameB", sa.getLong(0), sb.getLong(0), sa.getLong(1), sb.getLong(1),
          est, actual)
      }
      Seq(audit("customer", "c_custkey", "orders", "o_custkey"),
        audit("orders", "o_orderkey", "lineitem", "l_orderkey"),
        audit("nation", "n_nationkey", "supplier", "s_nationkey"))
        .toDF("join_name", "n_left", "n_right", "d_left", "d_right", "est_rows", "actual_rows")
        .withColumn("err_permille",
          expr("abs(est_rows - actual_rows) * 1000 div actual_rows"))
        .transform(graft.Q.presentSorted(_, "join_name"))
    },
    Some {
      def per(a: String, ka: String, b: String, kb: String) = s"""(
      SELECT '$a-$b' AS join_name,
        (SELECT CAST(count(*) AS BIGINT) FROM $a) AS n_left,
        (SELECT CAST(count(*) AS BIGINT) FROM $b) AS n_right,
        (SELECT CAST(count(DISTINCT $ka) AS BIGINT) FROM $a) AS d_left,
        (SELECT CAST(count(DISTINCT $kb) AS BIGINT) FROM $b) AS d_right,
        (SELECT count(*) FROM $a) * (SELECT count(*) FROM $b)
          // greatest((SELECT count(DISTINCT $ka) FROM $a),
                      (SELECT count(DISTINCT $kb) FROM $b)) AS est_rows,
        (SELECT CAST(count(*) AS BIGINT) FROM $a JOIN $b ON $a.$ka = $b.$kb) AS actual_rows)"""
      s"""WITH stats AS (
      ${per("customer", "c_custkey", "orders", "o_custkey")}
      UNION ALL
      ${per("orders", "o_orderkey", "lineitem", "l_orderkey")}
      UNION ALL
      ${per("nation", "n_nationkey", "supplier", "s_nationkey")}
    )
    SELECT join_name, n_left, n_right, d_left, d_right,
      CAST(est_rows AS BIGINT) AS est_rows, actual_rows,
      abs(CAST(est_rows AS BIGINT) - actual_rows) * 1000 // actual_rows AS err_permille
    FROM stats ORDER BY join_name"""
    })

  // --------------------------------------------------------------- q136
  /** Ordered funnel conversion (view → click → purchase): the
    * product-analytics sequence-match operator — a user converts at
    * step k only with a step-k event STRICTLY AFTER their step-(k−1)
    * conversion time. Three per-user min-aggregates chained by joins
    * (each stage's output is one row per surviving user, shrinking
    * monotonically); no window, no self-join of the event stream, the
    * stream is scanned once per step with the event-type filter pushed
    * to the scan. The stage joins carry NO broadcast hint on purpose:
    * a per-user frame is corpus-sized, so at fleet scale these are
    * shuffle joins (AQE may still locally broadcast a shrunken late
    * stage); the strictly-after semantics don't depend on strategy.
    */
  val q136 = Q("q136_funnel_conversion",
    (s, dir) => {
      val sess = s
      import sess.implicits._
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts_us") > col("t2"))
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      val (n1, n2, n3) = (s1.count(), s2.count(), s3.count())
      Seq(
        (1L, "view", n1, 1000L),
        (2L, "click", n2, if (n1 > 0) n2 * 1000 / n1 else 0L),
        (3L, "purchase", n3, if (n2 > 0) n3 * 1000 / n2 else 0L))
        .toDF("step", "event_type", "n_users", "conv_permille")
        .transform(graft.Q.presentSorted(_, "step"))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ), s1 AS (
      SELECT user_id, min(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts_us) AS t2
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts_us > s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts_us) AS t3
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2 GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users,
        CAST(1000 AS BIGINT) AS conv_permille
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM s2),
        CASE WHEN (SELECT count(*) FROM s1) > 0
          THEN (SELECT count(*) FROM s2) * 1000 // (SELECT count(*) FROM s1)
          ELSE 0 END
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM s3),
        CASE WHEN (SELECT count(*) FROM s2) > 0
          THEN (SELECT count(*) FROM s3) * 1000 // (SELECT count(*) FROM s2)
          ELSE 0 END
    ) ORDER BY step"""))

  // --------------------------------------------------------------- q137
  /** Weekly retention cohort matrix: users grouped by first-seen week
    * (relative to the corpus's first event), each cohort's share still
    * active k weeks later. The classic growth-analytics triangle, all
    * integer: days are `ts_us div 86400e6`, weeks `div 7` from the
    * broadcast global minimum. One distinct (user, week) reduction,
    * one first-seen aggregate, one join between the two per-user
    * frames — the event stream crosses the wire once.
    */
  val q137 = Q("q137_retention_cohorts",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      val base = ev.agg(min("day").as("day0"))
      val uw = ev.crossJoin(broadcast(base))
        .select(col("user_id"), expr("(day - day0) div 7").as("week"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
      val cSize = cohort.groupBy("cohort_week").agg(count(lit(1)).as("n_cohort"))
      // cohort is a per-user frame (corpus-sized) — no broadcast hint;
      // cSize/base are per-week/scalar and stay broadcast.
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(cSize), "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_active"), col("n_cohort"),
          expr("n_active * 1000 div n_cohort").as("retention_permille"))
        .transform(graft.Q.presentSorted(_, "cohort_week", "week_offset"))
    },
    Some("""WITH ev AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ), base AS (SELECT min(day) AS day0 FROM ev
    ), uw AS (
      SELECT DISTINCT user_id, (day - base.day0) // 7 AS week FROM ev, base
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
    ), csize AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort FROM cohort GROUP BY cohort_week
    )
    SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
      CAST(count(*) AS BIGINT) AS n_active, s.n_cohort,
      CAST(count(*) AS BIGINT) * 1000 // s.n_cohort AS retention_permille
    FROM uw u JOIN cohort c ON c.user_id = u.user_id
    JOIN csize s ON s.cohort_week = c.cohort_week
    GROUP BY c.cohort_week, u.week - c.cohort_week, s.n_cohort
    ORDER BY c.cohort_week, week_offset"""))

  // --------------------------------------------------------------- q139
  /** Last-touch attribution: each purchase credits the LATEST
    * non-purchase event strictly before it in the user's stream
    * (ts, event_id order) — the marketing-attribution operator q136's
    * funnel doesn't answer (funnels count sequences; attribution
    * assigns credit). One series window per user with an
    * ignore-nulls running last over the non-purchase projection;
    * purchases with no prior touch credit 'none'. Rollup is 5 rows.
    */
  val q139 = Q("q139_last_touch_attribution",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
        .withColumn("touch",
          last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"))
        .withColumn("share_permille", expr(
          "n_purchases * 1000 div sum(n_purchases) OVER ()"))
        .select("touch_type", "n_purchases", "share_permille")
        .transform(graft.Q.presentSorted(_, "touch_type"))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
    ), attributed AS (
      SELECT event_type,
        last_value(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM ev
    ), rolled AS (
      SELECT COALESCE(touch, 'none') AS touch_type,
        CAST(count(*) AS BIGINT) AS n_purchases
      FROM attributed WHERE event_type = 'purchase'
      GROUP BY COALESCE(touch, 'none')
    )
    SELECT touch_type, n_purchases,
      n_purchases * 1000 // CAST((SELECT SUM(n_purchases) FROM rolled) AS BIGINT) AS share_permille
    FROM rolled ORDER BY touch_type"""))

  // --------------------------------------------------------------- q141
  /** Latency-style percentile rollup (p50/p95/p99 of `value` per event
    * type) through the DISTRIBUTED exact-quantile operator
    * ([[graft.rel.ExactQuantile]] — the q65 machinery: range-partition,
    * count grid, endpoint pick; never the group-buffering built-in) —
    * the SLO dashboard query. The quantile frame is (types ×
    * quantiles)-sized; the pivot to one row per type is a 5-row
    * reshape.
    */
  val q141 = Q("q141_event_value_percentiles",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
      ExactQuantile.perGroup(ev, "event_type", "value", Seq(0.5, 0.95, 0.99))
        .groupBy(col("g").as("event_type"))
        .pivot("p", Seq(0.5, 0.95, 0.99))
        .agg(first("q"))
        .withColumnRenamed("0.5", "p50")
        .withColumnRenamed("0.95", "p95")
        .withColumnRenamed("0.99", "p99")
        .transform(graft.Q.presentSorted(_, "event_type"))
    },
    Some("""SELECT event_type,
      quantile_cont(value, 0.5) AS p50,
      quantile_cont(value, 0.95) AS p95,
      quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q142
  /** Robust anomaly screen — median/MAD z-scores, the outlier rule that
    * survives the outliers it hunts (mean/stddev don't): per event
    * type, median and MAD from TWO [[ExactQuantile]] passes (the second
    * over |value − median|, medians embedded as broadcast-join values),
    * flag rows where |value − med| > 3 · 1.4826 · MAD. Reports per-type
    * counts and the flagged share in integer permille; the thresholds
    * are single IEEE multiplications of exact quantile values, so the
    * flag set is engine-identical.
    */
  val q142 = Q("q142_robust_anomaly_screen",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_type"), col("value"))
      val med = ExactQuantile.perGroup(ev, "event_type", "value", Seq(0.5))
        .select(col("g").as("event_type"), col("q").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = ExactQuantile.perGroup(
          dev.select(col("event_type"), col("adev")), "event_type", "adev", Seq(0.5))
        .select(col("g").as("event_type"), col("q").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .withColumn("is_anom",
          when(abs(col("value") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("is_anom").as("n_anomalies"),
          max("med").as("med"), max("mad").as("mad"))
        .withColumn("anom_permille", expr("n_anomalies * 1000 div n_events"))
        .select("event_type", "n_events", "n_anomalies", "anom_permille", "med", "mad")
        .transform(graft.Q.presentSorted(_, "event_type"))
    },
    Some("""WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(SUM(CASE WHEN abs(d.value - d.med) > 3.0 * 1.4826 * a.mad
        THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      CAST(SUM(CASE WHEN abs(d.value - d.med) > 3.0 * 1.4826 * a.mad
        THEN 1 ELSE 0 END) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS anom_permille,
      MAX(d.med) AS med, MAX(a.mad) AS mad
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type"""))

  // --------------------------------------------------------------- q143
  /** Recency-weighted engagement — time-decay scoring WITHOUT a
    * transcendental: the decay is a half-life shift, `w = 1024 >>
    * (age_days div 7)` (weekly half-life, ×1024 fixed point), so the
    * weighted sum is pure integer arithmetic and bit-exact in both
    * engines (exp() would differ in the last ulp). Age is measured
    * from the corpus max event day (broadcast scalar). Per-user score
    * = Σ value_cents · w; output is the top-15 leaderboard
    * (score DESC, user) — the "who is engaged NOW" view a growth team
    * reads, with the undecayed cent total alongside for contrast.
    *
    * The shift is clamped: ages ≥ 11 weeks emit weight 0 explicitly
    * (1024 >> 11 is already 0), because Spark's shiftright follows
    * Java `>>` semantics and masks the shift amount mod 32 — an
    * unclamped shift of 32+ (events ~224 days stale) would revive the
    * full 1024 weight and break decay monotonicity; DuckDB returns 0
    * there, so the clamp also keeps the two engines bit-identical on
    * corpora spanning years.
    */
  val q143 = Q.sql("q143_recency_engagement",
    """WITH ev AS (
      SELECT user_id, value, epoch_us(ts) // 86400000000 AS day FROM events
    ), mx AS (SELECT max(day) AS day_max FROM ev)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(round(value * 100) AS BIGINT)
        * (CASE WHEN (mx.day_max - day) // 7 >= 11 THEN 0
           ELSE 1024 >> CAST((mx.day_max - day) // 7 AS INTEGER) END))
        AS BIGINT) AS score_fp,
      CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS raw_cents
    FROM ev, mx
    GROUP BY user_id
    ORDER BY score_fp DESC, user_id LIMIT 15""")

  // --------------------------------------------------------------- q146
  /** Hourly burst detection — the monitoring rule that pages someone:
    * an (event_type, hour) cell bursts when its count exceeds 3× the
    * trailing-24h hourly mean with at least 12 baseline hours, tested
    * CROSS-MULTIPLIED (`cnt · n_prev > 3 · sum_prev`) so no division
    * ever happens. The baseline is a RANGE window over hour VALUES
    * (not rows — missing hours genuinely shrink the baseline), one
    * shuffle on event_type.
    */
  val q146 = Q("q146_hourly_burst_detection",
    (s, dir) => {
      val hourly = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 3600000000").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rangeBetween(-24, -1)
      hourly
        .withColumn("sum_prev", coalesce(sum("cnt").over(w), lit(0L)))
        .withColumn("n_prev", count(lit(1)).over(w))
        .filter(col("n_prev") >= 12 &&
          col("cnt") * col("n_prev") > lit(3) * col("sum_prev"))
        .select("event_type", "hour", "cnt", "sum_prev", "n_prev")
        .transform(graft.Q.presentSorted(_, "event_type", "hour"))
    },
    Some("""WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
    ), base AS (
      SELECT event_type, hour, cnt,
        CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY hour
          RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sum_prev,
        CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY hour
          RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_prev
      FROM hourly
    )
    SELECT event_type, hour, cnt, sum_prev, n_prev
    FROM base
    WHERE n_prev >= 12 AND cnt * n_prev > 3 * sum_prev
    ORDER BY event_type, hour"""))

  // --------------------------------------------------------------- q149
  /** Session-basket association rules — support / confidence / lift
    * over co-occurring event types within q09's 30-minute-gap
    * sessions: the market-basket classic, all integer permille (lift
    * cross-multiplied into `n_ab·n_sessions·1000 / (n_a·n_b)`).
    * Sessionize once; per-session item sets are distinct types;
    * pair counts join the item stream to itself per session (≤ C(5,2)
    * pairs per session — bounded by the type alphabet, never the
    * event count).
    */
  val q149 = Q("q149_session_basket_lift",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gap = col("ts_us") - lag("ts_us", 1).over(w)
      val items = Tables(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("is_new", when(gap.isNull || gap > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("session_id"), col("event_type"))
        .distinct()
      val nSessions = items.select("user_id", "session_id").distinct().count()
      val singles = items.groupBy(col("event_type").as("t"))
        .agg(count(lit(1)).as("n_t"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.session_id") === col("b.session_id") &&
            col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("antecedent"),
          col("b.event_type").as("consequent"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(singles.withColumnRenamed("t", "antecedent")
          .withColumnRenamed("n_t", "n_a")), "antecedent")
        .join(broadcast(singles.withColumnRenamed("t", "consequent")
          .withColumnRenamed("n_t", "n_b")), "consequent")
        .filter(col("n_ab") >= 5)
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          expr(s"n_ab * 1000 div ${nSessions}L").as("support_permille"),
          expr("n_ab * 1000 div n_a").as("conf_permille"),
          expr(s"n_ab * ${nSessions}L * 1000 div (n_a * n_b)").as("lift_permille"))
        .transform(graft.Q.presentSorted(_, "antecedent", "consequent"))
    },
    Some("""WITH seq AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        CASE WHEN lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
        THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, event_type,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM seq
    ), items AS (
      SELECT DISTINCT user_id, session_id, event_type FROM sess
    ), ns AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sessions
      FROM (SELECT DISTINCT user_id, session_id FROM items)
    ), singles AS (
      SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n_t
      FROM items GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
        CAST(count(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
        AND a.event_type != b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.antecedent, p.consequent, p.n_ab,
      p.n_ab * 1000 // ns.n_sessions AS support_permille,
      p.n_ab * 1000 // sa.n_t AS conf_permille,
      p.n_ab * ns.n_sessions * 1000 // (sa.n_t * sb.n_t) AS lift_permille
    FROM pairs p
    JOIN singles sa ON sa.t = p.antecedent
    JOIN singles sb ON sb.t = p.consequent, ns
    WHERE p.n_ab >= 5
    ORDER BY p.antecedent, p.consequent"""))

  // --------------------------------------------------------------- q151
  /** A/B exposure health (sample-ratio-mismatch) audit: users hash
    * into variants A/B (prime-folded multiplicative hash, the q145
    * recipe), and the first thing any experiment reader must check is
    * whether the split itself is broken — the SRM test. Chi-square
    * needs no floats at p = ½: flag iff `(n_A − n_B)² > 9·(n_A + n_B)`
    * (the 3σ binomial bound, cross-multiplied). Alongside: per-variant
    * event mass and value cents, the balance evidence. One pass over
    * events, one over the distinct user set.
    */
  val q151 = Q("q151_ab_srm_audit",
    (s, dir) => {
      val sess = s
      import sess.implicits._
      val ev = Tables(s, dir, "events")
        .withColumn("variant",
          when(expr("(user_id * 2654435761) % 1009 % 2") === 0, "A").otherwise("B"))
      val users = ev.select("variant", "user_id").distinct()
        .groupBy("variant").agg(count(lit(1)).as("n_users"))
      val mass = ev.groupBy("variant")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
      val joined = users.join(mass, "variant")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // a variant can be EMPTY (degenerate split) — treat as 0, not a crash
      val ua = joined.get("A").map(_._1).getOrElse(0L)
      val ub = joined.get("B").map(_._1).getOrElse(0L)
      val srm = if ((ua - ub) * (ua - ub) > 9 * (ua + ub)) 1L else 0L
      joined.toSeq.sortBy(_._1).map { case (v, (nu, ne, vc)) => (v, nu, ne, vc, srm) }
        .toDF("variant", "n_users", "n_events", "value_cents", "srm_flag")
        .transform(graft.Q.presentSorted(_, "variant"))
    },
    Some("""WITH ev AS (
      SELECT user_id, value,
        CASE WHEN (user_id * 2654435761) % 1009 % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      FROM events
    ), users AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users
      FROM (SELECT DISTINCT variant, user_id FROM ev) GROUP BY variant
    ), mass AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM ev GROUP BY variant
    ), srm AS (
      SELECT CASE WHEN
          (COALESCE((SELECT n_users FROM users WHERE variant = 'A'), 0)
            - COALESCE((SELECT n_users FROM users WHERE variant = 'B'), 0))
          * (COALESCE((SELECT n_users FROM users WHERE variant = 'A'), 0)
            - COALESCE((SELECT n_users FROM users WHERE variant = 'B'), 0))
          > 9 * (COALESCE((SELECT n_users FROM users WHERE variant = 'A'), 0)
            + COALESCE((SELECT n_users FROM users WHERE variant = 'B'), 0))
        THEN 1 ELSE 0 END AS srm_flag
    )
    SELECT u.variant, u.n_users, m.n_events, m.value_cents,
      CAST(s.srm_flag AS BIGINT) AS srm_flag
    FROM users u JOIN mass m USING (variant), srm s
    ORDER BY u.variant"""))

  // --------------------------------------------------------------- q152
  /** Funnel latency percentiles — q136 answers WHO converts; this
    * answers HOW FAST: p50/p90 of view→click and view→purchase
    * conversion times (µs) over the strict-order funnel's per-user
    * timestamps, through the distributed [[ExactQuantile]] machinery.
    * Timestamps are integer µs, so the interpolated percentiles are
    * exact in both engines (q65's quantile_cont contract).
    */
  val q152 = Q("q152_funnel_latency",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      // per-user stage frames are corpus-sized — no broadcast hints
      // (q136's scaladoc has the rationale); AQE picks the strategy.
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min("ts_us").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2.join(s1, "user_id"), "user_id")
        .filter(col("ts_us") > col("t2"))
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      val lat = s1.join(s2, "user_id").join(s3, Seq("user_id"), "left")
        .select(
          (col("t2") - col("t1")).cast("double").as("to_click"),
          (col("t3") - col("t1")).cast("double").as("to_purchase"))
      val both = lat.select(lit("to_click_us").as("m"), col("to_click").as("v"))
        .unionAll(lat.filter(col("to_purchase").isNotNull)
          .select(lit("to_purchase_us").as("m"), col("to_purchase").as("v")))
      ExactQuantile.perGroup(both, "m", "v", Seq(0.5, 0.9))
        .groupBy(col("g").as("metric"))
        .pivot("p", Seq(0.5, 0.9)).agg(first("q"))
        .withColumnRenamed("0.5", "p50_us")
        .withColumnRenamed("0.9", "p90_us")
        .transform(graft.Q.presentSorted(_, "metric"))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ), s1 AS (
      SELECT user_id, min(ts_us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts_us) AS t2
      FROM ev e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts_us > s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts_us) AS t3
      FROM ev e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2 GROUP BY e.user_id
    ), lat AS (
      SELECT s1.user_id, s2.t2 - s1.t1 AS to_click, s3.t3 - s1.t1 AS to_purchase
      FROM s1 JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT 'to_click_us' AS metric,
      quantile_cont(CAST(to_click AS DOUBLE), 0.5) AS p50_us,
      quantile_cont(CAST(to_click AS DOUBLE), 0.9) AS p90_us
    FROM lat
    UNION ALL
    SELECT 'to_purchase_us',
      quantile_cont(CAST(to_purchase AS DOUBLE), 0.5),
      quantile_cont(CAST(to_purchase AS DOUBLE), 0.9)
    FROM lat WHERE to_purchase IS NOT NULL
    ORDER BY metric"""))

  /** Changelog → snapshot compaction (lakehouse MERGE semantics): read
    * the events stream as a CDC log keyed by (user_id, props.k) — every
    * `error` event a DELETE tombstone, everything else an UPSERT carrying
    * `value`, versioned by (ts, event_id) — and compact it to the
    * last-writer-wins live snapshot plus per-key op lineage counts. This
    * is the maintenance op a 100 TB lakehouse table runs continuously
    * (Delta/Iceberg MERGE INTO, Hudi compaction, Paimon changelog
    * producers all reduce to it).
    *
    * Shape: ONE partial-aggregable groupBy — the winner per key is
    * `max(struct(ts_us, event_id, is_del, value))` (struct ordering =
    * version order because (ts_us, event_id) leads and event_id is
    * unique), so every map task ships exactly one candidate struct +
    * two counters per key it sees, never the log itself. That is the
    * compaction shape that survives a billion-row changelog: no window,
    * no sort, no per-key state beyond one struct. Tombstoned keys are
    * dropped AFTER the merge so their lineage still participates
    * upstream (a real MERGE writes them as deletes; the snapshot reader
    * just doesn't see them).
    */
  val q158 = Q("q158_changelog_snapshot",
    (s, dir) => {
      val kVal = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      Tables(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("k", when(kVal =!= "", kVal.cast("long")))
        .withColumn("is_del",
          when(col("event_type") === "error", 1L).otherwise(0L))
        .groupBy("user_id", "k")
        .agg(max(struct(col("ts_us"), col("event_id"), col("is_del"),
            col("value"))).as("last"),
          count(lit(1)).as("n_ops"), sum("is_del").as("n_deletes"))
        .filter(col("last.is_del") === 0)
        .select(col("user_id"), col("k"),
          col("last.value").as("last_value"),
          col("last.ts_us").as("last_ts_us"),
          col("last.event_id").as("last_event_id"),
          col("n_ops"), col("n_deletes"))
        .transform(graft.Q.presentSorted(_, "user_id", "k"))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) != ''
             THEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) END AS k,
        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del
      FROM events
    ), r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id, k
          ORDER BY ts_us DESC, event_id DESC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id, k) AS n_ops,
        SUM(is_del) OVER (PARTITION BY user_id, k) AS n_deletes
      FROM ev
    )
    SELECT user_id, k, value AS last_value, ts_us AS last_ts_us,
      event_id AS last_event_id,
      CAST(n_ops AS BIGINT) AS n_ops, CAST(n_deletes AS BIGINT) AS n_deletes
    FROM r WHERE rn = 1 AND is_del = 0
    ORDER BY user_id, k NULLS FIRST"""))

  /** Z-order (Morton) layout audit — the MULTI-dimensional completion of
    * q115's 1-D zonemap study, and the layout decision a lakehouse
    * OPTIMIZE/CLUSTER BY command makes on a 100 TB table. Interleaving
    * RAW values is the textbook Z-order mistake: with user_id spanning 4
    * bits and k spanning 7, the high bits of k own the curve and the
    * "Z-order" degenerates to a k-sort (observed: 0 blocks skipped on
    * the user band). So each dimension is first normalized to an
    * EQUI-DEPTH 16-bucket id via [[graft.rel.GlobalRank]] (rank·16/n —
    * the same per-column range-partition-id normalization Delta's
    * OPTIMIZE ZORDER applies, and skew-proof where min/max scaling is
    * not), and the Morton code interleaves the two 4-bit bucket ids
    * (static shift-or chain — stays inside whole-stage codegen). The
    * audit then ranks the table five ways (natural, each lexicographic
    * order, Z-order, Hilbert), cuts 64-row blocks, and scores every
    * (layout, predicate) pair by blocks skipped and rows scanned: each
    * lex layout serves only its leading column, while both space-filling
    * curves serve single-dim bands on either column AND 2-D boxes — the
    * quantified reason multi-dim clustering exists. The Hilbert leg
    * (round 9) prices the curve CHOICE on identical data: every Hilbert
    * step is adjacent where Morton jumps at quadrant seams, and the
    * audit shows it (sf0.001: box 296‰ scanned vs Morton's 384‰, both
    * bands 488‰ vs 512/552‰) — the reason several lakehouse engines
    * default to Hilbert for OPTIMIZE.
    *
    * Scale shape: two lex GlobalRank pipelines CHAINED (range shuffles,
    * no single-partition window; both ranks land on one frame, so no
    * data-sized rejoin) plus one for the natural layout — the lex ranks
    * double as the bucket-id sources; both curve ranks share one
    * per-cell window + a ≤256-row broadcast (see inline comment); the
    * row count joins back as a broadcast 1-row frame; blocks aggregate
    * map-side and the block frame is cached across the three predicate
    * branches. At fleet scale the Z-order rank IS the rewrite:
    * cluster-by-morton + write.
    */
  val q159 = Q("q159_zorder_layout_audit",
    (s, dir) => {
      val kVal = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      def mortonExpr(x: String, y: String): String =
        (0 until 4).map(i =>
          s"((($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)})")
          .mkString(" + ")
      // per-row regexp over props is the scan-adjacent hot loop here, and
      // the single-row-group scan runs it on ONE task — spread the pruned
      // projection first (input-parallelism floor, Tables.spread scaladoc;
      // round 17: 6.3 → 5.2 s wall measured with the floor on this scan)
      val ev = graft.Tables.spread(
          Tables(s, dir, "events").select("event_id", "user_id", "props"))
        .withColumn("k", when(kVal =!= "", kVal.cast("long")))
        .select(col("event_id"), col("user_id"), col("k"))
      val cnt = ev.agg(count(lit(1)).as("_n"))
      // TWO CHAINED GlobalRank pipelines (rn_ku ranked over the rn_uk
      // frame — GlobalRank persists its internal ranged frame, so the
      // chain's lineage is cut and both ranks ride ONE output frame;
      // round 12: this replaces the rUk⋈rKu full-data event_id join,
      // which was the query's biggest single exchange) plus one for the
      // natural layout. The two lexicographic layout ranks double as the
      // equi-depth bucket sources (ub/kb = rank·16/n; the bucket
      // tiebreak IS the layout order, which the oracle mirrors). The
      // curve ranks need NO range exchange: the Morton/Hilbert domains
      // are ≤256 cells by construction, so exact rank = broadcast
      // cumulative cell offsets (a ≤256-row frame) + a PARALLEL per-cell
      // row_number — the bounded-code-domain shortcut a fleet-scale
      // Z-order rewrite uses to turn the layout sort into a cheap
      // cluster-by.
      val gr = graft.rel.GlobalRank
      val mStore = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val base0 = ev.crossJoin(broadcast(cnt)).persist(mStore)
      // natural rank stays a separate shallow pipeline: chaining it into
      // r2 was measured WORSE (rn_nat riding both later range exchanges
      // costs more shuffle than its own one-exchange pipeline)
      val rNat = gr.withGlobalRank(base0, Seq(col("event_id")), "rn_nat")
      val r2 = gr.withGlobalRank(
          gr.withGlobalRank(base0,
            Seq(col("user_id"), col("k"), col("event_id")), "rn_uk"),
          Seq(col("k"), col("user_id"), col("event_id")), "rn_ku")
        .persist(mStore) // consumers: the cell-count agg + the rZH build
      // Hilbert d-index over the same 16×16 equi-depth grid — computed
      // from ONE shared 256-entry table literal in both engines (the
      // standard xy2d walk runs at plan-build time, not per row), so the
      // curve itself can't diverge. Hilbert keeps every curve step
      // adjacent (Morton jumps at quadrant seams), which is why some
      // lakehouse engines prefer it; the audit quantifies the difference
      // on identical data, predicates, and block size.
      val hilbertCellExpr = "element_at(array(" +
        RelationalQueries.hilbertLut16.mkString(",") +
        "), CAST(ub * 16 + kb + 1 AS INT))"
      val zin = r2.select(col("event_id"), col("user_id"), col("k"),
          col("rn_uk"), col("rn_ku"),
          expr("rn_uk * 16 div _n").as("ub"),
          expr("rn_ku * 16 div _n").as("kb"))
        .withColumn("morton", expr(mortonExpr("ub", "kb")))
        .withColumn("hd", expr(hilbertCellExpr))
      // Both curves are bijections of the SAME (ub, kb) cell, so one
      // per-cell row_number (ordered by event_id) serves both ranks; the
      // per-curve cumulative offsets differ only in the ≤256-row frame's
      // sort order. One data-sized hash exchange instead of two, one
      // cell-count pass instead of two (round 12).
      val offs = zin.groupBy("ub", "kb", "morton", "hd")
        .agg(count(lit(1)).as("_c"))
        .withColumn("_offz", coalesce(
          sum("_c").over(Window.orderBy("morton")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("_offh", coalesce(
          sum("_c").over(Window.orderBy("hd")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("ub", "kb", "_offz", "_offh") // ≤256 rows: the tiny global windows
      val rZH = zin.join(broadcast(offs), Seq("ub", "kb"))
        .withColumn("_rn_cell",
          row_number().over(Window.partitionBy("ub", "kb").orderBy("event_id")))
        .withColumn("rn_z", col("_offz") - 1L + col("_rn_cell"))
        .withColumn("rn_h", col("_offh") - 1L + col("_rn_cell"))
        .persist(mStore) // consumers: the four non-natural blockStats
      // ONE block-stats pass over the four-rank frame (stack fans each
      // row to its four (layout, block_id) assignments map-side; the agg
      // is partial-aggregable, so only ≤ 4·n/64 block rows shuffle) plus
      // the natural leg — replaces five separate groupBy pipelines
      // (round 12: −4 aggregation stage pairs, −4 cached-frame passes).
      val blocks = rZH.select(col("user_id"), col("k"),
          expr("stack(4, 'lex_user_k', rn_uk div 64, 'lex_k_user', rn_ku div 64, " +
            "'zorder', rn_z div 64, 'hilbert', rn_h div 64) AS (layout, block_id)"))
        .unionByName(rNat.select(col("user_id"), col("k"),
          lit("natural").as("layout"), expr("rn_nat div 64").as("block_id")))
        .groupBy("layout", "block_id")
        .agg(count(lit(1)).as("n_rows"),
          min("user_id").as("lo_u"), max("user_id").as("hi_u"),
          min("k").as("lo_k"), max("k").as("hi_k"))
        // three predicate branches read the block stats: without the
        // cache each branch re-executes all four rank pipelines (the
        // frame is tiny — ≤ n/64 rows per layout)
        .cache()
      val preds = Seq(
        ("p_user_band", "NOT (lo_u > 19 OR hi_u < 10)"),
        ("p_k_band", "NOT (lo_k > 39 OR hi_k < 20)"),
        ("p_box", "NOT (lo_u > 29 OR hi_u < 10 OR lo_k > 59 OR hi_k < 20)"))
      preds.map { case (pname, mustScan) =>
        blocks.withColumn("predicate", lit(pname))
          .withColumn("scanned", expr(s"CASE WHEN $mustScan THEN n_rows ELSE 0 END"))
          .withColumn("skipped_block", expr(s"CASE WHEN $mustScan THEN 0 ELSE 1 END"))
      }.reduce(_ unionByName _)
        .groupBy("layout", "predicate")
        .agg(count(lit(1)).as("n_blocks"),
          sum("skipped_block").as("n_skip_blocks"),
          sum("n_rows").as("n_rows_total"),
          sum("scanned").as("n_rows_scanned"))
        .select(col("layout"), col("predicate"), col("n_blocks"),
          col("n_skip_blocks"),
          expr("n_rows_scanned * 1000 div n_rows_total").as("scan_permille"))
        .transform(graft.Q.presentSorted(_, "layout", "predicate"))
    },
    Some {
      val mortonSql = (0 until 4).map(i =>
        s"(((ub >> $i) & 1) * ${1L << (2 * i)} + ((kb >> $i) & 1) * ${1L << (2 * i + 1)})")
        .mkString(" + ")
      val hilbertSql = "([" + RelationalQueries.hilbertLut16.mkString(",") +
        "])[CAST(ub * 16 + kb + 1 AS INT)]"
      s"""WITH e AS (
      SELECT event_id, user_id,
        CASE WHEN regexp_extract(props, '"k":\\s*(\\d+)', 1) != ''
             THEN CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) END AS k
      FROM events
    ), b AS (
      SELECT *,
        (ROW_NUMBER() OVER (ORDER BY user_id NULLS FIRST, k NULLS FIRST, event_id) - 1)
          * 16 // COUNT(*) OVER () AS ub,
        (ROW_NUMBER() OVER (ORDER BY k NULLS FIRST, user_id NULLS FIRST, event_id) - 1)
          * 16 // COUNT(*) OVER () AS kb
      FROM e
    ), m AS (
      SELECT *, $mortonSql AS morton, $hilbertSql AS hd FROM b
    ), ranked AS (
      SELECT user_id, k,
        ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS rn_nat,
        ROW_NUMBER() OVER (ORDER BY user_id NULLS FIRST, k NULLS FIRST, event_id) - 1 AS rn_uk,
        ROW_NUMBER() OVER (ORDER BY k NULLS FIRST, user_id NULLS FIRST, event_id) - 1 AS rn_ku,
        ROW_NUMBER() OVER (ORDER BY morton NULLS FIRST, event_id) - 1 AS rn_z,
        ROW_NUMBER() OVER (ORDER BY hd NULLS FIRST, event_id) - 1 AS rn_h
      FROM m
    ), lay AS (
      SELECT 'natural' AS layout, rn_nat // 64 AS block_id, user_id, k FROM ranked
      UNION ALL
      SELECT 'lex_user_k', rn_uk // 64, user_id, k FROM ranked
      UNION ALL
      SELECT 'lex_k_user', rn_ku // 64, user_id, k FROM ranked
      UNION ALL
      SELECT 'zorder', rn_z // 64, user_id, k FROM ranked
      UNION ALL
      SELECT 'hilbert', rn_h // 64, user_id, k FROM ranked
    ), blocks AS (
      SELECT layout, block_id, COUNT(*) AS n_rows,
        MIN(user_id) AS lo_u, MAX(user_id) AS hi_u,
        MIN(k) AS lo_k, MAX(k) AS hi_k
      FROM lay GROUP BY layout, block_id
    ), pb AS (
      SELECT *, 'p_user_band' AS predicate,
        NOT (lo_u > 19 OR hi_u < 10) AS must_scan FROM blocks
      UNION ALL
      SELECT *, 'p_k_band', NOT (lo_k > 39 OR hi_k < 20) FROM blocks
      UNION ALL
      SELECT *, 'p_box',
        NOT (lo_u > 29 OR hi_u < 10 OR lo_k > 59 OR hi_k < 20) FROM blocks
    )
    SELECT layout, predicate, COUNT(*) AS n_blocks,
      CAST(SUM(CASE WHEN must_scan THEN 0 ELSE 1 END) AS BIGINT) AS n_skip_blocks,
      CAST(SUM(CASE WHEN must_scan THEN n_rows ELSE 0 END) AS BIGINT) * 1000
        // CAST(SUM(n_rows) AS BIGINT) AS scan_permille
    FROM pb GROUP BY layout, predicate ORDER BY layout, predicate"""
    })

  /** Incremental materialized-view maintenance (q158's aggregate-state
    * sibling): the daily per-event-type rollup is refreshed by
    * aggregating each ingest batch into a PARTIAL STATE (count / decimal
    * sum / min / max — every column a commutative monoid) and merging
    * O(groups) state rows, never rescanning the base batch — the
    * Delta/Iceberg incremental-MV / streaming-aggregation-state pattern
    * a 100 TB rollup depends on (full recompute is the thing you can't
    * afford). The audit joins the merged view against a direct full
    * recompute and proves them indistinguishable per group.
    *
    * The exactness hinge: batch states keep their sums in DECIMAL and
    * merge in DECIMAL, casting to double only at the edge. Merging
    * already-cast doubles would re-order IEEE adds and break merged ≡
    * direct; the decimal carrier is order-independent, which is exactly
    * the property a partial-aggregate shuffle needs anyway. Reference
    * analog: the run-level summary CSV the impact CLIs append per run
    * (/root/reference/src/market_microstructure_toolkit/impact_twap_cli.py:86)
    * — re-expressed as mergeable aggregate state instead of file appends.
    */
  val q162 = Q("q162_incremental_mv",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables(s, dir, "events")
        .withColumn("day", expr("(ts div 1000) div 86400000000"))
        // three ingest batches cut on a key ORTHOGONAL to the MV group
        // key (event_id mod 3, not day ranges): every (day, event_type)
        // group receives partial states from all three batches, so the
        // in-query merged ≡ direct audit exercises a REAL multi-state
        // merge per group (a day-range cut would put each group in
        // exactly one batch and the audit could never catch a merge bug)
        .withColumn("batch", pmod(col("event_id"), lit(3)))
      def decSum(c: org.apache.spark.sql.Column) =
        sum(round(c, 8).cast(DecimalType(38, 8)))
      val states = ev.groupBy("batch", "day", "event_type")
        .agg(count(lit(1)).as("n_events"),
          count(col("value")).as("n_vals"),
          decSum(col("value")).as("sum_state"),
          min("value").as("min_v"), max("value").as("max_v"))
      val merged = states.groupBy("day", "event_type")
        .agg(sum("n_events").as("n_events"),
          sum("n_vals").as("n_vals"),
          sum("sum_state").cast("double").as("sum_value"),
          min("min_v").as("min_value"), max("max_v").as("max_value"),
          count(lit(1)).as("n_batches"))
      val direct = ev.groupBy("day", "event_type")
        .agg(count(lit(1)).as("d_n"),
          decSum(col("value")).cast("double").as("d_sum"),
          min("value").as("d_min"), max("value").as("d_max"))
      merged.join(direct, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("n_events"), col("n_vals"),
          col("sum_value"), col("min_value"), col("max_value"), col("n_batches"),
          (col("n_events") === col("d_n") && (col("sum_value") <=> col("d_sum")) &&
            (col("min_value") <=> col("d_min")) && (col("max_value") <=> col("d_max")))
            .cast("int").as("matches_full"))
        .transform(graft.Q.presentSorted(_, "day", "event_type"))
    },
    Some("""WITH ev AS (
      SELECT event_id, epoch_us(ts) // 86400000000 AS day, event_type, value FROM events
    ), b AS (
      SELECT *, event_id % 3 AS batch
      FROM ev
    ), states AS (
      SELECT batch, day, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(value) AS BIGINT) AS n_vals,
        SUM(CAST(ROUND(value, 8) AS DECIMAL(38,8))) AS sum_state,
        MIN(value) AS min_v, MAX(value) AS max_v
      FROM b GROUP BY batch, day, event_type
    ), merged AS (
      SELECT day, event_type,
        CAST(SUM(n_events) AS BIGINT) AS n_events,
        CAST(SUM(n_vals) AS BIGINT) AS n_vals,
        CAST(SUM(sum_state) AS DOUBLE) AS sum_value,
        MIN(min_v) AS min_value, MAX(max_v) AS max_value,
        CAST(COUNT(*) AS BIGINT) AS n_batches
      FROM states GROUP BY day, event_type
    ), direct AS (
      SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS d_n,
        CAST(SUM(CAST(ROUND(value, 8) AS DECIMAL(38,8))) AS DOUBLE) AS d_sum,
        MIN(value) AS d_min, MAX(value) AS d_max
      FROM b GROUP BY day, event_type
    )
    SELECT m.day, m.event_type, n_events, n_vals, sum_value, min_value,
      max_value, n_batches,
      CAST(CASE WHEN n_events = d_n AND sum_value IS NOT DISTINCT FROM d_sum
        AND min_value IS NOT DISTINCT FROM d_min
        AND max_value IS NOT DISTINCT FROM d_max
        THEN 1 ELSE 0 END AS INT) AS matches_full
    FROM merged m JOIN direct d USING (day, event_type)
    ORDER BY day, event_type"""))

  /** Time-travel reads over the q158 changelog — the third lakehouse
    * leg (q158 = MERGE compaction, q162 = incremental MV, this =
    * AS-OF-version reconstruction, Delta/Iceberg `VERSION AS OF`):
    * the per-(user_id, props.k) snapshot is reconstructed at three
    * version cutoffs (ingest-day bounds) and summarized per cutoff —
    * keys seen, live vs tombstoned, decimal-exact live value mass,
    * newest live version.
    *
    * The scale shape IS the point: K cutoffs cost ONE scan and ONE
    * key shuffle, not K of either — each cutoff is a conditional
    * `max(when(day < cut, struct(version, payload)))` inside the same
    * partial-aggregable groupBy (map tasks ship ≤ K candidate structs
    * per key), then the K states unpivot and roll up per cutoff
    * (second shuffle on the 3-row cutoff key). No window anywhere.
    * The value mass rides DECIMAL (q162's hinge) so the per-cutoff
    * sums are partition-order-independent.
    */
  val q170 = Q("q170_time_travel_read",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val kVal = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      val ev = Tables(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("day", expr("(ts div 1000) div 86400000000"))
        .withColumn("k", when(kVal =!= "", kVal.cast("long")))
        .withColumn("is_del",
          when(col("event_type") === "error", 1L).otherwise(0L))
      val st = struct(col("ts_us"), col("event_id"), col("is_del"), col("value"))
      // version cutoffs: ingest-day bounds (corpus spans days 19723–19752
      // at every SF); the last is the full-history read
      val cuts = Seq(19733L, 19743L, 19753L)
      val aggs = cuts.zipWithIndex.map { case (c, i) =>
        max(when(col("day") < c, st)).as(s"s$i")
      }
      val byKey = ev.groupBy("user_id", "k").agg(aggs.head, aggs.tail: _*)
      val un = byKey.select(expr(
          "stack(3, 19733L, s0, 19743L, s1, 19753L, s2) AS (cutoff_day, st)"))
        .filter(col("st").isNotNull) // key did not exist yet at this cutoff
      un.groupBy("cutoff_day").agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("st.is_del") === 0, 1L).otherwise(0L)).as("n_live"),
          sum(col("st.is_del")).as("n_deleted"),
          sum(when(col("st.is_del") === 0,
            round(col("st.value"), 8).cast(DecimalType(38, 8))))
            .cast("double").as("live_value_sum"),
          max(when(col("st.is_del") === 0, col("st.event_id")))
            .as("live_max_event_id"))
        .transform(graft.Q.presentSorted(_, "cutoff_day"))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        epoch_us(ts) // 86400000000 AS day, value,
        CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) != ''
             THEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) END AS k,
        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del
      FROM events
    ), cut AS (
      SELECT unnest([CAST(19733 AS BIGINT), 19743, 19753]) AS cutoff_day
    ), r AS (
      SELECT c.cutoff_day, e.user_id, e.k, e.is_del, e.value, e.event_id,
        ROW_NUMBER() OVER (PARTITION BY c.cutoff_day, e.user_id, e.k
          ORDER BY e.ts_us DESC, e.event_id DESC) AS rn
      FROM ev e JOIN cut c ON e.day < c.cutoff_day
    )
    SELECT cutoff_day,
      CAST(COUNT(*) AS BIGINT) AS n_keys,
      CAST(SUM(CASE WHEN is_del = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      CAST(SUM(is_del) AS BIGINT) AS n_deleted,
      CAST(SUM(CASE WHEN is_del = 0
        THEN CAST(ROUND(value, 8) AS DECIMAL(38,8)) END) AS DOUBLE) AS live_value_sum,
      MAX(CASE WHEN is_del = 0 THEN event_id END) AS live_max_event_id
    FROM r WHERE rn = 1 GROUP BY cutoff_day ORDER BY cutoff_day"""))

  /** Exact per-group WEIGHTED quantiles ([[ExactQuantile.perGroupWeighted]]
    * — the mass-based complement of q65's row-rank quantiles): "the
    * price below which half the shipped QUANTITY sits" per return flag,
    * at p50/p90/p99 (permilles). Same distributed two-pass rank-pick
    * shape as q65 (range partition by value → bounded count grid →
    * prefix offsets → targeted second pass; no per-group window, no
    * group ever materialized on a node); the weight contract is LONG so
    * every cumulative comparison is integer-exact and
    * partitioning-independent — the property a double-weight cumsum
    * could not give. Curation analog: token-mass-weighted length
    * cutoffs, quantity-weighted price bands (the reference's summary
    * CSVs report only unweighted means,
    * /root/reference/src/market_microstructure_toolkit/impact_twap_cli.py:86).
    */
  val q171 = Q("q171_weighted_quantiles",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          round(col("l_quantity"), 0).cast("long").as("wgt"))
      ExactQuantile.perGroupWeighted(li, "l_returnflag", "l_extendedprice",
          "wgt", Seq(500L, 900L, 990L))
        .select(col("g").as("l_returnflag"), col("pm"), col("wq"),
          col("target_w"), col("total_w"))
        .transform(graft.Q.presentSorted(_, "l_returnflag", "pm"))
    },
    Some("""WITH base AS (
      SELECT CAST(l_returnflag AS VARCHAR) AS g, l_extendedprice AS v,
        CAST(ROUND(l_quantity) AS BIGINT) AS w
      FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ), tot AS (
      SELECT g, CAST(SUM(w) AS BIGINT) AS total_w FROM base GROUP BY g
    ), pms AS (
      SELECT unnest([CAST(500 AS BIGINT), 900, 990]) AS pm
    ), tgt AS (
      SELECT g, pm, (pm * total_w + 999) // 1000 AS target_w, total_w
      FROM tot CROSS JOIN pms
    ), cw AS MATERIALIZED (
      SELECT g, v, SUM(w) OVER (PARTITION BY g ORDER BY v) AS cum FROM base
    )
    SELECT t.g AS l_returnflag, t.pm,
      CASE WHEN t.total_w > 0 THEN
        (SELECT MIN(c.v) FROM cw c WHERE c.g = t.g AND c.cum >= t.target_w)
      END AS wq,
      CAST(t.target_w AS BIGINT) AS target_w, t.total_w
    FROM tgt t ORDER BY l_returnflag, pm"""))

  // --------------------------------------------------------------- q175
  /** Small-file compaction planner — the lakehouse OPTIMIZE leg the
    * MERGE/MV/layout/time-travel family (q158/q162/q159/q170) was
    * missing. Simulates a partitioned table's file manifest (one file
    * per (ship-month, suppkey-bucket), integer byte sizes derived from
    * the rows), derives a scale-invariant target (4× the mean file
    * size, one global integer), and plans the rewrite: within each
    * partition, files sorted largest-first are striped into output bins
    * by cumulative-offset division — next-fit on a sorted stream, the
    * single-pass plan that needs no sequential bin state (classic FFD
    * needs a mutable bin list; offset-striping is its shuffle-free
    * approximation and is what table services actually run, cf. Iceberg
    * BinPackStrategy / Delta OPTIMIZE).
    *
    * Scale shape: the only data-sized stage is the manifest aggregation
    * (ONE partial-aggregable shuffle on (part, file)); everything after
    * — target scalar, per-partition cumsum window, bin rollup — runs on
    * the MANIFEST, which is metadata-sized (files, not rows; a 100 TB
    * table is ~10⁵ files). The planner's window partitions by table
    * partition, so planning parallelizes across partitions and no
    * single-partition global sort exists. In production the manifest
    * comes free from the table format's metadata layer; the row-derived
    * manifest here stands in so the oracle can verify the PLAN exactly.
    */
  val q175 = Q.sql("q175_compaction_planner",
    """WITH manifest AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS part,
             l_suppkey % 16 AS fk,
             CAST(COUNT(*) * 64 + SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS bytes
      FROM lineitem GROUP BY 1, 2
    ), tgt AS (
      SELECT (CAST(SUM(bytes) AS BIGINT) // COUNT(*)) * 4 AS target FROM manifest
    ), binned AS (
      SELECT m.part, m.bytes, t.target,
        CAST(SUM(m.bytes) OVER (PARTITION BY m.part ORDER BY m.bytes DESC, m.fk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM manifest m, tgt t
    ), bins AS (
      SELECT part, target, (cum - bytes) // target AS bin,
        CAST(COUNT(*) AS BIGINT) AS bf, CAST(SUM(bytes) AS BIGINT) AS bb,
        CAST(SUM(CASE WHEN bytes * 2 < target THEN 1 ELSE 0 END) AS BIGINT) AS sf
      FROM binned GROUP BY part, target, bin
    )
    SELECT part, CAST(SUM(bf) AS BIGINT) AS n_files,
      CAST(SUM(sf) AS BIGINT) AS n_small_files,
      CAST(COUNT(*) AS BIGINT) AS n_bins, CAST(SUM(bb) AS BIGINT) AS bytes_total,
      MAX(bb) AS max_bin_bytes, MIN(bb) AS min_bin_bytes, target AS target_bytes
    FROM bins GROUP BY part, target ORDER BY part""")

  // --------------------------------------------------------------- q179
  /** Snapshot-expiry + orphan-file audit — the VACUUM leg completing the
    * lakehouse maintenance six-pack (q158 MERGE, q162 incremental MV,
    * q159 layout, q170 time travel, q175 OPTIMIZE, this =
    * expire_snapshots + remove_orphan_files). A row-derived file ledger
    * carries each file's [added, removed) snapshot lifetime; the
    * retained window is snapshots [5, 7]. Referenced files come from
    * the honest metadata shape — retained-snapshot MANIFESTS exploded
    * per (file, snapshot) then distinct — not a closed-form lifetime
    * predicate, because real table formats only have manifests. The
    * disk listing is the ledger plus uncommitted writer leftovers
    * (every 11th file has a tmp duplicate never tracked). Classification
    * is one left join: orphan (on disk, never tracked) / live
    * (referenced by a retained snapshot) / expired (tracked, fell out
    * of retention); per-cohort counts + live vs reclaimable byte mass.
    *
    * Scale shape: the ledger aggregation is the only data-sized stage
    * (one partial-aggregable shuffle); manifests explode ≤ |retention
    * window| rows per FILE (metadata-sized), and the classify join is
    * file-keyed equi. Snapshot expiry over a 100 TB table is a
    * manifest-only plan — the data files are never read, only deleted.
    */
  val q179 = Q.sql("q179_vacuum_audit",
    """WITH ledger AS (
      SELECT o_orderkey // 5 AS file_id,
        CAST(COUNT(*) * 128 + SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS bytes
      FROM orders GROUP BY 1
    ), lf AS (
      SELECT file_id, bytes, file_id % 8 AS added,
        file_id % 8 + 1 + file_id % 5 AS removed
      FROM ledger
    ), referenced AS (
      SELECT DISTINCT file_id
      FROM lf, unnest(generate_series(greatest(added, 5), least(removed - 1, 7))) AS t(s)
      WHERE removed > 5
    ), disk AS (
      SELECT file_id, bytes, added, 0 AS orphan FROM lf
      UNION ALL
      SELECT file_id, bytes, added, 1 FROM lf WHERE file_id % 11 = 3
    ), cls AS (
      SELECT d.file_id, d.bytes, d.added,
        CASE WHEN d.orphan = 1 THEN 'orphan'
             WHEN r.file_id IS NOT NULL THEN 'live'
             ELSE 'expired' END AS status
      FROM disk d LEFT JOIN referenced r ON r.file_id = d.file_id
    )
    SELECT added AS cohort, CAST(COUNT(*) AS BIGINT) AS n_objects,
      CAST(SUM(CASE WHEN status = 'live' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      CAST(SUM(CASE WHEN status = 'expired' THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
      CAST(SUM(CASE WHEN status = 'orphan' THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
      CAST(SUM(CASE WHEN status = 'live' THEN bytes ELSE 0 END) AS BIGINT) AS bytes_live,
      CAST(SUM(CASE WHEN status != 'live' THEN bytes ELSE 0 END) AS BIGINT) AS bytes_reclaimable
    FROM cls GROUP BY added ORDER BY cohort""")

  def all: Seq[Q] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q38, q41, q42, q43, q45,
      q46, q55, q56, q65, q111, q116, q125, q132, q133, q134, q136, q137, q139,
      q141, q142, q143, q146, q149, q151, q152, q158, q159, q162, q170, q171, q175,
      q179)
}

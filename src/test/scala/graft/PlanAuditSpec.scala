package graft

/** Physical-plan audits: the properties that make these queries survive a
  * 100× scale-up are pinned here so a refactor can't silently lose them —
  * predicate pushdown reaching the parquet scan, column pruning, dim
  * joins broadcast (no sort-merge anywhere a build side is small), anti
  * joins broadcast, series windows shuffling exactly once on the series
  * key, and partial (map-side) aggregation before the shuffle.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filters push to the lineitem scan and columns prune") {
    val p = plan("q02_top_revenue_orders")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      "shipdate filter must reach the parquet reader")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double," +
      "l_discount:double,l_shipdate"),
      "lineitem scan must read only the 4 needed columns")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("q03: every dimension join along the 6-table chain broadcasts") {
    val p = plan("q03_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 5,
      "orders/customer/supplier/nation/region must all be build sides")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q05: anti join (inactive customers) broadcasts the subquery side") {
    val p = plan("q05_inactive_customers")
    assert(p.contains("LeftAnti, BuildRight"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,P)"),
      "status filter must reach the orders scan")
  }

  // Each of these texts sorts its narrow base in a subquery, so the global
  // Sort and its range exchange sit below the kernel projection and the
  // range sample does not re-run the kernel. Only this case pins that.
  test("sort-early texts: the global sort's range exchange sits below the kernel projection") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SortExec, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def unwrap(n: SparkPlan): SparkPlan = n match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case o => o
    }
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false") // exchanges are planned up front, not per stage
    try for (name <- Seq("q27_text_stats", "q28_lang_id", "q30_shingle_stats",
        "q31_minhash_signatures", "q32_simhash", "q34_embedding_stats",
        "q50_deep_book_array", "q53_rolling_fingerprint", "q57_bpe_tokens")) {
      var node = unwrap(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      var computes = false
      while (node.isInstanceOf[ProjectExec]) {
        val p = node.asInstanceOf[ProjectExec]
        computes ||= p.projectList.exists(!_.isInstanceOf[Attribute])
        node = unwrap(p.child)
      }
      assert(computes, s"$name: the kernel projection must sit above the global sort")
      node match {
        case s: SortExec if s.global =>
          assert(unwrap(s.child) match {
            case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
            case _ => false
          }, s"$name: the global sort must read its range exchange")
        case other => fail(s"$name: expected the global sort below the projections, found ${other.nodeName}")
      }
    } finally spark.conf.set(key, before)
  }

  test("q13: all series windows share ONE shuffle on the series key") {
    val p = plan("q13_ofi_l1_strict")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "every window fn must reuse the single (sym) exchange")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q39/q48: dedup candidate joins are equi-joins — no cartesian products") {
    for (name <- Seq("q39_embedding_neardup", "q48_minhash_lsh_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must bound candidates by bucket equi-join")
    }
  }

  test("q160: NN-descent candidates are pivot-local equi-joins, never all-pairs") {
    val p = plan("q160_nn_descent_recall")
    assert(!p.contains("CartesianProduct"),
      "graph construction must bound candidates by the pivot join; the only " +
        "non-equi join allowed is the ≤32-row broadcast probe audit")
  }

  test("q161: beam traversal runs on checkpointed generations — truncated lineage, no cartesian") {
    // the hop joins execute eagerly inside beamVisited (each generation
    // is reliably checkpointed to bound plan depth at 2^hops — the
    // explicit broadcast() hint on the frontier side pins the join
    // direction there); the FINAL plan must therefore read the
    // checkpointed visited frame, not re-derive the hop lineage
    val p = plan("q161_graph_beam_search")
    // (the ≤32-row broadcast exact-audit leg is a permitted
    // BroadcastNestedLoopJoin — same allowance as the q160 audit)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ExistingRDD"),
      "final plan must scan the checkpointed visited generations")
  }

  test("q49: nearest as-of is two window passes, no N×S join") {
    val p = plan("q49_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"), "expect window-based as-of")
  }

  test("q01: aggregation combines map-side before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), "expect partial aggregate functions")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("q30/q32/q53: per-doc kernels keep the whole query shuffle-free") {
    for (name <- Seq("q30_shingle_stats", "q32_simhash", "q53_rolling_fingerprint")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not shuffle — the kernel finishes each doc in its partition")
      assert(!p.contains("Generate"), s"$name must not explode shingles into rows")
    }
  }

  test("q56: exact_topk combines map-side (k doubles/group cross the shuffle)") {
    val p = plan("q56_topk_typed_agg")
    assert(p.contains("partial_exact_topk") || p.contains("partial_exacttopk"),
      s"expect a partial (map-side) exact_topk stage, got:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("q54: centroids broadcast to the assignment join — no shuffle of vectors by cell") {
    val p = plan("q54_kmeans_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroid set must be the broadcast side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q57: BPE tokenization is a pure projection — no shuffle, no explode") {
    val p = plan("q57_bpe_tokens")
    assert(!p.contains("Exchange hashpartitioning"), "token counting must stay map-side")
    assert(!p.contains("Generate"), "counts derive from the array in place, not exploded rows")
  }

  test("q59: packing offsets are ONE window shuffle per shard key") {
    val p = plan("q59_sequence_packing")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "the per-source running sum must be the only hash shuffle")
    assert(!p.contains("Generate"), "token counts come from the split array in place")
  }

  test("q58/q61: gram and term counts combine map-side before their shuffles") {
    for (name <- Seq("q58_repetition_quality", "q61_tfidf_topterms")) {
      val p = plan(name)
      assert(p.contains("partial_count"),
        s"$name must partially aggregate (doc, gram/term) counts before shuffling")
      assert(!p.contains("CartesianProduct"), s"$name must stay equi-join only")
    }
  }

  test("q64: incremental dedup joins new×base on (band, hash) — equi only") {
    val p = plan("q64_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the asymmetric band join must be an equi-join")
  }

  test("q66: the benchmark gram side broadcasts; the corpus side never shuffles text") {
    val p = plan("q66_benchmark_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "train grams must stream past a broadcast benchmark set")
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge: the corpus side must not shuffle for the gram probe")
  }

  test("q67: simhash pairs form only inside (band, code) buckets — equi only") {
    val p = plan("q67_simhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the band self-join must be an equi-join")
  }

  test("q65: quantiles never use the group-buffering percentile aggregate") {
    val p = plan("q65_exact_quantiles")
    assert(!p.toLowerCase.contains("objecthashaggregate"),
      "percentile's per-group value buffer must not appear — " +
        "ExactQuantile range-partitions by value instead")
  }

  test("q74: the budget prefix sum never plans a global window") {
    val p = plan("q74_token_budget")
    assert(!p.contains("WindowExec") && !p.contains("Window ["),
      "the distributed prefix-sum cut must not fall back to a single-task window")
  }

  test("q73: leakage audit joins group table to split flags — equi only") {
    val p = plan("q73_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q54: cell assignment is a literal-centroid projection (no shuffle, no window)") {
    // round 12: the assignment argmin compiles to least() over K
    // collected-centroid structs — a pure projection. The plan must show
    // the least-struct kernel chain and contain NO per-vector ranking
    // window and NO assignment groupBy-exchange (the only exchanges left
    // are the per-dim mean + search legs).
    val p = plan("q54_kmeans_ivf")
    assert(p.contains("least(") && p.contains("dec_dot8"),
      "assignment must be the least(struct(d2, cid)) literal-centroid projection")
    assert(!p.toLowerCase.contains("windowspecdefinition(vec_id"),
      "no per-vector ranking window may replace the projection argmin")
  }

  test("q77: semantic-dedup pairs form only inside a cell — equi join, no all-pairs") {
    val p = plan("q77_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must be bounded by the cell equi-join")
  }

  test("q78: the vocabulary broadcasts back for the OOV probe") {
    val p = plan("q78_vocab_oov")
    assert(p.contains("BroadcastHashJoin"),
      "the driver-sized vocab must be the build side of the probe join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q79: source overlap intersects via the gram equi-join — no doc all-pairs") {
    val p = plan("q79_source_overlap")
    assert(!p.contains("CartesianProduct"),
      "only the driver-sized source×source matrix may be non-equi (broadcast)")
  }

  test("q80: PII scrub is a pure projection — no shuffle, no explode") {
    val p = plan("q80_pii_redaction")
    assert(!p.contains("Exchange hashpartitioning"),
      "regex count/replace must finish inside the scan's partition")
    assert(!p.contains("Generate"))
  }

  test("q81/q85: dedup-derived pair queries stay equi-join bounded") {
    for (name <- Seq("q81_hybrid_neardup", "q85_contrastive_pairs")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must bound pairs by band-bucket / id equi-joins")
    }
  }

  test("q84: the KMV k-mins combine map-side via exact_topk") {
    val p = plan("q84_kmv_distinct")
    assert(p.contains("partial_exact_topk") || p.contains("partial_exacttopk"),
      "the sketch side must ship <= k doubles per source per partition")
  }

  test("q88: window doc-frequency combines map-side; rollups are equi-joins only") {
    val p = plan("q88_dup_substrings")
    assert(p.contains("partial_count"), "df groupBy must combine before the shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "per-doc rollup must join back on the hash key, never all-pairs")
  }

  test("q89: chunk extraction is explode-and-project — no shuffle before the sort") {
    val p = plan("q89_rag_chunks")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunk rows derive per-doc; only the presentation range sort may exchange")
    assert(!p.contains("Window"), "chunk grid is closed-form, not a window function")
  }

  test("q91: hard negatives broadcast the term/anchor sides — no cartesian blowup") {
    val p = plan("q91_hard_negatives")
    assert(!p.contains("CartesianProduct"),
      "only the 1-row scalar crossJoin may nest; candidate joins stay equi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "query terms, anchor groups, and scalars must all be build sides")
  }

  test("q92: PQ encoding argmin combines map-side; code scoring joins broadcast LUTs") {
    val p = plan("q92_pq_adc_recall")
    assert(!p.contains("CartesianProduct"),
      "only the K-row codebook crossJoins may nest; candidate scoring stays equi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the per-query LUTs must broadcast to the code rows")
  }

  test("q93: fertility rollup is ONE map-side-combined shuffle on lang") {
    val p = plan("q93_tokenizer_fertility")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc counts must combine before the shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "exactly the groupBy(lang) exchange")
  }

  test("q83: curriculum bucketing never plans a global ranking window") {
    val p = plan("q83_curriculum_buckets")
    assert(!p.contains("CartesianProduct"))
    assert(!"Window.*\\[\\]".r.findFirstIn(p).isDefined &&
      !p.contains("No Partition Defined"),
      "quantile cuts must come from the range-partition path, not a global window")
  }

  test("q95: the quota table broadcasts; only the stratum rank window shuffles docs") {
    val p = plan("q95_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), "the per-source quota table is a build side")
    assert(!p.contains("SortMergeJoin"),
      "doc rows must never shuffle for the quota join")
  }

  test("q96: release diff is ONE doc_id-keyed join; statuses aggregate map-side") {
    val p = plan("q96_release_diff")
    assert(p.contains("FullOuter"), "the reconciliation join is full outer")
    assert(p.contains("partial_count"), "(source,status) counts combine before the shuffle")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere")
  }

  test("q97: PMI marginals derive from the aggregated model, not raw re-aggregation") {
    val p = plan("q97_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-50 must be a take-ordered, never a full global sort")
    assert(p.contains("InMemoryTableScan"),
      "the bigram model must be materialized once and read by both consumers")
    assert(!p.contains("SortMergeJoin"), "only the 1-row total crossJoin may nest")
  }

  test("q98: the truncation curve is explode + map-side-combined agg, no joins") {
    val p = plan("q98_truncation_curve")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-ctx folds must combine before the shuffle")
    assert(!p.contains("Join"), "no join anywhere in a pure projection+agg query")
  }

  test("q99: drift joins the two TINY centroid tables, never raw vectors") {
    val p = plan("q99_centroid_drift")
    assert(p.contains("InMemoryTableScan"),
      "the centroid table must be materialized once and read by both join sides")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "component sums must combine map-side before the (label, half, pos) shuffle")
  }

  test("q100: the sweep rides the memoized assignment; probes broadcast") {
    val p = plan("q100_ann_tuning")
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan"),
      "cell ranks must come from the checkpointed memo, not a rebuild")
    assert(!p.contains("CartesianProduct"),
      "only the 8-probe exact side may nest; candidate joins stay equi")
  }

  test("q101: curriculum order never plans a per-bucket ranking window") {
    val p = plan("q101_curriculum_order")
    assert(!p.contains("Window"),
      "per-bucket ranks come from the two-phase offset pass, not a window")
    assert(p.contains("Exchange rangepartitioning"),
      "the rank pass range-partitions by (bucket, doc_id)")
  }

  test("q102: calibration pairs form only inside LSH band buckets — equi only") {
    val p = plan("q102_minhash_calibration")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "estimate and truth join back on pair ids, never all-pairs")
  }

  test("q103: HRW routing is map-side — one exchange for the 8-row rollup") {
    val p = plan("q103_hrw_sharding")
    assert(!p.contains("Window") && !p.contains("Join"),
      "the argmax is an array HOF per row, not a window or join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "exactly the groupBy(shard) exchange")
  }

  test("q104/q105: dedup-derived rollups ride the memos — no candidate rebuild") {
    for (n <- Seq("q104_canonical_rank", "q105_quality_dup_lift")) {
      val p = plan(n)
      assert(p.contains("Scan ExistingRDD"),
        s"$n must read the checkpointed edge/label memos, not rebuild the band join")
      assert(!p.contains("CartesianProduct"), s"$n: no all-pairs anywhere")
    }
  }

  test("hive-partitioned layout prunes: date filter never touches other partitions") {
    import org.apache.spark.sql.functions._
    // The other half of the 100-TB scan story: a date-partitioned layout
    // plus a declarative filter must prune at PLANNING time (read 1
    // partition's files, not 100 TB then filter).
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables(spark, dir, "events")
      .withColumn("event_date", to_date(timestamp_micros((col("ts") / 1000).cast("long"))))
      .write.mode("overwrite").partitionBy("event_date").parquet(tmp)
    val dates = spark.read.parquet(tmp).select("event_date").distinct().count()
    assert(dates > 1, "fixture must span multiple partition values")
    val q = spark.read.parquet(tmp)
      .filter(col("event_date") === "2024-01-01")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_date"),
      "the date predicate must become a partition filter, not a row filter")
    assert(!p.contains("PushedFilters: [IsNotNull(event_date"),
      "partition column must not degrade to a parquet row-group filter")
  }

  test("bucketed fact-fact join co-locates: zero shuffles end-to-end") {
    import org.apache.spark.sql.functions._
    // The 100-TB story for fact-fact joins the broadcast path can't cover:
    // both sides bucketed on the join key at write time, so the join AND
    // the downstream same-key aggregate reuse the on-disk partitioning.
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val prevABJ = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables(spark, dir, "orders").select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$tmp/orders_bk")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_bk")
      Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode("overwrite").option("path", s"$tmp/lineitem_bk")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_bk")
      val joined = spark.table("orders_bk")
        .join(spark.table("lineitem_bk"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("qty"), max("o_totalprice").as("price"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "expect bucket-aligned sort-merge join")
      assert(!p.contains("Exchange hashpartitioning"),
        "neither the join nor the aggregate may shuffle — bucket partitioning must carry through")
      assert(p.contains("SelectedBucketsCount"), "scans must be bucket-aware")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevABJ)
      spark.sql("DROP TABLE IF EXISTS orders_bk")
      spark.sql("DROP TABLE IF EXISTS lineitem_bk")
    }
  }

  test("q118: the whole postings walk rides ONE term-keyed exchange") {
    val p = plan("q118_postings_gamma_audit")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "distinct, gap window and rollup must all reuse the term partitioning")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be a TakeOrdered, not a global sort")
  }

  test("q121/q123/q127: model/vocab tables broadcast to the scoring joins") {
    for (n <- Seq("q121_dsir_importance", "q123_vocab_size_sweep",
      "q127_next_token_accuracy")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: model probe must broadcast")
      assert(!p.contains("SortMergeJoin"), s"$n: no sort-merge anywhere")
    }
  }

  test("q117: Hamming-LSH candidates form only inside (band_idx, band_code) buckets") {
    val p = plan("q117_binary_ahash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the band self-join must stay an equi join")
  }

  test("q149: basket pairs join only inside (user, session) — equi only") {
    val p = plan("q149_session_basket_lift")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the item self-join must stay keyed on (user_id, session_id)")
  }

  test("q150: the release gate adds no unbounded window beyond the source rank") {
    val p = plan("q150_release_gate")
    assert(!p.contains("Window [") ||
      !p.contains("windowspecdefinition()"),
      "every window must be partitioned (no empty partition spec)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q125: quantile audit never plans a global sort of the column") {
    val p = plan("q125_histogram_quantile_audit")
    assert(!p.contains("rangepartitioning(v"),
      "pass 2 sorts only within pruned bins — no range exchange of the column " +
        "(the 7-row presentation sort on pct is the only range partitioning allowed)")
    assert(p.contains("BroadcastHashJoin"), "the 7-row rank table must broadcast")
  }

  test("q115/q153/q155: global ranks are range-partitioned — every rank window keys on the range pid") {
    for (name <- Seq("q115_zonemap_pruning", "q153_sorted_neighborhood",
        "q155_shard_manifest")) {
      val p = plan(name)
      // GlobalRank's row_number partitions by _gr_pid; the only other
      // windows allowed are the ≤ numPartitions-row offset frames
      assert(p.contains("_gr_pid"), s"$name must rank via GlobalRank")
      assert(!p.contains("windowspecdefinition(doc_id"),
        s"$name must not fall back to a doc-keyed global window")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name pairing/blocks must stay equi-keyed")
    }
  }

  test("q153: verify stage ships shingle-hash arrays, never raw text") {
    val p = plan("q153_sorted_neighborhood")
    assert(p.contains("shingle_hash48"),
      "per-doc shingle sets must materialize once via the hash48 kernel")
    assert(!p.contains("shingle_overlap"),
      "no per-candidate-pair re-shingling in the verify stage")
    // text is consumed by shingle_hash48 at the scan projection and must
    // not survive into the join: the only array columns shipped are sh_a/sh_b
    assert(!p.contains("text_a") && !p.contains("text_b"),
      "raw text must not ship through the bucketed candidate join")
  }

  test("q173: rank-windowed linkage is GlobalRank + bucketed equi-joins") {
    val p = plan("q173_record_linkage_snm")
    assert(p.contains("_gr_pid"),
      "both sort passes (title, reversed title) must rank via GlobalRank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "rank-distance pairing must stay a bucket equi-join, never a range/BNL join")
    // the verify ranking partitions by the dirty key (bounded by the
    // constructive candidate cap); nothing may plan an unpartitioned window
    assert(!p.contains("windowspecdefinition()"),
      "no global (unpartitioned) window anywhere in the linkage plan")
  }

  test("q157: suffix ranking is GlobalRank rounds — no global window, no gram blowup joins") {
    val p = plan("q157_suffix_dup_spans")
    assert(p.contains("_gr_pid"),
      "dense ids must come from GlobalRank (range shuffle), not a global window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair→id mapping must stay an equi-join")
  }

  test("q158: changelog compaction is one partial-aggregable merge — no window, no sort") {
    val p = plan("q158_changelog_snapshot")
    assert(!p.toLowerCase.contains("windowspecdefinition"),
      "last-writer-wins must be max(struct), not a ranking window")
    assert(p.contains("partial_max"),
      "each map task must ship one candidate struct per key (map-side combine)")
  }

  test("q162: MV maintenance is pure partial-aggregable state merge — no window") {
    val p = plan("q162_incremental_mv")
    assert(!p.toLowerCase.contains("windowspecdefinition"),
      "state build and merge must be plain aggregates")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "batch states must combine map-side before any shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q159: all four layouts rank via GlobalRank; block zonemaps aggregate map-side") {
    val p = plan("q159_zorder_layout_audit")
    assert(p.contains("_gr_pid"), "layout ranks must be range-partitioned")
    // intended window shapes: PARTITIONED by morton (the parallel
    // per-cell rank) and ordered-global over AGGREGATED ≤256-row frames
    // (cell offsets — the same bounded pattern as GlobalRank's offsets).
    // What must never appear is an ordered GLOBAL window on a raw layout
    // key (first spec element carrying ASC = no partition cols first).
    assert(!"windowspecdefinition\\((?:user_id|k|event_id)#\\d+L? ASC".r
      .findFirstIn(p).isDefined,
      "no key-ordered global window may replace GlobalRank/cell ranks")
    assert(!p.contains("CartesianProduct"))
    // nested-loop occurrences are all the ONE broadcast of the 1-row
    // count frame scaling the bucket ids (the persisted base subtree
    // re-prints under every unioned layout branch, so occurrence COUNTS
    // are meaningless); every instance must be a broadcast build
    assert("BroadcastNestedLoopJoin (\\w+), Cross".r.findAllMatchIn(p)
      .forall(m => m.group(1).startsWith("Build")),
      "any nested-loop join must be the broadcast count frame")
  }

  test("q154: τ comes from exact_topk — no per-source full-sort window") {
    val p = plan("q154_priority_sample_audit")
    assert(p.contains("exact_topk"),
      "the (K+1)-th priority must come from the bounded-heap aggregator")
    assert(!p.toLowerCase.contains("windowspecdefinition"),
      "no ranking window anywhere: a billion-doc source must not sort for 33 rows")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source τ table (|sources| rows) must broadcast back")
  }

  test("q42: the pruned-rank pass reads the persisted binned projection, not a re-scan") {
    spark.catalog.clearCache()
    val p = plan("q42_sketch_aggregates")
    // building the final frame runs the histogram pass and persists
    // `binned`; the surviving rank pass must read that cache — one scan
    // + one broadcast bin join TOTAL per pass, not per consumer
    assert(p.contains("InMemoryTableScan"),
      "rank pass must read the persisted binned projection")
    spark.catalog.clearCache()
  }

  test("iterative vec loops leave no accumulated cached generations") {
    // the round-9 contract: each loop (k-center rounds, beam hops)
    // unpersists superseded generations — after a full run the cache
    // holds the shared corpus frame and the final consumer caches only,
    // NOT O(rounds) frames
    spark.catalog.clearCache()
    SparkEntry.queries("q167_kcenter_coreset")(spark, dir).collect()
    val afterKc = spark.sparkContext.getPersistentRDDs.size
    assert(afterKc <= 2,
      s"q167 left $afterKc cached RDDs; its loop is stateless — only the corpus frame may persist")
    spark.catalog.clearCache()
    val df161 = SparkEntry.queries("q161_graph_beam_search")(spark, dir)
    df161.collect()
    df161.unpersist()
    val afterBeam = spark.sparkContext.getPersistentRDDs.size
    assert(afterBeam <= 4,
      s"q161 left $afterBeam cached RDDs; beam hops must not accumulate a frame per hop")
    spark.catalog.clearCache()
  }

  test("q174: fusion joins are rank-bounded; only the 3-row query side BNLs") {
    val p = plan("q174_hybrid_rrf_fusion")
    assert(!p.contains("CartesianProduct"))
    // exactly two bounded nested-loop joins are legitimate: the 1-row
    // (D, N) scalar graft inside the BM25 leg and the 3-row
    // query-vector × corpus probe (the q36 precedent); the lexical
    // term joins and the rank fusion must all be hash/sort joins on keys
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the 1-row scalar and 3-row query sides may nested-loop")
    assert(!p.contains("windowspecdefinition()"),
      "leg and fusion rankings partition by query_id — no global window")
  }

  test("q175: planning windows partition by table partition; manifest agg combines map-side") {
    val p = plan("q175_compaction_planner")
    assert(!p.contains("windowspecdefinition()"),
      "the cumsum window must partition by `part`, never a global sort")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      "HashAggregate".r.findAllIn(p).size >= 4,
      "the manifest aggregation must map-side combine before its shuffle")
    assert(!p.contains("CartesianProduct"))
  }

  test("q176: OHLC bars are ONE partial-aggregable groupBy — no window, no join") {
    val p = plan("q176_ohlc_bars")
    assert(!p.contains("Window"), "bars must not plan any window")
    assert(!p.contains("Join"), "bars must not plan any join")
    assert(p.contains("min_by") && p.contains("max_by"))
  }

  test("q178: frame decode is map-side; only (asset, frame, energy) longs shuffle") {
    val p = plan("q178_frame_sample_scenes")
    assert(!p.contains("windowspecdefinition()"),
      "the cut window must partition by asset_id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the frame rows entering the exchange must not carry the payload
    assert(!"Exchange[^\n]*payload".r.findFirstIn(p).isDefined,
      "payload bytes must never cross an exchange")
  }

  test("q179: vacuum audit is manifest-only after the ledger agg — equi joins, no window") {
    val p = plan("q179_vacuum_audit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "no window anywhere in the vacuum plan")
  }

  test("q180: resize is map-side; payload bytes never shuffle") {
    val p = plan("q180_image_resize_audit")
    assert(!p.contains("Window") && !p.contains("Join"))
    assert(!"Exchange[^\n]*payload".r.findFirstIn(p).isDefined,
      "payload bytes must never cross an exchange")
  }

  test("q181: all tick windows share ONE (sym, seq) sort; no global window") {
    val p = plan("q181_vpin_toxicity")
    assert(!p.contains("windowspecdefinition()"),
      "every window must partition by sym")
    // lag + carried direction + cumsum must reuse a single sort: at most
    // one Sort below the tick-level Window chain plus one for the
    // bucket-level VPIN window and the presentation sort
    assert("Sort ".r.findAllIn(p).size <= 4,
      "tick windows must not each plan their own sort")
  }

  test("q177: wedge enumeration is equi-joins only — no all-pairs anywhere") {
    val p = plan("q177_dup_graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "orientation, wedge, and closing joins must all be key equi-joins")
    assert(!p.contains("windowspecdefinition()"))
  }

  test("q183: the serve is ONE broadcast cell equi-join; codebook never shuffles") {
    val p = plan("q183_ivf_multiprobe_serve")
    // probe×cell frame broadcast onto the assigned corpus — the single
    // join that carries the serve; the assignment itself is a literal-
    // centroid projection (no join, no exchange for the codebook)
    assert(p.contains("BroadcastHashJoin"),
      "the exploded probe side must be the broadcast build side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "a cell-scan serve must never sort-merge or cross the corpus")
  }

  test("q184: independent-family near-dup keeps the q72 plan shape") {
    val p = plan("q184_embedding_neardup_indep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must be bounded by the (band, code) bucket equi-join")
    // the md5 coefficient table is a kernel-internal static — nothing
    // about the family change may add a shuffle or a join
    assert("Exchange hashpartitioning".r.findAllIn(p).size <=
      "Exchange hashpartitioning".r.findAllIn(plan("q72_embedding_neardup_wide")).size,
      "q184 must not shuffle more than the q72 plan it twins")
  }
}

package graft

import graft.graph.ConnectedComponents
import graft.text.TextQueries
import org.apache.spark.sql.functions._

/** 100×-hardening guards for the dedup pipeline: alternating
  * large-star/small-star CC must converge in O(log n) rounds on
  * adversarial chains (min-label propagation needs O(diameter)), and the
  * LSH hot-bucket guard must bound candidate fan-out on a degenerate
  * all-identical corpus while keeping the component connected.
  */
class DedupScaleGuardSpec extends SparkTestBase {

  test("CC converges in O(log n) rounds on a 500-link chain") {
    val sess = spark
    import sess.implicits._
    val edges = (0L until 499L).map(i => (i, i + 1)).toDF("u", "v")
    val verts = (0L until 500L).toDF("id")
    val (labels, rounds) = ConnectedComponents.label(edges, verts, smallGraphThreshold = 0)
    assert(labels.where(col("comp") === 0L).count() === 500)
    assert(rounds <= 12,
      s"chain took $rounds rounds; min-label propagation would take ~500")
    labels.unpersist()
  }

  test("CC matches brute-force union-find on a random graph") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(42)
    val n = 200
    val es = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // union-by-min ⇒ every root is its component's minimum
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val (labels, _) =
      ConnectedComponents.label(es.toDF("u", "v"), (0L until n.toLong).toDF("id"),
        smallGraphThreshold = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    labels.unpersist()
  }

  test("small-graph fast path ≡ distributed star rounds on a random graph") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7)
    val n = 300
    val es = Seq.fill(220)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val verts = (0L until n.toLong).toDF("id")
    val (small, r0) = ConnectedComponents.label(es.toDF("u", "v"), verts)
    val (dist, _) = ConnectedComponents.label(es.toDF("u", "v"), verts,
      smallGraphThreshold = 0)
    assert(r0 === 0, "graph under threshold must take the driver union-find")
    assert(small.except(dist).isEmpty && dist.except(small).isEmpty,
      "both paths must produce the identical component-minimum labeling")
    small.unpersist(); dist.unpersist()
  }

  test("SNM rank-back guard: broadcast and shuffle sides agree, plans differ") {
    val dir = "/root/testdata/sf0.001"
    val slim = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val rnMap = graft.rel.GlobalRank
      .withGlobalRank(slim, Seq(col("lang"), col("n_chars"), col("doc_id")), "rn")
      .select(col("doc_id"), col("rn"))
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        array_sort(expr("shingle_hash48(text, 8)")).as("sh"))
    val n = rnMap.count()
    // disable auto-broadcast so the shuffle side genuinely shuffles (at
    // production scale the size estimate does this; at 500 docs only
    // the conf does)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val bc = TextQueries.snmJoinRank(d, rnMap, n, bcastMax = Long.MaxValue)
      val sh = TextQueries.snmJoinRank(d, rnMap, n, bcastMax = 0L)
      def nBhj(df: org.apache.spark.sql.DataFrame): Int =
        "BroadcastHashJoin".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      // GlobalRank's internal offsets join contributes one broadcast to
      // BOTH plans; the guard adds exactly one more on the broadcast side
      assert(nBhj(bc) === nBhj(sh) + 1,
        "threshold must actually flip the rank-back join strategy")
      val w = 4
      val pb = TextQueries.snmWindowPairs(bc, w, b = 8L)
        .select("id_a", "id_b", "rank_dist", "n_inter", "n_union")
      val ps = TextQueries.snmWindowPairs(sh, w, b = 8L)
        .select("id_a", "id_b", "rank_dist", "n_inter", "n_union")
      assert(pb.except(ps).isEmpty && ps.except(pb).isEmpty,
        "both sides of the broadcast threshold must emit identical pairs")
    } finally {
      spark.conf.set(key, prev)
      spark.catalog.clearCache()
    }
  }

  test("1000 identical docs: star guard bounds fan-out, component survives") {
    val sess = spark
    import sess.implicits._
    val docs = (0L until 1000L)
      .map(i => (i, "identical corpus text block " * 12, "en", "adv", 336L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (cand, bands) = TextQueries.dedupCandidates(docs)
    val nCand = cand.count()
    // all-pairs would be 1000·999/2 = 499 500; the star guard emits one
    // (bucket-min, member) pair per member per band, deduped across bands
    assert(nCand <= 999L * 4,
      s"candidate fan-out $nCand not bounded by the hot-bucket guard")
    bands.unpersist()

    // end-to-end: the star pairs keep all 1000 docs in ONE dedup group
    val dir = java.nio.file.Files.createTempDirectory("graft-adv").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.q48.run(spark, dir).collect()
    assert(rows.length === 1000)
    assert(rows.forall(_.getLong(1) == 0L), "all docs grouped under doc 0")
    assert(rows.forall(_.getLong(3) == 1000L), "group size is the full corpus")
    assert(rows.count(_.getInt(2) == 1) === 1, "exactly one kept copy")
  }

  test("q149 adversarial: one user, 2000 sessions, full alphabet per session") {
    // The bounded-pairs claim in q149's scaladoc: the per-session self-join
    // emits ≤ T·(T−1) pairs per session (T = event-type alphabet), NEVER
    // O(events²) — a single hyperactive user with thousands of sessions is
    // exactly the skew shape that would break a per-user join. 2000
    // sessions × 5 types = 10 000 events, one user_id.
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bask-adv").toString
    val types = Seq("view", "click", "cart", "purchase", "error")
    val hour = 3600000000000L // ns — consecutive sessions 1 h apart (> 30 min gap)
    val rows = for {
      s <- 0 until 2000
      (t, i) <- types.zipWithIndex
    } yield (s * 5L + i, s * hour + i * 1000000000L, 1L, t, 1.0, "{}")
    // write ts with the REAL events.parquet logical type — TIMESTAMP
    // (micros), not raw INT64 — so this fixture exercises the same
    // Tables-level ts normalization the production read path takes;
    // restore the shared session's conf afterwards (other suites in
    // this JVM write timestamp columns too)
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val savedTsType = spark.conf.getOption(tsTypeKey)
    spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
    try {
      rows.toDF("event_id", "ts_ns", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000"))).drop("ts_ns")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
    } finally savedTsType match {
      case Some(v) => spark.conf.set(tsTypeKey, v)
      case None => spark.conf.unset(tsTypeKey)
    }

    val q = rel.RelationalQueries.q149.run(spark, dir)
    // equi-keyed only: the (user, session) join must never degrade to a
    // cartesian/BNL even when one user owns every session
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "basket pair join must stay equi-keyed under single-user skew")
    val out = q.collect()
    // every ordered pair of distinct types co-occurs in all 2000 sessions:
    // support = conf = lift = 1000 permille exactly
    assert(out.length === types.size * (types.size - 1))
    assert(out.forall(r => r.getLong(2) == 2000L && r.getLong(3) == 1000L &&
      r.getLong(4) == 1000L && r.getLong(5) == 1000L),
      s"unexpected basket stats: ${out.take(3).toSeq}")
  }

  test("q153 sorted-neighborhood: bucketed pairing stays equi-keyed and catches planted dups") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snm").toString
    // 300 distinct docs + 5 planted near-identical pairs: the pair
    // members share lang and have n_chars within the window's reach
    val base = (0 until 300).map { i =>
      (i.toLong, s"unique document number $i with filler text ${"x" * (i % 40)}",
        s"l${i % 3}", "web", (40 + i % 40).toLong)
    }
    val dups = (0 until 5).flatMap { j =>
      val t = s"planted duplicate body $j ${"y" * 30}"
      Seq((1000L + 2 * j, t, "ld", "web", t.length.toLong),
        (1001L + 2 * j, t + "!", "ld", "web", t.length + 1L))
    }
    (base ++ dups).toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val q = TextQueries.q153.run(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "rank-distance pairing must be the bucketed equi-join, not a range/BNL join")
    val out = q.collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { j =>
      assert(pairs.contains((1000L + 2 * j, 1001L + 2 * j)),
        s"planted near-dup pair $j must be found")
    }
  }

  test("snmWindowPairs (lead + seam) ≡ the rank theta-join at every bucket size") {
    val sess = spark
    import sess.implicits._
    // 200 ranked rows with singleton "shingle" arrays; rank = id
    val ranked = (0L until 200L).map(i => (i, Seq(i), i))
      .toDF("doc_id", "sh", "rn")
    val ref = ranked.as("a").join(ranked.as("b"),
        col("b.rn") > col("a.rn") && col("b.rn") - col("a.rn") < 8)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (col("b.rn") - col("a.rn")).as("rank_dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // b=16: many seams; b=64: few; b=1024 > n: pure lead pass
    for (b <- Seq(16L, 64L, 1024L)) {
      val got = TextQueries.snmWindowPairs(ranked, 8, b)
        .select("id_a", "id_b", "rank_dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length === got.toSet.size, s"b=$b: duplicate pairs emitted")
      assert(got.toSet === ref, s"b=$b: pair set differs from the theta join")
    }
  }
}

package graft.vec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-probe IVF serving over a driver-bounded (≤ 1024) coarse
  * codebook — the q52 nprobe lever applied at the extreme-scale corpus,
  * and the serving architecture the round-14 receipts showed the 2 M
  * corpus actually needs.
  *
  * Why this module exists (the round-14 lesson, measured in
  * receipts/sharded_build_1000x_k16r1.json): serving recall is bounded
  * by the CORPUS GEOMETRY, not by the index. On a corpus whose clusters
  * grow in DENSITY (the shared-label 1000× corpus: ten clusters of
  * ~200 k rotated-iid-uniform points each), in-cluster distances
  * concentrate — the exact top-k of a probe sits at ~0.85× the typical
  * in-cluster distance with nothing nearer-structured around it — so
  * NO sublinear index (graph, IVF, LSH, tree) can hold exact-top-k
  * recall without scoring ~the whole cluster. On a corpus whose
  * clusters grow in COUNT (the percopy-label 1000× corpus: 10 000
  * clusters of ~200 points — how real embedding corpora grow), the same
  * machinery holds recall ≈ 1 while scoring < 1 % of the corpus.
  * [[IvfSweepProbe]] measures both sides; PERF.md round 15 carries the
  * numbers.
  *
  * Scale shape: the codebook is ≤ 1024 rows (driver-literal projection —
  * zero shuffle to rank cells), corpus assignment is one codegen'd
  * pass, and a probe batch costs nprobe·(N/K) exact scores per probe
  * via one equi-join on the cell id. At 1000 executors the corpus
  * arrives cell-partitioned (the assignment column is the natural
  * bucketing key), so a probe touches nprobe partitions — no all-pairs,
  * no driver data.
  *
  * No reference analog: the reference toolkit (pandas microstructure
  * metrics) has no vector-similarity surface — this is the SURVEY.md
  * LLM-pipeline extension, the inverted-file serve a 100 TB embedding
  * corpus requires.
  */
object IvfServe {

  /** Top-`p` nearest centroid cells per row as an ORDERED array column
    * `pcells` (nearest first) — the nprobe generalization of
    * [[ShardedGraphBuild.assignOrd]]'s best/runner-up pair, same
    * codegen'd ordered-double scoring over the ≤ MaxCodebook-literal codebook,
    * same smaller-cid tie-break via the struct's lexicographic order.
    */
  private[graft] def probeCells(emb: DataFrame, cent: DataFrame,
                                p: Int): DataFrame = {
    val cs = cent.select("cid", "cvec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    require(cs.nonEmpty, "probeCells needs at least one centroid")
    require(cs.length <= ShardedGraphBuild.MaxCodebook,
      s"probeCells is for driver-bounded codebooks, got ${cs.length}")
    val pc = math.min(p, cs.length)
    val cands = cs.map { case (cid, cvec) =>
      val cn2 = cvec.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        (lit(cn2) - lit(2.0) * call_function("ord_dot", col("embedding"),
          array(cvec.map(lit(_)): _*))).as("d2"),
        lit(cid).as("cid"))
    }
    emb.withColumn("pcells",
      transform(slice(array_sort(array(cands: _*)), 1, pc),
        c => c.getField("cid")))
  }

  /** Broadcast guard for [[serve]]'s probe side (the snmJoinRank
    * pattern, TextQueries.scala): serving is probe-batched by nature,
    * so the exploded probe×cell frame is normally tiny and broadcasting
    * it is THE plan (one map-side equi-join, the corpus never
    * shuffles). But nothing used to stop a caller handing a 10⁷-row
    * probe batch to the same code path — the exploded frame (each row
    * carries the probe embedding, ~0.5 KB at 64 dims) would be forced
    * into a driver-bounded broadcast exchange and OOM instead of
    * degrading. Past this many PROBES the serve takes a plain equi-join
    * (AQE picks the shuffle strategy; the corpus then ships once,
    * partitioned by cell — the co-location a fleet deployment gets for
    * free by bucketing on the assignment column). 10⁶ probes × nprobe 4
    * × ~0.5 KB ≈ 2 GB — comfortably under Spark's 8 GB broadcast wall
    * with headroom for wider embeddings.
    */
  private[graft] val ServeBcastMaxProbes = 1000000L

  /** The serving path itself, oracle-gated as catalog q183: exact top-`k`
    * per probe WITHIN its `nprobe` nearest codebook cells — one corpus
    * assignment pass (codegen'd literal-centroid projection), one
    * broadcast of the exploded probe×cell frame, ONE equi-join on the
    * cell id. `n_scored` rides along as the honest serving-cost column
    * (how many candidates the probe actually paid for), so the oracle
    * pins the COST of the serve, not just its answer. A probe whose
    * probed cells hold no other vector emits no rows — recall metering
    * over sparse corpora belongs to [[ivfSweepAudit]], which counts such
    * probes as misses.
    *
    * The probe side is broadcast only while the batch is at most
    * `bcastMaxProbes` rows ([[ServeBcastMaxProbes]]) — one count() on
    * the probe batch (a metadata count when the batch is a bare scan)
    * buys graceful degradation to a shuffle join past the wall instead
    * of a broadcast OOM; IvfServeGuardSpec forces the threshold both
    * ways and compares values.
    *
    * @param en     corpus (vec_id, embedding, n2 — ordered-fold norms)
    * @param cent   coarse codebook (cid, cvec), ≤ MaxCodebook rows
    * @param probes (q_id, embedding, n2)
    */
  def serve(en: DataFrame, cent: DataFrame, probes: DataFrame,
            nprobe: Int, k: Int,
            bcastMaxProbes: Long = ServeBcastMaxProbes): DataFrame = {
    graft.functions.Kernels.register(en.sparkSession)
    val asg = ShardedGraphBuild.assignOrd(en.select("vec_id", "embedding"), cent)
      .select(col("vec_id").as("node"), col("cell").as("ncell"))
    val cands = en.select(col("vec_id").as("node"), col("embedding").as("ce"),
        col("n2").as("cn2"))
      .join(asg, "node")
    val pcells = probeCells(
        probes.select(col("q_id"), col("embedding"), col("n2").as("qn2")),
        cent, nprobe)
      .select(col("q_id"), col("embedding").as("qe"), col("qn2"),
        explode(col("pcells")).as("pcell"))
    val probeSide =
      if (probes.count() <= bcastMaxProbes) broadcast(pcells) else pcells
    val scored = probeSide
      .join(cands, col("ncell") === col("pcell") && col("node") =!= col("q_id"))
      .select(col("q_id"), col("node"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr(VectorQueries.dotOrdExpr("qe", "ce"))).as("d2"))
    val wQ = Window.partitionBy("q_id")
    scored
      .withColumn("n_scored", count(lit(1)).over(wQ))
      .withColumn("rk",
        row_number().over(wQ.orderBy(col("d2"), col("node"))).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "node", "d2", "n_scored")
  }

  /** One audited serve sweep: score each probe against every member of
    * its `nprobes.max` nearest cells ONCE (cell rank attached), then
    * read each sweep point `p` off the same scored frame by filtering
    * `prank <= p` — recall/top-1 vs the exact brute-force top-`rk`, and
    * the honest per-probe serving cost (`n_scored`). Returns one row per
    * sweep point: (nprobe, recall_k, top1, mean_scored).
    */
  def ivfSweepAudit(en: DataFrame, cent: DataFrame, nprobes: Seq[Int],
                    rk: Int, nProbes: Int = 32): Seq[(Int, Double, Double, Double)] = {
    require(nprobes.nonEmpty)
    graft.functions.Kernels.register(en.sparkSession)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pmax = nprobes.max
    // corpus side: one assignment pass (nearest cell only)
    val asg = ShardedGraphBuild.assignOrd(
        en.select("vec_id", "embedding"), cent)
      .select(col("vec_id").as("node"), col("cell").as("ncell"))
    val cands = en.select(col("vec_id").as("node"), col("embedding").as("ce"),
        col("n2").as("cn2"))
      .join(asg, "node")
    // probe side: ranked top-pmax cells, exploded with their rank
    val probes = en.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("n2").as("qn2"))
    val pcells = probeCells(
        probes.withColumnRenamed("qe", "embedding"), cent, pmax)
      .select(col("q_id"), col("embedding").as("qe"), col("qn2"),
        posexplode(col("pcells")).as(Seq("p0", "pcell")))
      .withColumn("prank", col("p0") + 1).drop("p0")
    val scored = broadcast(pcells)
      .join(cands, col("ncell") === col("pcell") && col("node") =!= col("q_id"))
      .select(col("q_id"), col("prank"), col("node"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr(VectorQueries.dotOrdExpr("qe", "ce"))).as("d2"))
      .persist(lvl)
    // the exact meter: brute-force top-rk per probe over the full corpus
    val exact = broadcast(probes)
      .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr(VectorQueries.dotOrdExpr("qe", "ce"))).as("d2"))
      .withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
      .filter(col("re") <= rk)
      .persist(lvl)
    exact.count() // materialize the meter once for the whole sweep
    val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
    val out = nprobes.sorted.map { p =>
      val vis = scored.filter(col("prank") <= p)
        .groupBy("q_id", "node").agg(min(col("d2")).as("d2"))
      val chosen = vis.withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= rk)
      val nsc = vis.groupBy("q_id").agg(count(lit(1)).as("n_scored"))
      val hits = exact.select(col("q_id"), col("c_id"))
        .join(chosen.select(col("q_id"), col("node").as("c_id")),
          Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      val e1 = exact.filter(col("re") === 1)
        .select(col("q_id"), col("c_id").as("exact_top1"))
      val g1 = chosen.filter(col("rk") === 1)
        .select(col("q_id"), col("node").as("ivf_top1"))
      // left-join candidates onto the FULL probe set (e1 — every probe
      // has an exact top-1): a probe whose probed cells are empty must
      // count as recall 0 / top1 0 / n_scored 0, not vanish from the
      // averages and inflate them on sparse or singleton-cell corpora.
      val rows = e1.join(g1, Seq("q_id"), "left").join(nsc, Seq("q_id"), "left")
        .join(hits, Seq("q_id"), "left")
        .select(
          (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(rk)).as("recall_k"),
          coalesce((col("ivf_top1") === col("exact_top1")).cast("double"),
            lit(0.0)).as("top1"),
          coalesce(col("n_scored"), lit(0L)).cast("double"))
        .collect()
      val m = rows.length.max(1).toDouble
      (p, rows.map(_.getDouble(0)).sum / m, rows.map(_.getDouble(1)).sum / m,
        rows.map(_.getDouble(2)).sum / m)
    }
    scored.unpersist(); exact.unpersist()
    out
  }
}

/** Receipt main for the IVF multi-probe serve sweep.
  *
  * Usage:
  *   sbt "runMain graft.vec.IvfSweepProbe <embeddingsDir> \
  *        [coarseK=256] [nprobes=1,2,4,8] [rk=6] [lloydRounds=2]"
  *
  * Prints one JSON line: corpus size, codebook size, centroid wall, and
  * per-sweep-point recall@rk / top-1 / mean-scored / scored fraction.
  * Run on BOTH 1000× corpora (shared-label and percopy-label) — the
  * pair of receipts is the measured statement of how serving recall is
  * geometry-bounded (see [[IvfServe]]).
  */
object IvfSweepProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: IvfSweepProbe <embeddingsDir> [coarseK] [nprobes] [rk] [lloydRounds]")
    val dir = args(0)
    val coarseK = if (args.length > 1) args(1).toInt else 256
    val nprobes = (if (args.length > 2) args(2) else "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val rk = if (args.length > 3) args(3).toInt else 6
    val lloyd = if (args.length > 4) args(4).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession(cpus)

    val cl = VectorQueries.clEn(spark, dir)
    val n = cl.count()
    val t0 = System.nanoTime()
    val cent = ShardedGraphBuild.coarseCentroids(
      cl, coarseK, math.max(1, (n / 100000L).toInt), lloyd)
    val tCent = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val sweep = IvfServe.ivfSweepAudit(cl, cent, nprobes, rk)
    val tSweep = (System.nanoTime() - t1) / 1e9
    val pts = sweep.map { case (p, rec, t1m, sc) =>
      f"""{"nprobe":$p,"recall_at_$rk":$rec%.4f,"top1":$t1m%.4f,""" +
        f""""mean_scored":$sc%.1f,"scored_frac":${sc / n}%.5f}"""
    }.mkString("[", ",", "]")
    println(f"""{"probe":"ivf_sweep","dir":"$dir","n":$n,""" +
      f""""coarse_k":$coarseK,"rk":$rk,"centroid_sec":$tCent%.1f,""" +
      f""""sweep_sec":$tSweep%.1f,"points":$pts}""")
    spark.stop()
  }
}

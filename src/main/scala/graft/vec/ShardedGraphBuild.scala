package graft.vec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-sharded NN-descent graph build — the extreme-scale (1000×-corpus,
  * 2 M vector) path the plain [[VectorQueries.buildNdEdges]] build can't
  * afford. Three changes, each attacking one term of the plain build's
  * cost:
  *
  *   1. '''Coarse-cell sharded init''' (the IVF idea, on the q54
  *      machinery): vectors are assigned to ≤ 256 learned k-means cells
  *      by a literal-centroid projection (zero shuffle), and each node's
  *      initial candidate draws come from ITS OWN CELL — geometrically
  *      close by construction — instead of uniformly across the corpus.
  *      Random-init NN-descent spends its first rounds just recovering
  *      locality; in-cell init starts there, so the law's round count
  *      converges at far lower proposal budgets.
  *   2. '''Cross-cell boundary stitch''': every node also draws `kAlt`
  *      candidates from its RUNNER-UP cell (the 2nd-nearest centroid —
  *      exactly the nodes for which the cell boundary cuts through their
  *      true neighborhood). Neighbor-of-neighbor rounds then propagate
  *      these seam edges, so the final graph is NOT a disjoint union of
  *      per-cell islands.
  *   3. '''Deterministic proposal sampling''' (the ρ-sampling of Dong et
  *      al.'s original NN-descent, WWW 2011 §2.3): each refinement round
  *      samples ≤ `sample` adjacency rows per node (48-bit md5 rank —
  *      portable, partition-invariant) before the pivot-local self-join,
  *      bounding the round at O(N·sample²) proposals instead of
  *      O(N·(2·degree)²). At the 1000× operating point (degree 34) that
  *      is a ~18× proposal cut per round.
  *
  * Everything is hash-derived and ordered-double-fold scored, so the
  * built graph — like the q160 graph — is bit-identical across engines,
  * partitionings and reruns; the spec pins exact recall values rather
  * than statistical floors.
  *
  * Scale shape: the only driver-side data are the ≤ 256 centroids and
  * the ≤ 256-row cell-size map. Per round: one O(N·degree) adjacency
  * shuffle keyed by src (the sampling window), one O(N·sample)
  * embedding-attach join, one O(N·sample²) proposal exchange carrying 3
  * scalars per row, one per-node top-K window. Never all-pairs; no
  * data-sized collect.
  *
  * No reference analog: the reference toolkit (pandas
  * microstructure metrics) has no vector-similarity surface —
  * this is the SURVEY.md LLM-pipeline extension, the sharded distributed
  * graph build a 100 TB embedding corpus requires.
  */
object ShardedGraphBuild {

  /** Driver-bounded codebook ceiling, shared by [[assignOrd]],
    * [[coarseCentroids]] and [[IvfServe.probeCells]]. The codebook is a
    * LITERAL projection (never a shuffle), so the bound is what keeps
    * it driver/codegen-safe, not a fixed magic size: 1024 cells × 64
    * dims ≈ 0.5 MB of constant-folded array literals. Raised from 256
    * in round 17 — IVF cell occupancy is N/K, and the 10 M rung showed
    * K must grow with the corpus (256 cells → 39 k rows/cell → 3.2 %
    * scored for recall ≥ 0.99; 512 cells restores the 5 M operating
    * point). At 10⁹+ rows the codebook graduates from literals to a
    * small broadcast table; within this bound the literal form wins
    * (zero exchange, whole-stage codegen).
    */
  private[vec] val MaxCodebook = 1024

  /** 48-bit md5 hash of `tag ∥ a ∥ '#' ∥ b` — the catalog's portable
    * deterministic hash (the [[VectorQueries.initPairsOver]] fold).
    */
  private def h48(tag: String, a: Column, b: Column): Column =
    conv(substring(md5(concat(lit(tag), a.cast("string"), lit("#"),
      b.cast("string")).cast("binary")), 1, 12), 16, 10).cast("long")

  /** Nearest (+ optional runner-up) centroid ids as a PURE PROJECTION
    * over ≤ 256 literal centroids — the [[VectorQueries.withCell]]
    * shape, but scored with the compiled ordered-double kernel
    * (`ord_dot`) instead of the exact-decimal one: the sharded build is
    * audited by recall, not hash-matched to a DuckDB mirror, and the
    * double kernel is ~10× cheaper on the 2 M-row assignment pass.
    * Ties (equal d2) break toward the smaller cid via the struct's
    * lexicographic order; `array_sort` over the K candidate structs
    * yields best and runner-up in one pass.
    */
  private[graft] def assignOrd(emb: DataFrame, cent: DataFrame,
                               second: Boolean = false): DataFrame = {
    val cs = cent.select("cid", "cvec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    require(cs.nonEmpty, "assignOrd needs at least one centroid")
    require(cs.length <= MaxCodebook,
      s"assignOrd is for driver-bounded codebooks, got ${cs.length}")
    val cands = cs.map { case (cid, cvec) =>
      // centroid norm on the driver (K scalars) — deterministic left fold
      val cn2 = cvec.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        (lit(cn2) - lit(2.0) * call_function("ord_dot", col("embedding"),
          array(cvec.map(lit(_)): _*))).as("d2"),
        lit(cid).as("cid"))
    }
    if (cs.length == 1) {
      // a 1-centroid codebook has no runner-up: the stitch degenerates
      // to extra in-cell draws, which is the correct limit
      val w = emb.withColumn("cell", lit(cs.head._1))
      if (second) w.withColumn("cell2", col("cell")) else w
    } else if (!second) {
      emb.withColumn("cell", least(cands: _*).getField("cid"))
    } else {
      val sorted = array_sort(array(cands: _*))
      emb.withColumn("_sc", sorted)
        .withColumn("cell", element_at(col("_sc"), 1).getField("cid"))
        .withColumn("cell2", element_at(col("_sc"), 2).getField("cid"))
        .drop("_sc")
    }
  }

  /** Coarse centroids trained on a deterministic hash-sample (standard
    * IVF practice — centroids need the corpus's geometry, not its
    * cardinality): seeds are the `k` smallest md5("sgc-seed#" ∥ vec_id)
    * rows (distributed top-K, no global shuffle), then `lloydRounds`
    * Lloyd iterations over the 1-in-`sampleMod` hash-sample only, means
    * via the exact-decimal [[VectorQueries.lloydMeans]]. Returns
    * (cid, cvec, cnorm2), K ≤ 256 rows.
    */
  def coarseCentroids(en: DataFrame, k: Int, sampleMod: Int,
                      lloydRounds: Int): DataFrame = {
    require(k >= 1 && k <= MaxCodebook,
      s"coarse codebook must be 1..$MaxCodebook, got $k")
    val s = en.sparkSession
    graft.functions.Kernels.register(s)
    import s.implicits._
    val sample = (if (sampleMod <= 1) en
      else en.filter(h48("sgs#", col("vec_id"), lit(0)) % sampleMod === 0))
      .select(col("vec_id"), col("embedding"))
    val seeds = sample
      .withColumn("h", md5(concat(lit("sgc-seed#"),
        col("vec_id").cast("string")).cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    require(seeds.nonEmpty, "coarseCentroids: empty embeddings sample")
    val dim = seeds.head._2.length
    var cent = seeds.toDF("cid", "cvec")
    for (_ <- 1 to lloydRounds)
      cent = VectorQueries.lloydMeans(assignOrd(sample, cent), dim)
    cent
  }

  /** The sharded build: in-cell + runner-up-cell deterministic init,
    * then `rounds` sampled NN-descent refinements over the union.
    * Returns the directed (src, nbr, d2) graph, ≤ `k` out-edges per
    * node, reliably checkpointed (the [[VectorQueries.buildNdEdges]]
    * lineage contract).
    *
    * @param en     (vec_id, embedding, n2) — [[VectorQueries.clEn]] or
    *               any frame with ordered-fold norms attached
    * @param cent   coarse codebook (cid, cvec[, cnorm2]), ≤ 256 rows
    * @param k      graph out-degree
    * @param kAlt   boundary-stitch draws into the runner-up cell
    * @param rounds sampled refinement rounds
    * @param sample per-node adjacency sample size per round (Dong's ρ·K)
    */
  def buildSharded(en: DataFrame, cent: DataFrame, k: Int, kAlt: Int,
                   rounds: Int, sample: Int): DataFrame = {
    val s = en.sparkSession
    graft.functions.Kernels.register(s)
    VectorQueries.ensureCkptDir(s)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val assigned = assignOrd(en.select("vec_id", "embedding"), cent, second = true)

    // in-cell contiguous index (r ∈ [0, cellSize)): the draw target
    // space. One window per cell — ≤ 256 partitions, each a linear pass.
    val idx = assigned
      .select(col("vec_id"), col("cell"), col("cell2"))
      .withColumn("r",
        row_number().over(Window.partitionBy("cell").orderBy("vec_id"))
          .cast("long") - 1)
      .persist(lvl)

    // cell sizes as a ≤ 256-entry literal map (driver-bounded by the
    // codebook contract) — draws modulo their TARGET cell's size
    val sz = idx.groupBy("cell").agg(count(lit(1)).as("csz")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val szMap = map(sz.flatMap { case (c, n) => Seq(lit(c), lit(n)) }: _*)

    def draws(tag: String, target: Column, nDraws: Int): DataFrame =
      idx.select(col("vec_id").as("src"), target.as("tc"))
        // try_element_at, not element_at: ANSI mode is ON and a
        // runner-up cell can be EMPTY (no vector won that centroid) —
        // the lookup must yield null-and-drop, not MAP_KEY_DOES_NOT_EXIST
        .withColumn("csz", try_element_at(szMap, col("tc")))
        .filter(col("csz").isNotNull)
        .withColumn("j", explode(expr(s"sequence(1, $nDraws)")))
        .withColumn("rr", h48(tag, col("src"), col("j")) % col("csz"))
        .select("src", "tc", "rr")

    val inDraws = draws("sgi#", col("cell"), k)
    val pairs = (if (kAlt > 0) inDraws.union(draws("sga#", col("cell2"), kAlt))
                 else inDraws)
      .join(idx.select(col("cell").as("tc"), col("r").as("rr"),
        col("vec_id").as("nbr")), Seq("tc", "rr"))
      .select("src", "nbr")
      .filter(col("nbr") =!= col("src"))
    val init = VectorQueries.dedupBySrc(pairs)
    val edges = refine(en, init, k, rounds, sample)
    idx.unpersist()
    edges
  }

  /** The sampled NN-descent refinement loop over an arbitrary init pair
    * frame — the tail of [[buildSharded]], factored out so alternative
    * init strategies ([[buildLshInit]]) share it verbatim. Scores the
    * init exactly, keeps top-`k` per node, then `rounds` ρ-sampled
    * neighbor-of-neighbor rounds; checkpoints per generation.
    */
  private[graft] def refine(en: DataFrame, init: DataFrame, k: Int,
                            rounds: Int, sample: Int): DataFrame = {
    // exact squared L2 over a (src, nbr) pair frame: two linear hash
    // joins on vec_id, ordered-fold dots (the buildNdEdges recipe)
    def withD2(p: DataFrame): DataFrame =
      p.join(en.select(col("vec_id").as("src"), col("embedding").as("ae"),
          col("n2").as("an2")), "src")
        .join(en.select(col("vec_id").as("nbr"), col("embedding").as("be"),
          col("n2").as("bn2")), "nbr")
        .select(col("src"), col("nbr"),
          (col("an2") + col("bn2") -
            lit(2.0) * expr(VectorQueries.dotOrdExpr("ae", "be"))).as("d2"))

    val wK = Window.partitionBy("src").orderBy(col("d2"), col("nbr"))
    // checkpoint per generation — truncates the multiply-referenced
    // round lineage (the buildNdEdges/ConnectedComponents contract)
    var edges = withD2(init)
      .withColumn("rn", row_number().over(wK)).filter(col("rn") <= k)
      .drop("rn").checkpoint()

    for (r <- 1 to rounds) {
      val adj = edges.select("src", "nbr")
        .union(edges.select(col("nbr").as("src"), col("src").as("nbr")))
      // deterministic ρ-sample: md5 rank per node, fresh tag per round
      val wS = Window.partitionBy("src").orderBy(col("hs"), col("nbr"))
      val sampled = adj
        .withColumn("hs", h48(s"sgr$r#", col("src"), col("nbr")))
        .withColumn("rs", row_number().over(wS)).filter(col("rs") <= sample)
        .select("src", "nbr")
      // pivot-local scoring (the buildNdEdges shape): embeddings attach
      // to the O(N·sample) adjacency, only d2 scalars ride the
      // O(N·sample²) proposal exchange
      val adjE = sampled.join(en.select(col("vec_id").as("nbr"),
        col("embedding").as("ne"), col("n2").as("nn2")), "nbr")
      val prop = adjE.as("x")
        .join(adjE.as("y"),
          col("x.src") === col("y.src") && col("x.nbr") =!= col("y.nbr"))
        .select(col("x.nbr").as("src"), col("y.nbr").as("nbr"),
          (col("x.nn2") + col("y.nn2") -
            lit(2.0) * expr(VectorQueries.dotOrdExpr("x.ne", "y.ne"))).as("d2"))
        .filter(col("src") =!= col("nbr"))
      edges = prop.union(edges.select("src", "nbr", "d2"))
        .groupBy("src", "nbr").agg(min(col("d2")).as("d2"))
        .withColumn("rn", row_number().over(wK)).filter(col("rn") <= k)
        .drop("rn").checkpoint()
    }
    edges
  }

  /** LSH-bucket deterministic init pairs — the init granularity fix the
    * percopy 2 M receipt asked for: in-cell random draws at ~8 k-point
    * coarse cells almost never land inside a ~200-point true
    * neighborhood (expected ≈ k·cluster/cell ≈ 0.4 draws), and sampled
    * NN-descent cannot recover from a near-empty start
    * (graph_recall 0.068, receipts/sharded_build_percopy_2m_r15.json).
    * A `bits`-bit random-hyperplane band code (the q72 encoder) buckets
    * the corpus at ~N/2^bits granularity — 16 bits ⇒ ~30-point buckets
    * at 2 M — and same-bucket nodes are geometrically close w.h.p., so
    * the init starts INSIDE neighborhoods. Each node pairs with its `j`
    * window-successors per (band, code) bucket, no wraparound — the
    * last `j` rows of a bucket receive fewer forward init draws, which
    * the symmetric union below and the refinement rounds absorb (rank
    * by the portable 48-bit hash; bucket capped at `cap`, the q48
    * hot-bucket guard): O(N·bands·j) edges, never bucket-quadratic.
    */
  private[graft] def lshInitPairs(en: DataFrame, bands: Int, bits: Int,
                                  j: Int, cap: Int): DataFrame = {
    val codes = en.select(col("vec_id"),
      posexplode(expr(s"lsh_band_codes(embedding, $bands, $bits)"))
        .as(Seq("band", "code")))
    val w = Window.partitionBy("band", "code").orderBy(col("hs"), col("vec_id"))
    val ranked = codes
      .withColumn("hs", h48("sgl#", col("vec_id"), col("band")))
      .withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= cap)
      .select("band", "code", "r", "vec_id")
    val pairs = (1 to j).map { d =>
      ranked.select(col("band"), col("code"), (col("r") + d).as("r"),
          col("vec_id").as("src"))
        .join(ranked.select(col("band"), col("code"), col("r"),
          col("vec_id").as("nbr")), Seq("band", "code", "r"))
        .select("src", "nbr")
    }.reduce(_ union _)
    val sym = pairs
      .union(pairs.select(col("nbr").as("src"), col("src").as("nbr")))
      .filter(col("src") =!= col("nbr"))
    VectorQueries.dedupBySrc(sym)
  }

  /** The LSH-init sharded build: [[lshInitPairs]] ∪ the runner-up-cell
    * boundary stitch (kept for cross-cell navigability), refined by the
    * same sampled NN-descent loop as [[buildSharded]].
    */
  def buildLshInit(en: DataFrame, cent: DataFrame, k: Int, kAlt: Int,
                   rounds: Int, sample: Int, bands: Int = 4,
                   bits: Int = 16, j: Int = 4, cap: Int = 256): DataFrame = {
    val s = en.sparkSession
    graft.functions.Kernels.register(s)
    VectorQueries.ensureCkptDir(s)
    val lshPairs = lshInitPairs(en, bands, bits, j, cap)
    var idxToFree: Option[DataFrame] = None
    val init =
      if (kAlt <= 0) lshPairs
      else {
        // runner-up-cell stitch draws (the buildSharded leg, verbatim)
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val assigned = assignOrd(en.select("vec_id", "embedding"), cent,
          second = true)
        val idx = assigned
          .select(col("vec_id"), col("cell"), col("cell2"))
          .withColumn("r",
            row_number().over(Window.partitionBy("cell").orderBy("vec_id"))
              .cast("long") - 1)
          .persist(lvl)
        val sz = idx.groupBy("cell").agg(count(lit(1)).as("csz")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val szMap = map(sz.flatMap { case (c, n) => Seq(lit(c), lit(n)) }: _*)
        val alt = idx.select(col("vec_id").as("src"), col("cell2").as("tc"))
          .withColumn("csz", try_element_at(szMap, col("tc")))
          .filter(col("csz").isNotNull)
          .withColumn("jd", explode(expr(s"sequence(1, $kAlt)")))
          .withColumn("rr", h48("sga#", col("src"), col("jd")) % col("csz"))
          .join(idx.select(col("cell").as("tc"), col("r").as("rr"),
            col("vec_id").as("nbr")), Seq("tc", "rr"))
          .select("src", "nbr")
          .filter(col("nbr") =!= col("src"))
        idxToFree = Some(idx)
        VectorQueries.dedupBySrc(lshPairs.union(alt))
      }
    val edges = refine(en, init, k, rounds, sample)
    idxToFree.foreach(_.unpersist())
    edges
  }

  /** Graph recall diagnostic: what fraction of each probe's EXACT top-k
    * neighbors (brute force over the full corpus — the meter, bounded by
    * the ≤ nProbes broadcast) appear among its OUT-edges in `edges`.
    * Separates BUILD quality (is the neighborhood in the graph at all?)
    * from SERVING exploration (does the beam find it?) — when serve
    * recall is low, this is the first question.
    */
  def graphRecall(en: DataFrame, edges: DataFrame, nProbes: Int,
                  k: Int): DataFrame = {
    val probes = en.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("n2").as("qn2"))
    val exact = broadcast(probes)
      .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr(VectorQueries.dotOrdExpr("qe", "ce"))).as("d2"))
      .withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
      .filter(col("re") <= k)
    val hits = exact.select(col("q_id"), col("c_id"))
      .join(edges.select(col("src").as("q_id"), col("nbr").as("c_id")),
        Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    probes.select("q_id").join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k))
          .as("graph_recall"))
  }

  /** Serving graph: refined sharded edges ∪ `kRand` global random links
    * per node — the q168 recipe; the random links are the small-world
    * ingredient that keeps a sharded graph navigable ACROSS cells from a
    * fixed entry point.
    */
  def servingGraph(en: DataFrame, edges: DataFrame, n: Long,
                   kRand: Int): DataFrame =
    VectorQueries.dedupBySrc(edges.select("src", "nbr")
        .union(VectorQueries.initPairsOver(en, n, kRand)))
      .checkpoint()

  /** Hybrid serve audit — beam routing ∪ exhaustive scan of each probe's
    * OWN coarse cell and runner-up cell (the q44/q52 IVF probe, SPANN/
    * DiskANN-style): on geometry whose IN-cluster structure is
    * high-intrinsic-dimension (distance concentration — the clustered
    * corpus is uniform inside each label cluster), graph edges alone
    * cannot hold exact-top-k recall at ~1 % visited; the 2-probe cell
    * scan restores LOCAL completeness exactly (every true neighbor
    * inside the probe's cell or runner-up is scored) while staying
    * sublinear: ~2·N/K extra candidates per query, independent of hops.
    * Returns the clAudit frame plus `n_scored` (beam-visited ∪
    * cell-scanned — the true per-query serving cost).
    */
  def hybridAudit(en: DataFrame, edges: DataFrame, cent: DataFrame,
                  beam: Int, hops: Int, rk: Int,
                  nProbes: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.Kernels.register(en.sparkSession)
    val asg = assignOrd(en.select("vec_id", "embedding"), cent, second = true)
      .select("vec_id", "cell", "cell2")
    val lo2 = en.select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0))
    require(lo2.length == 2, "hybrid audit needs >= 2 embeddings")
    val probes = en.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("n2").as("qn2"))
    val pcells = probes.join(asg.select(col("vec_id").as("q_id"),
      col("cell").as("pcell"), col("cell2").as("pcell2")), "q_id")
    // IVF leg: score every member of the probe's cell ∪ runner-up cell
    val ivf = broadcast(pcells)
      .join(en.join(asg, "vec_id")
          .select(col("vec_id").as("node"), col("cell").as("ncell"),
            col("embedding").as("ce"), col("n2").as("cn2")),
        (col("ncell") === col("pcell") || col("ncell") === col("pcell2")) &&
          col("node") =!= col("q_id"))
      .select(col("q_id"), col("node"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr(VectorQueries.dotOrdExpr("qe", "ce"))).as("d2"))
    // beam leg: the q168 serving traversal over the same graph
    val beamV = VectorQueries.beamVisited(probes, en, edges,
      lo2(0), lo2(1), beam, hops)
    val visited = beamV.union(ivf)
      .groupBy("q_id", "node").agg(min(col("d2")).as("d2"))
    val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
    val chosen = visited.withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= rk).cache()
    val nsc = visited.groupBy("q_id").agg(count(lit(1)).as("n_scored"))
    val exact = broadcast(probes)
      .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr(VectorQueries.dotOrdExpr("qe", "ce"))).as("d2"))
      .withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
      .filter(col("re") <= rk).cache()
    val hits = exact.select(col("q_id"), col("c_id"))
      .join(chosen.select(col("q_id"), col("node").as("c_id")), Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    val e1 = exact.filter(col("re") === 1)
      .select(col("q_id"), col("c_id").as("exact_top1"))
    val g1 = chosen.filter(col("rk") === 1)
      .select(col("q_id"), col("node").as("hybrid_top1"))
    e1.join(g1, "q_id").join(nsc, "q_id").join(hits, Seq("q_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("q_id"), col("exact_top1"), col("hybrid_top1"),
        (col("hybrid_top1") === col("exact_top1")).cast("int").as("top1_match"),
        col("n_hit"),
        (col("n_hit").cast("double") / lit(rk)).as("recall_k"),
        col("n_scored"))
  }
}

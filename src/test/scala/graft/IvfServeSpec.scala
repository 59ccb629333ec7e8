package graft

import graft.vec.{IvfServe, ShardedGraphBuild, VectorQueries}
import org.apache.spark.sql.functions._

/** Multi-probe IVF serving ([[graft.vec.IvfServe]]): the nprobe
  * generalization of the assignOrd best/runner-up pair, and the audited
  * sweep behind the round-15 2 M-vector serving receipts.
  *
  * The load-bearing oracle is COMPLETENESS: probing all K cells scans
  * the whole corpus, so recall@k must be exactly 1 — the sweep collapses
  * to brute force by construction, no statistical floor needed. The
  * remaining cases pin ordering consistency with assignOrd, recall
  * monotonicity in nprobe, cost monotonicity, and partition invariance.
  */
class IvfServeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def cl = VectorQueries.clEn(spark, dir)

  private lazy val cent = ShardedGraphBuild.coarseCentroids(cl, 8, 1, 2)

  test("probeCells(2) agrees with assignOrd best + runner-up") {
    val pc = IvfServe.probeCells(cl.select("vec_id", "embedding"), cent, 2)
      .select(col("vec_id"), element_at(col("pcells"), 1).as("c1"),
        element_at(col("pcells"), 2).as("c2"))
    val ao = ShardedGraphBuild.assignOrd(
      cl.select("vec_id", "embedding"), cent, second = true)
      .select("vec_id", "cell", "cell2")
    val diff = pc.join(ao, "vec_id")
      .filter(col("c1") =!= col("cell") || col("c2") =!= col("cell2"))
      .count()
    assert(diff === 0L, "probeCells top-2 must equal assignOrd (cell, cell2)")
  }

  test("completeness: nprobe = K serves the exact brute-force top-k") {
    val sweep = IvfServe.ivfSweepAudit(cl, cent, Seq(8), rk = 6, nProbes = 16)
    val (p, recall, top1, scored) = sweep.head
    assert(p === 8)
    assert(recall === 1.0, f"nprobe=K must be exact, got $recall%.4f")
    assert(top1 === 1.0)
    // every cell probed -> every other vector scored exactly once
    assert(scored === (cl.count() - 1).toDouble)
  }

  test("recall and cost are monotone in nprobe; partial probes are sublinear") {
    val sweep = IvfServe.ivfSweepAudit(cl, cent, Seq(1, 2, 4, 8), rk = 6, nProbes = 16)
    val recalls = sweep.map(_._2)
    val costs = sweep.map(_._4)
    assert(recalls === recalls.sorted, s"recall must not fall as nprobe grows: $recalls")
    assert(costs === costs.sorted, s"scored count must grow with nprobe: $costs")
    val n = cl.count().toDouble
    assert(costs.head < n / 2,
      f"nprobe=1 must score a strict corpus subset (${costs.head}%.0f of $n%.0f)")
    info(sweep.map { case (p, r, t, c) =>
      f"nprobe=$p recall@6=$r%.3f top1=$t%.3f scored=$c%.0f" }.mkString("; "))
  }

  test("sweep is partition-invariant") {
    val a = IvfServe.ivfSweepAudit(cl, cent, Seq(1, 4), rk = 6, nProbes = 16)
    val b = IvfServe.ivfSweepAudit(cl.repartition(7), cent, Seq(1, 4),
      rk = 6, nProbes = 16)
    assert(a === b)
  }

  test("serve at nprobe = K equals brute-force top-k, d2 bit-exact, full cost") {
    import org.apache.spark.sql.expressions.Window
    val k = 8 // codebook size above
    val probes = cl.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding"), col("n2"))
    val served = IvfServe.serve(cl, cent, probes, k, 5)
    val n = cl.count()
    assert(served.filter(col("n_scored") =!= (n - 1)).count() === 0L,
      "probing every cell must score every other vector")
    val brute = probes
      .select(col("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      .join(cl.select(col("vec_id").as("node"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("node") =!= col("q_id"))
      .select(col("q_id"), col("node"),
        (col("qn2") + col("cn2") -
          lit(2.0) * expr("ord_dot(qe, ce)")).as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("node"))).cast("long"))
      .filter(col("rk") <= 5)
    val s4 = served.select("q_id", "rk", "node", "d2")
    val b4 = brute.select("q_id", "rk", "node", "d2") // except is positional
    assert(s4.except(b4).isEmpty && b4.except(s4).isEmpty,
      "full-probe serve must be the exact brute-force top-k (d2 included)")
  }

  test("serve at nprobe = 1 stays inside the probe's best cell, honest cost") {
    val probes = cl.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding"), col("n2"))
    val served = IvfServe.serve(cl, cent, probes, 1, 5)
    val asg = ShardedGraphBuild.assignOrd(cl.select("vec_id", "embedding"), cent)
      .select(col("vec_id"), col("cell"))
    val bad = served
      .join(asg.select(col("vec_id").as("q_id"), col("cell").as("qcell")), "q_id")
      .join(asg.select(col("vec_id").as("node"), col("cell").as("ncell")), "node")
      .filter(col("qcell") =!= col("ncell")).count()
    assert(bad === 0L, "nprobe=1 neighbors must share the probe's best cell")
    // n_scored = best-cell population minus the probe itself
    val sz = asg.groupBy("cell").count()
    val wrongCost = served.select("q_id", "n_scored").distinct()
      .join(asg.select(col("vec_id").as("q_id"), col("cell")), "q_id")
      .join(sz, "cell")
      .filter(col("n_scored") =!= col("count") - 1).count()
    assert(wrongCost === 0L, "n_scored must equal the probed cell population - 1")
  }

  test("ivfSweepAudit counts empty-candidate probes as recall 0, not dropped") {
    val sess = spark
    import sess.implicits._
    // probe 0 sits alone in its cell: nprobe=1 gives it ZERO candidates.
    // Pre-fix, the inner joins dropped it and the averages read 1.0.
    val en = Seq(
      (0L, Seq(0.0, 0.0)),
      (1L, Seq(10.0, 10.0)),
      (2L, Seq(10.1, 10.0)),
      (3L, Seq(10.0, 10.1))
    ).toDF("vec_id", "embedding")
      .withColumn("n2", expr("aggregate(embedding, 0.0D, (acc, x) -> acc + x * x)"))
    val cent2 = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0))).toDF("cid", "cvec")
    val Seq((p, recall, top1, scored)) =
      IvfServe.ivfSweepAudit(en, cent2, Seq(1), rk = 1, nProbes = 2)
    assert(p === 1)
    assert(recall === 0.5, s"empty probe must average in as 0: got $recall")
    assert(top1 === 0.5)
    assert(scored === 1.0, "mean cost = (0 + 2) / 2 probes")
  }
}

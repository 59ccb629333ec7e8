package graft

import graft.vec.{IvfServe, ShardedGraphBuild}
import org.apache.spark.sql.functions._

/** Scale guard for the IVF serve's probe-side broadcast (round-16 watch
  * item): [[IvfServe.serve]] broadcasts the exploded probe×cell frame —
  * the right plan for the bounded probe batches serving sees — but past
  * [[IvfServe.ServeBcastMaxProbes]] it must degrade to a plain equi-join
  * instead of forcing a 10⁷-row embedding-carrying frame into a
  * driver-bounded broadcast exchange. The harness is the
  * DedupScaleGuardSpec convention: force the threshold BOTH ways on the
  * same inputs and require value-identical results, then pin the plan
  * shape on each side.
  */
class IvfServeGuardSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def fixtures() = {
    val en = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", expr("ord_dot(embedding, embedding)"))
    val cent = ShardedGraphBuild.coarseCentroids(
      en.select("vec_id", "embedding"), 4, 1, 2)
    val probes = en.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding"), col("n2"))
    (en, cent, probes)
  }

  test("broadcast and shuffle sides of the probe guard are value-identical") {
    val (en, cent, probes) = fixtures()
    val bcast = IvfServe.serve(en, cent, probes, 2, 6,
      bcastMaxProbes = Long.MaxValue)
    val shuffled = IvfServe.serve(en, cent, probes, 2, 6, bcastMaxProbes = 0L)
    assert(bcast.except(shuffled).isEmpty && shuffled.except(bcast).isEmpty,
      "the guard may change the JOIN STRATEGY only, never a value")
    assert(bcast.count() > 0, "empty serve proves nothing")
    spark.catalog.clearCache()
  }

  test("below the threshold the probe side is HINTED broadcast; above, unhinted") {
    val (en, cent, probes) = fixtures()
    def plans(bcastMax: Long): (String, String) = {
      val df = IvfServe.serve(en, cent, probes, 2, 6, bcastMaxProbes = bcastMax)
      (df.queryExecution.analyzed.toString,
        df.queryExecution.executedPlan.toString)
    }
    val (belowLogical, belowPhysical) = plans(Long.MaxValue)
    assert(belowLogical.contains("ResolvedHint"),
      "a bounded probe batch must carry the forced broadcast hint")
    assert(belowPhysical.contains("BroadcastHashJoin"),
      "... and execute as the broadcast build side (q183's pin)")
    val (aboveLogical, abovePhysical) = plans(0L)
    // past the wall the FORCED hint must be gone — at gate scale the
    // optimizer may still choose broadcast because the frame is tiny
    // (correct: the hint is what forces a 10⁷-row frame into a
    // driver-bounded exchange; statistics-driven selection never would)
    assert(!aboveLogical.contains("ResolvedHint"),
      "past the wall the serve must not FORCE the probe-side broadcast")
    assert(!abovePhysical.contains("CartesianProduct") &&
      !abovePhysical.contains("BroadcastNestedLoopJoin"),
      "degrading must keep the equi-join, not fall to all-pairs")
    spark.catalog.clearCache()
  }

  test("default threshold leaves the q183 catalog path on the broadcast plan") {
    assert(IvfServe.ServeBcastMaxProbes >= 100000L,
      "serving batches up to 1e5 probes must keep the map-side plan")
    val q183 = SparkEntry.queries("q183_ivf_multiprobe_serve")(spark, dir)
    assert(q183.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    spark.catalog.clearCache()
  }
}

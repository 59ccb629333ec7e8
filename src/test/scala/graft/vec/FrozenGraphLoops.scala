package graft.vec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference implementations for [[GraphLoopLayoutSpec]]: the beam
  * traversal and q165's label propagation as they were before each loop
  * step became one exchange, and q161 as it was before its top-1 window
  * and visited count became one aggregation, copied verbatim. The beam search checkpoints
  * a `groupBy` generation per hop, ranks it again in its own window
  * exchange for the frontier, and de-duplicates every expansion; label
  * propagation persists, counts and unpersists a label frame per round.
  * Their rows are the contract the one-exchange loops must reproduce.
  */
object FrozenGraphLoops {
  import VectorQueries.{beamVisited => liveBeamVisited, dotOrdExpr, ensureCkptDir,
    ndEn, ndGraph, NdProbes}

  /** q161 with its tail as two exchanges of the final generation: a
    * `row_number` window for the top-1 and a `groupBy` for the count.
    */
  def q161(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val en = ndEn(s, dir)
    val edges = ndGraph(s, dir)
    val lo2 = en.select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0))
    val probes = en.filter(col("vec_id") < NdProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val visited = liveBeamVisited(probes, en, edges, lo2(0), lo2(1))
    val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
    val best = visited
      .withColumn("rb", row_number().over(wB))
      .filter(col("rb") === 1)
      .select(col("q_id"), col("node").as("beam_top1"), col("d2").as("beam_d2"))
    val nvis = visited.groupBy("q_id").agg(count(lit(1)).as("n_visited"))
    val qx = en.filter(col("vec_id") < NdProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val exact1 = broadcast(qx)
      .join(en.select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("n2").as("cn2")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
      .withColumn("re", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("c_id"))))
      .filter(col("re") === 1)
      .select(col("q_id"), col("c_id").as("exact_top1"), col("d2").as("exact_d2"))
    exact1.join(best, "q_id").join(nvis, "q_id")
      .select(col("q_id"), col("exact_top1"), col("beam_top1"),
        (col("beam_top1") === col("exact_top1")).cast("int").as("top1_match"),
        col("n_visited"),
        when(col("exact_d2") > 0,
          floor(col("beam_d2") / col("exact_d2") * lit(1000.0)).cast("long"))
          .as("dist_ratio_permille"))
      .transform(graft.Q.presentSorted(_, "q_id"))
  }

  def beamVisited(probeEmb: DataFrame, enGraph: DataFrame,
                  edges: DataFrame, e0: Long, e1: Long,
                  beam: Int, hops: Int): DataFrame = {
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(probeEmb.select(col("q_id"), col("qe"), col("qn2")), "q_id")
        .join(enGraph.select(col("vec_id").as("node"), col("embedding").as("ce"),
          col("n2").as("cn2")), "node")
        .select(col("q_id"), col("node"),
          (col("qn2") + col("cn2") - lit(2.0) * expr(dotOrdExpr("qe", "ce"))).as("d2"))
    val wB = Window.partitionBy("q_id").orderBy(col("d2"), col("node"))
    ensureCkptDir(enGraph.sparkSession)
    var visited = score(probeEmb.select(col("q_id")).withColumn("node",
        when(col("q_id") === e0, lit(e1)).otherwise(lit(e0))))
      .checkpoint()
    var frontier = visited.select("q_id", "node")
    for (_ <- 1 to hops) {
      val expand = edges
        .join(broadcast(frontier.select(col("q_id"), col("node").as("src"))), "src")
        .select(col("q_id"), col("nbr").as("node"))
        .filter(col("node") =!= col("q_id"))
        .distinct()
      visited = visited.union(score(expand))
        .groupBy("q_id", "node").agg(min(col("d2")).as("d2"))
        .checkpoint() // eager: materializes AND truncates per hop
      frontier = visited
        .withColumn("rb", row_number().over(wB))
        .filter(col("rb") <= beam).select("q_id", "node")
    }
    visited
  }

  /** q165's body with its two memo reads as parameters: `edges` is the
    * graph, `en` the corpus whose ids seed the labels.
    */
  def labelPropagation(edges: DataFrame, en: DataFrame, rounds: Int): DataFrame = {
    val adj = edges.select("src", "nbr")
      .union(edges.select(col("nbr").as("src"), col("src").as("nbr")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = en.select(col("vec_id").as("node"), col("vec_id").as("lbl"))
    var prevGen: Option[DataFrame] = None
    for (_ <- 1 to rounds) {
      val next = adj
        .join(labels.select(col("node").as("nbr"), col("lbl")), "nbr")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("src").as("node"), col("m.lbl").as("lbl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one live generation: materialize, then drop the superseded one
      next.count()
      prevGen.foreach(_.unpersist())
      prevGen = Some(next)
      labels = next
    }
    // final labels are materialized; the adjacency has no further reader
    adj.unpersist()
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .transform(graft.Q.presentSorted(_, "community"))
  }
}

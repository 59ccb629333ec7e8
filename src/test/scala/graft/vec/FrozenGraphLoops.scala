package graft.vec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference implementations for [[GraphLoopLayoutSpec]]: the beam
  * traversal and q165's label propagation as they were before each loop
  * step became one exchange, copied verbatim. The beam search checkpoints
  * a `groupBy` generation per hop, ranks it again in its own window
  * exchange for the frontier, and de-duplicates every expansion; label
  * propagation persists, counts and unpersists a label frame per round.
  * Their rows are the contract the one-exchange loops must reproduce.
  */
object FrozenGraphLoops {
  import VectorQueries.{dotOrdExpr, ensureCkptDir}

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

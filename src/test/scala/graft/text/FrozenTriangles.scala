package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference implementation for `GraphLoopLayoutSpec`: q177's body as it
  * was before its group statistics became one aggregation, copied
  * verbatim with its two memo reads as parameters. It computes nodes,
  * edges, wedges and triangles in four `groupBy(g)` aggregations and
  * joins them three times.
  */
object FrozenTriangles {

  /** The frozen body over q177's own inputs on corpus `dir`. */
  def q177(s: SparkSession, dir: String): DataFrame =
    q177(TextQueries.dedupEdges(s, dir), TextQueries.dedupGroups(s, dir))

  def q177(edges: DataFrame, labels: DataFrame): DataFrame = {
    val esym = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = esym.groupBy("u").agg(count(lit(1)).as("deg"))
    // total (degree, id) order packed into one long join key: doc ids
    // and degrees both stay far below 1e8 at every tested scale
    val ok = deg.select(col("u").as("id"),
      (col("deg") * lit(100000000L) + col("u")).as("okey"))
    val o = edges
      .join(ok.select(col("id").as("id_a"), col("okey").as("ka")), "id_a")
      .join(ok.select(col("id").as("id_b"), col("okey").as("kb")), "id_b")
      .select(
        when(col("ka") < col("kb"), col("id_a")).otherwise(col("id_b")).as("src"),
        when(col("ka") < col("kb"), col("id_b")).otherwise(col("id_a")).as("dst"),
        greatest(col("ka"), col("kb")).as("kd"))
    val tri = o.as("x").join(o.as("y"),
        col("x.src") === col("y.src") && col("x.kd") < col("y.kd"))
      .select(col("x.dst").as("src"), col("y.dst").as("dst"))
      .join(o.select("src", "dst"), Seq("src", "dst"))
      .join(labels.select(col("doc_id").as("src"), col("comp").as("g")), "src")
      .groupBy("g").agg(count(lit(1)).as("n_triangles"))
    val wed = deg
      .join(labels.select(col("doc_id").as("u"), col("comp").as("g")), "u")
      .groupBy("g").agg(expr("sum(deg * (deg - 1) div 2)").as("n_wedges"))
    val nodes = labels.groupBy(col("comp").as("g"))
      .agg(count(lit(1)).as("n_nodes")).filter(col("n_nodes") >= 2)
    val edgeCnt = edges
      .join(labels.select(col("doc_id").as("id_a"), col("comp").as("g")), "id_a")
      .groupBy("g").agg(count(lit(1)).as("n_edges"))
    nodes.join(edgeCnt, "g")
      .join(tri, Seq("g"), "left").join(wed, Seq("g"), "left")
      .select(col("g").as("group_id"), col("n_nodes"), col("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        when(coalesce(col("n_wedges"), lit(0L)) > 0,
          expr("3000 * coalesce(n_triangles, 0) div n_wedges")).as("transitivity_permille"))
      .orderBy("group_id")
  }
}

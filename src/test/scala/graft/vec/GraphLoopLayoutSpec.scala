package graft.vec

import graft.SparkTestBase
import graft.text.{FrozenTriangles, TextQueries}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The one-exchange graph loops against verbatim copies of the loops
  * before them ([[FrozenGraphLoops]], [[graft.text.FrozenTriangles]]):
  * the beam traversal behind q161, q166, q168 and the sharded hybrid;
  * q161's one-aggregation tail; q165's label propagation; q177's group
  * statistics. Rows must be equal,
  * in order, at 1, 4 and 7 shuffle partitions, on the sf0.001 corpus and
  * on crafted in-repo corpora: tied distances, a node with no edge, a
  * node with no out-edge, neighbours drawn from two frontier nodes, the
  * probe that is the entry node, and a 2-node corpus.
  */
class GraphLoopLayoutSpec extends SparkTestBase {
  import VectorQueries._

  private val dir = "/root/testdata/sf0.001"

  private def sweep(body: Int => Unit): Unit =
    for (parts <- Seq(1, 4, 7)) withShufflePartitions(parts)(body(parts))

  /** A beam-search setting: probes (q_id, qe, qn2), the scored corpus,
    * the graph and its two smallest node ids.
    */
  private case class Beam(probes: DataFrame, en: DataFrame, edges: DataFrame,
                          e0: Long, e1: Long)

  private def beamOver(en: DataFrame, edges: DataFrame, probeIds: Column): Beam = {
    val lo2 = en.select("vec_id").orderBy("vec_id").limit(2).collect().map(_.getLong(0))
    Beam(en.filter(probeIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2")),
      en, edges, lo2(0), lo2(1))
  }

  private def assertSameBeam(label: String, b: Beam, beam: Int, hops: Int): Unit =
    assertSameRows(s"$label, beam $beam × $hops hops",
      beamVisited(b.probes, b.en, b.edges, b.e0, b.e1, beam, hops).orderBy("q_id", "node"),
      FrozenGraphLoops.beamVisited(b.probes, b.en, b.edges, b.e0, b.e1, beam, hops)
        .orderBy("q_id", "node"))

  // ------------------------------------------------------------ corpora

  private lazy val tmp = Files.createTempDirectory("graph-loops").toString

  /** Writes `rows` (vec_id, 4-dim embedding) as an embeddings table. */
  private def corpus(name: String, rows: Seq[(Long, Seq[Float])]): String = {
    import spark.implicits._
    val path = s"$tmp/$name"
    rows.map { case (id, e) => (id, e, (id % 3).toInt) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/embeddings.parquet")
    path
  }

  /** The 8 corners of a unit cube (4th dim 0), their mirror images (the
    * origin's is -0.0) and exact copies of two corners: many
    * (probe, node) pairs tie on d2, so the id tie-break decides.
    */
  private lazy val craftedDir = corpus("crafted", (0L until 16L).map { i =>
    val base = Seq(i % 2, (i / 2) % 2, (i / 4) % 2, 0L).map(_.toFloat)
    i -> (if (i >= 8) base.map(-_) else base)
  } :+ (16L -> Seq(0f, 0f, 0f, 0f)) :+ (17L -> Seq(1f, 0f, 0f, 0f)))

  private lazy val twoDir = corpus("two", Seq(0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f)))

  /** A hand-made directed graph over the crafted corpus: node 0 (the
    * entry) fans out to 1, 2 and 3, which all point at 4 (one neighbour
    * drawn three times); 5 has in-edges only; 6 points back at 0 (the
    * probe-is-the-node filter); 12 has no edge at all; 7–11, 13–15 and
    * 16–17 form cycles, which tie label votes.
    */
  private lazy val handEdges: DataFrame = {
    import spark.implicits._
    Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 0L, 2L -> 0L, 1L -> 4L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 3L -> 5L, 4L -> 6L, 6L -> 0L, 6L -> 7L, 7L -> 8L, 8L -> 9L, 9L -> 10L,
      10L -> 11L, 11L -> 7L, 8L -> 2L, 9L -> 1L, 13L -> 14L, 14L -> 15L, 15L -> 13L,
      16L -> 17L, 17L -> 16L)
      .toDF("src", "nbr")
  }

  // ------------------------------------------------------- beam search

  test("beam traversal equals the frozen one on the q161, q166 and q168 graphs at two settings each") {
    val en = ndEn(spark, dir)
    val n = en.count()
    val b = n * 9 / 10
    val baseEn = en.filter(col("vec_id") < b)
    val cl = clEn(spark, dir)
    val settings = Seq(
      ("q161", beamOver(en, ndGraph(spark, dir), col("vec_id") < NdProbes),
        Seq(BsBeam -> BsHops, 2 -> 5)),
      ("q166", beamOver(baseEn, buildEdgesOver(baseEn, b, NdRounds),
        col("vec_id") >= b && col("vec_id") < b + InsB), Seq(BsBeam -> BsHops, 6 -> 2)),
      ("q168", beamOver(cl, clGraph(spark, dir), col("vec_id") < NdProbes),
        Seq(ClBeam -> ClHops, 3 -> 6)))
    sweep { parts =>
      for ((name, setting, bh) <- settings; (beam, hops) <- bh)
        assertSameBeam(s"$name graph, $parts partitions", setting, beam, hops)
    }
  }

  test("beam traversal equals the frozen one on crafted graphs with ties, dead ends and the entry probe") {
    val crafted = ndEn(spark, craftedDir)
    val two = ndEn(spark, twoDir)
    val settings = Seq(
      "hand-made graph" -> beamOver(crafted, handEdges, col("vec_id") < 14),
      "crafted NN-descent graph" -> beamOver(crafted, ndGraph(spark, craftedDir), lit(true)),
      "2-node corpus" -> beamOver(two, ndGraph(spark, twoDir), lit(true)))
    // the hand-made graph reaches node 4 from three frontier nodes, and
    // the entry is a probe there
    val h = settings.head._2
    assert(h.e0 === 0L && h.probes.filter(col("q_id") === h.e0).count() === 1L)
    sweep { parts =>
      for ((name, setting) <- settings; (beam, hops) <- Seq(BsBeam -> BsHops, 1 -> 4, 3 -> 0))
        assertSameBeam(s"$name, $parts partitions", setting, beam, hops)
    }
  }

  test("q161 equals its frozen two-exchange tail on sf0.001 and the crafted corpora at 1/4/7 partitions") {
    sweep { parts =>
      for ((name, d) <- Seq("sf0.001" -> dir, "crafted corpus" -> craftedDir, "2-node corpus" -> twoDir))
        assertSameRows(s"q161 on the $name, $parts partitions",
          graft.SparkEntry.queries("q161_graph_beam_search")(spark, d),
          FrozenGraphLoops.q161(spark, d))
    }
  }

  // -------------------------------------------------- label propagation

  test("q165 equals the frozen label propagation at 1/4/7 partitions") {
    sweep { parts =>
      assertSameRows(s"q165 on sf0.001, $parts partitions",
        graft.SparkEntry.queries("q165_knn_label_propagation")(spark, dir),
        FrozenGraphLoops.labelPropagation(ndGraph(spark, dir), ndEn(spark, dir), LpRounds))
    }
  }

  test("label propagation equals the frozen one on crafted graphs") {
    val cases = Seq(
      "hand-made graph" -> (handEdges, ndEn(spark, craftedDir)),
      "crafted NN-descent graph" -> (ndGraph(spark, craftedDir), ndEn(spark, craftedDir)),
      "2-node corpus" -> (ndGraph(spark, twoDir), ndEn(spark, twoDir)))
    sweep { parts =>
      for ((name, (edges, en)) <- cases)
        assertSameRows(s"$name, $parts partitions",
          lpCommunities(edges).orderBy("community"),
          FrozenGraphLoops.labelPropagation(edges, en, LpRounds))
    }
  }

  // ------------------------------------------------------ group triangles

  test("q177 equals the frozen four-aggregation body at 1/4/7 partitions") {
    sweep { parts =>
      assertSameRows(s"q177 on sf0.001, $parts partitions",
        graft.SparkEntry.queries("q177_dup_graph_triangles")(spark, dir),
        FrozenTriangles.q177(spark, dir))
    }
  }

  test("group statistics equal the frozen body on a crafted graph of cliques, chains and a hub") {
    import spark.implicits._
    val pairs = Seq(
      1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L, // K4: 4 triangles
      10L -> 11L, 11L -> 12L, 10L -> 12L, 12L -> 13L,             // triangle with a tail
      20L -> 21L, 21L -> 22L, 22L -> 23L,                         // chain: wedges, no triangle
      30L -> 31L, 30L -> 32L, 30L -> 33L, 30L -> 34L, 30L -> 35L, 31L -> 32L, // hub
      40L -> 41L)                                                  // one edge
    val edges = pairs.toDF("id_a", "id_b")
    val comp = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
      13L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 40L -> 40L, 41L -> 40L,
      50L -> 50L, 51L -> 51L) ++ (30L to 35L).map(_ -> 30L)
    val labels = comp.toSeq.toDF("doc_id", "comp")
    sweep { parts =>
      val got = TextQueries.groupTriangles(edges, labels)
      assertSameRows(s"crafted graph, $parts partitions", got, FrozenTriangles.q177(edges, labels))
      assert(got.select("n_triangles").as[Long].collect().toSeq === Seq(4L, 1L, 0L, 1L, 0L))
    }
  }
}

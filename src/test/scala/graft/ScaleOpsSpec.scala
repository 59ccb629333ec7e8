package graft

import graft.rel.RelationalQueries
import graft.text.PipelineQueries
import org.apache.spark.sql.functions._

/** Scale-technique operators: contamination-span excision (q113),
  * zone-map layout planning (q115), and the hybrid hot/cold skew join
  * (q116). q113 and q115 are pinned against full pure-Scala recomputes
  * on the sf0.001 fixture; q116 against the plain single-join result
  * plus physical-plan assertions (hot path broadcasts, cold path
  * shuffles).
  */
class ScaleOpsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docRows = Tables(spark, dir, "documents")
    .select("doc_id", "text", "lang", "source", "n_chars").collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))

  // ------------------------------------------------------------- q113
  test("q113: span merge matches a pure-Scala interval union per doc") {
    def split(id: Long): String = {
      val h = (id * 2654435761L) % 1000
      if (h < 900) "train" else if (h < 950) "val" else "test"
    }
    def grams(t: String): Seq[(Int, String)] =
      if (t.length < 8) Seq.empty
      else (0 to t.length - 8).map(i => (i + 1, t.substring(i, i + 8)))
    val bench = docRows.filter(d => split(d._1) == "test")
      .flatMap(d => grams(d._2).map(_._2)).toSet
    val expected = docRows.filter(d => split(d._1) == "train").flatMap {
      case (id, text, _, _, nChars) =>
        val hits = grams(text).collect { case (p, g) if bench(g) => p.toLong }
        if (hits.isEmpty) None else {
          // interval union of [p, p+8)
          var spans = 0L; var covered = 0L
          var start = hits.head; var end = hits.head + 8
          hits.tail.foreach { p =>
            if (p > end) { spans += 1; covered += end - start; start = p; end = p + 8 }
            else end = math.max(end, p + 8)
          }
          spans += 1; covered += end - start
          Some((id, hits.length.toLong, spans, covered, covered * 1000 / nChars))
        }
    }.sortBy(_._1)
    val got = PipelineQueries.q113.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g === e) }
    assert(got.nonEmpty, "fixture corpus contains contaminated train docs")
  }

  // ------------------------------------------------------------- q115
  test("q115: block stats and skip counts match a pure-Scala zone map") {
    val layouts: Seq[(String, Seq[(Long, String, String, Long)] => Seq[(Long, String, String, Long)])] = Seq(
      "natural" -> (_.sortBy(_._1)),
      "by_lang" -> (_.sortBy(d => (d._2, d._1))),
      "by_length" -> (_.sortBy(d => (d._4, d._1))),
      "by_source" -> (_.sortBy(d => (d._3, d._1))))
    val rows = docRows.map { case (id, _, lang, src, nc) => (id, lang, src, nc) }.toSeq
    val expected = layouts.flatMap { case (lname, order) =>
      val blocks = order(rows).grouped(32).toSeq.map { blk =>
        (blk.map(_._2).min, blk.map(_._2).max, blk.map(_._4).min, blk.map(_._4).max, blk.size.toLong)
      }
      def mustScan(p: String, b: (String, String, Long, Long, Long)): Boolean = p match {
        case "p_lang_eq"      => !(b._1 > "de" || b._2 < "de")
        case "p_len_range"    => !(b._3 > 1000 || b._4 < 500)
        case "p_lang_and_len" => !(b._1 > "de" || b._2 < "de" || b._4 < 800)
      }
      Seq("p_lang_and_len", "p_lang_eq", "p_len_range").map { p =>
        val scanned = blocks.filter(mustScan(p, _))
        val total = blocks.map(_._5).sum
        (lname, p, blocks.size.toLong, (blocks.size - scanned.size).toLong,
          scanned.map(_._5).sum * 1000 / total)
      }
    }.sortBy(t => (t._1, t._2))
    val got = PipelineQueries.q115.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected)
  }

  test("q115: clustering by the predicate column actually helps") {
    val out = PipelineQueries.q115.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    // the layout sorted by lang must scan no more rows for the lang
    // predicate than the natural layout (that is the point of the tool)
    assert(out(("by_lang", "p_lang_eq")) <= out(("natural", "p_lang_eq")))
    assert(out(("by_length", "p_len_range")) <= out(("natural", "p_len_range")))
  }

  // ------------------------------------------------------------- q116
  test("q116: hybrid hot/cold union equals the plain single join") {
    val plain = {
      val li = Tables(spark, dir, "lineitem")
      val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          Exact.sumExactFast(col("l_quantity"), 2).as("sum_qty"),
          Exact.sumExactRFast(col("l_extendedprice") * (lit(1) - col("l_discount")), 4, 2).as("revenue"))
    }
    val hybrid = RelationalQueries.q116.run(spark, dir)
    assert(hybrid.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(hybrid).count() === 0)
  }

  test("q116: hot path broadcasts even at scale, cold path shuffles") {
    // autoBroadcastJoinThreshold = -1 simulates the 100 TB regime where
    // nothing auto-broadcasts: the EXPLICIT hints (semi/anti routing +
    // hot dim slice) must still broadcast, and the cold-path orders
    // join must fall back to a shuffle join — the plan this operator
    // exists to produce.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = RelationalQueries.q116.run(spark, dir).queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
        s"expected semi/anti routing + hot dim join to broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"cold path must stay a shuffle join:\n$p")
    } finally spark.conf.set(key, prev)
  }
}

package graft

import org.apache.spark.sql.functions._

/** exact_topk edge semantics beyond the q56 oracle: groups smaller than
  * k return everything, ties keep duplicate values, nulls are skipped,
  * and the partial/merge path (exercised by the shuffle) agrees with a
  * driver-side sort.
  */
class ExactTopKSpec extends SparkTestBase {

  test("exact_topk ≡ sort-desc-take-k on small groups, ties and nulls") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(11)
    val rows: Seq[(String, Option[Double])] =
      (0 until 500).map { i =>
        ("g" + (i % 7), if (i % 13 == 0) None else Some(rnd.nextInt(50).toDouble))
      } :+ ("lonely" -> Some(1.0))
    val df = rows.toDF("g", "v").repartition(8) // force partial buffers to merge
    val got = df.groupBy("g").agg(expr("exact_topk(v, 4)").as("tk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    val exp = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.flatMap(_._2).sortBy(-_).take(4).toSeq
    }
    assert(got.keySet === exp.keySet)
    exp.foreach { case (g, e) => assert(got(g) === e, s"group $g") }
    assert(got("lonely") === Seq(1.0), "group smaller than k returns all values")
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Dev profiling harness for q11's metric bundle: times the synthetic
  * book alone, then each metric column-group, then the full query —
  * pinpoints which projection group dominates. Run:
  * `sbt "Test/runMain graft.tools.ProfQ11 [sfDir]"`.
  */
object ProfQ11 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Tables.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    def t(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[prof] $name%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    import graft.book._
    val book = SyntheticBook.fromEvents(graft.Tables(spark, dir, "events"), 5)
    t("book only (warm)") { noop(book) }
    t("book only") { noop(book) }
    val bundle = BookMetrics.rowMetricsBundle(5).toMap
    bundle.keys.toSeq.sorted.foreach { n =>
      t(n) { noop(book.select(col("seq"), col("sym"), bundle(n).as(n))) }
    }
    val withSlopes = BookMetrics.withSlopeLayered(
      BookMetrics.withSlopeLayered(book, "bid", 5), "ask", 5)
    t("slopes layered") { noop(withSlopes.select("seq", "sym", "slope_bid", "slope_ask")) }
    val others = bundle -- Seq("slope_bid", "slope_ask")
    val allCols = withSlopes.withColumns(others)
      .select(Seq("seq", "sym").map(col) ++ BookMetrics.rowMetricsBundle(5).map(p => col(p._1)): _*)
    t("all metrics, no sort") { noop(allCols) }
    t("all metrics, no sort (2nd)") { noop(allCols) }
    t("all metrics + sort") { noop(allCols.orderBy("seq")) }
    t("full q11") {
      noop(graft.SparkEntry.catalog.find(_.name == "q11_book_row_metrics").get.run(spark, dir))
    }
    t("full q11 (2nd)") {
      noop(graft.SparkEntry.catalog.find(_.name == "q11_book_row_metrics").get.run(spark, dir))
    }
    println("[prof] ---- formatted plan ----")
    allCols.explain("formatted")
    spark.stop()
  }
}

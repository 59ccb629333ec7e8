package graft

import graft.jobs.PlotSeriesJob
import graft.streaming.Recorder
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** `PlotSeriesJob` on the single-sort layout against a verbatim copy of
  * the job before it ([[FrozenPlotSeriesJob]]): all four frames hold the
  * same rows in the same order, keyed and golden, at 1, 4 and 7 shuffle
  * partitions. Inputs are built in-repo: a multi-series synthesized book
  * with event-time ties, out-of-order stamps and NULL, zero, negative and
  * crossed mids, plus one-series and reduced-key schemas. An empty input
  * gives four empty frames with the same schemas.
  */
class PlotSeriesLayoutSpec extends SparkTestBase {

  private val depth = 5
  private val (rvWindow, corrWindow, tailN) = (5, 7, 9)

  /** Case name → parquet path. */
  private lazy val inputs: Seq[(String, String)] = {
    val dir = Files.createTempDirectory("plot-layout").toString
    val v = col("raw_nonce")
    // 6 series (3 exchanges × 2 symbols) of 70 rows; v ≡ s (mod 6) is series s
    val book = Recorder.synthesizeBook(spark.range(420).toDF("value"), depth)
      .withColumn("exchange_id", concat(lit("ex"), pmod(v, lit(3L)).cast("string")))
      // consecutive rows of a series share ts_ms (the _rid tie-break);
      // every 7th row is stamped a second early (event time ≠ input order)
      .withColumn("ts_ms", lit(1700000000000L) + (v / 12).cast("long") * 100 -
        when(pmod(v, lit(7L)) === 0, lit(1000L)).otherwise(lit(0L)))
      .withColumn("best_bid",
        when(v < 2 || pmod(v, lit(17L)) === 3, lit(null).cast("double")) // NULL mid
          .when(pmod(v, lit(23L)) === 5, -col("best_ask"))                // mid = 0
          .when(pmod(v, lit(29L)) === 11, -col("best_ask") * 3)           // mid < 0
          .when(pmod(v, lit(19L)) === 7, col("best_ask") + 0.05)          // crossed
          .otherwise(col("best_bid")))
    // a series shorter than the tail
    val short = Recorder.synthesizeBook(spark.range(tailN - 3).toDF("value"), depth)
      .withColumn("exchange_id", lit("short"))
    // 3 input partitions, each holding rows of every series
    val multi = book.unionByName(short).repartition(3, pmod(v, lit(5L)))
    val cases = Seq(
      "multi-series" -> multi,
      "one series" -> multi.filter(col("exchange_id") === "ex1" && col("symbol") === "SYN0"),
      "4 meta columns" -> multi.drop("exchange_id", "symbol", "book_level", "raw_nonce"),
      "no exchange_id" -> multi.drop("exchange_id"))
    cases.map { case (name, df) =>
      val path = s"$dir/${name.replace(' ', '_')}.parquet"
      df.write.mode("overwrite").parquet(path)
      name -> path
    }
  }

  test("all four frames equal the frozen job's in order, keyed and golden, at 1/4/7 partitions") {
    for (parts <- Seq(1, 4, 7)) withShufflePartitions(parts) {
      for ((name, path) <- inputs; golden <- Seq(false, true)) {
        val got = PlotSeriesJob.run(spark, path, depth, rvWindow, corrWindow, tailN, golden = golden)
        val want = FrozenPlotSeriesJob.run(spark, path, depth, rvWindow, corrWindow, tailN,
          golden = golden)
        val label = s"$name, golden=$golden, $parts shuffle partitions"
        assertSameRows(s"series: $label", got.series, want.series)
        assertSameRows(s"tail: $label", got.tail, want.tail)
        assertSameRows(s"depth curve: $label", got.depthCurve, want.depthCurve)
        assertSameRows(s"spread histogram: $label", got.spreadHist, want.spreadHist)
      }
    }
  }

  test("an empty input gives four empty frames with their schemas") {
    val path = Files.createTempDirectory("plot-empty").toString + "/empty.parquet"
    spark.read.parquet(inputs.head._2).limit(0).write.parquet(path)
    for (golden <- Seq(false, true)) {
      def run(p: String) = PlotSeriesJob.run(spark, p, depth, rvWindow, corrWindow, tailN,
        golden = golden)
      val (got, want) = (run(path), run(inputs.head._2))
      Seq("series" -> (got.series, want.series), "tail" -> (got.tail, want.tail),
        "depth curve" -> (got.depthCurve, want.depthCurve),
        "spread histogram" -> (got.spreadHist, want.spreadHist)).foreach { case (label, (g, w)) =>
        assert(g.schema === w.schema, s"$label, golden=$golden")
        assert(g.isEmpty, s"$label, golden=$golden")
      }
    }
  }

  test("the keyed series frame sorts once, after its one exchange") {
    val series = PlotSeriesJob.run(spark, inputs.head._2, depth, rvWindow, corrWindow, tailN).series
    series.collect()
    val plan = series.queryExecution.executedPlan
    assert(PlanNodes.collect(plan) { case s: SortExec => s }.size === 1)
    assert(PlanNodes.collect(plan) { case e: ShuffleExchangeExec => e }.size === 1)
  }
}

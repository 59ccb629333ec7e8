package graft

import graft.jobs.{EventMetricsJob, MetricsJob}
import graft.streaming.Recorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The single-sort layout of `MetricsJob` and `EventMetricsJob` against
  * verbatim copies of the jobs before it ([[FrozenMetricsJob]],
  * [[FrozenEventMetricsJob]]): the same rows in the same order, keyed and
  * golden, at 1, 4 and 7 shuffle partitions. Inputs are built in-repo:
  * a multi-series synthesized book carrying the cases that decide a
  * window's answer, plus one-series, empty and reduced-key schemas.
  */
class SeriesJobLayoutSpec extends SparkTestBase {

  private val depth = 5
  private val rvWindow = 5

  /** Case name → parquet path. */
  private lazy val inputs: Seq[(String, String)] = {
    val dir = Files.createTempDirectory("series-layout").toString
    val v = col("raw_nonce")
    // 6 series (3 exchanges × 2 symbols) of 70 rows; v ≡ s (mod 6) is series s
    val book = Recorder.synthesizeBook(spark.range(420).toDF("value"), depth)
      .withColumn("exchange_id", concat(lit("ex"), pmod(v, lit(3L)).cast("string")))
      // consecutive rows of a series share ts_ms (the _rid tie-break);
      // every 7th row is stamped a second early (event time ≠ input order)
      .withColumn("ts_ms", lit(1700000000000L) + (v / 12).cast("long") * 100 -
        when(pmod(v, lit(7L)) === 0, lit(1000L)).otherwise(lit(0L)))
      .withColumn("best_bid",
        when(v < 2 || pmod(v, lit(17L)) === 3, lit(null).cast("double")) // NULL mid: series start, gaps
          .when(pmod(v, lit(23L)) === 5, -col("best_ask"))                // mid = 0
          .when(pmod(v, lit(29L)) === 11, -col("best_ask") * 3)           // mid < 0
          .when(pmod(v, lit(19L)) === 7, col("best_ask") + 0.05)          // crossed
          .otherwise(col("best_bid")))
    val short = Recorder.synthesizeBook(spark.range(rvWindow - 2).toDF("value"), depth)
      .withColumn("exchange_id", lit("short"))
    // 3 input partitions, each holding rows of every series
    val multi = book.unionByName(short).repartition(3, pmod(v, lit(5L)))
    val cases = Seq(
      "multi-series" -> multi,
      "one series" -> multi.filter(col("exchange_id") === "ex1" && col("symbol") === "SYN0"),
      "empty" -> multi.limit(0),
      "4 meta columns" -> multi.drop("exchange_id", "symbol", "book_level", "raw_nonce"),
      "no exchange_id" -> multi.drop("exchange_id"))
    cases.map { case (name, df) =>
      val path = s"$dir/${name.replace(' ', '_')}.parquet"
      df.write.mode("overwrite").parquet(path)
      name -> path
    }
  }

  private def sweep(job: (String, Boolean) => DataFrame,
                    frozen: (String, Boolean) => DataFrame): Unit =
    for (parts <- Seq(1, 4, 7)) withShufflePartitions(parts) {
      for ((name, path) <- inputs; golden <- Seq(false, true))
        assertSameRows(s"$name, golden=$golden, $parts shuffle partitions",
          job(path, golden), frozen(path, golden))
    }

  test("the multi-series input exercises ties, gaps and both RV outcomes") {
    val path = inputs.head._2
    val keys = Seq("exchange_id", "symbol", "ts_ms").map(col)
    assert(spark.read.parquet(path).groupBy(keys: _*).count().filter(col("count") > 1).count() > 0)
    val out = MetricsJob.run(spark, path, depth, rvWindow)
    assert(out.filter(col("rv") =!= "").count() > 0 && out.filter(col("rv") === "").count() > 0)
    assert(out.filter(col("mid") === "").count() > 0)
  }

  test("the one Sort breaks event-time ties by input row") {
    // Locally a stable sort over in-order shuffle fetches returns equal
    // (keys, ts_ms) rows in input order even without the tie-break, so the
    // row sweeps cannot see it go; on a cluster the fetch order varies.
    val path = inputs.head._2
    for (out <- Seq(MetricsJob.run(spark, path, depth, rvWindow),
                    EventMetricsJob.run(spark, path, rvWindow))) {
      val sorts = PlanNodes.collect(out.queryExecution.executedPlan) { case s: SortExec => s }
      assert(sorts.map(_.sortOrder.map(_.child.asInstanceOf[Attribute].name)) ===
        Seq(Seq("exchange_id", "symbol", "_ts", "_rid")))
    }
  }

  test("MetricsJob rows equal the frozen job's in order, keyed and golden, at 1/4/7 partitions") {
    sweep((p, g) => MetricsJob.run(spark, p, depth, rvWindow, golden = g),
      (p, g) => FrozenMetricsJob.run(spark, p, depth, rvWindow, golden = g))
  }

  test("EventMetricsJob rows equal the frozen job's in order, keyed and golden, at 1/4/7 partitions") {
    sweep((p, g) => EventMetricsJob.run(spark, p, rvWindow, golden = g),
      (p, g) => FrozenEventMetricsJob.run(spark, p, rvWindow, golden = g))
  }
}

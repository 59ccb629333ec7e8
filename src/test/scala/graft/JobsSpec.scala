package graft

import graft.jobs.{MetricsJob, PlotSeriesJob, TwapJob}
import graft.streaming.Recorder
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalactic.Tolerance._
import java.nio.file.Files

/** Entry-point analogs without committed goldens: property/consistency
  * checks on the reference's own recordings.
  */
class JobsSpec extends SparkTestBase {

  private val fixture = "/root/reference/data/ETH_bybit_L2_60s.parquet"

  test("PlotSeriesJob emits the full plot-ready frame bundle") {
    val f = PlotSeriesJob.run(spark, fixture, depth = 10, tailN = 10)
    assert(f.series.count() === 60)
    assert(f.series.columns.toSet.contains("ofi_ntl_k_cum"))
    assert(f.depthCurve.count() === 20) // 10 levels × 2 sides
    assert(f.tail.count() === 10)
    val histN = f.spreadHist.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(histN === 60)
  }

  /** A depth-10 synthesized recording written as parquet: `n` rows of
    * one series, or of the two series SYN0/SYN1 when `twoSeries`.
    */
  private def synthesized(n: Int, twoSeries: Boolean = false): String = {
    val dir = Files.createTempDirectory("jobs-synth").toString
    val book = Recorder.synthesizeBook(spark.range(n).toDF("value"), depth = 10)
    (if (twoSeries) book else book.withColumn("symbol", lit("SYN0")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/book.parquet")
    s"$dir/book.parquet"
  }

  test("PlotSeriesJob emits the full plot-ready frame bundle (synthesized recording)") {
    val f = PlotSeriesJob.run(spark, synthesized(60), depth = 10, tailN = 10)
    assert(f.series.count() === 60)
    assert(f.series.columns.toSet.contains("ofi_ntl_k_cum"))
    assert(f.depthCurve.count() === 20) // 10 levels × 2 sides
    assert(f.tail.count() === 10)
    val histN = f.spreadHist.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(histN === 60)
  }

  test("PlotSeriesJob keyed series and tails equal per-symbol golden runs (synthesized recording)") {
    val path = synthesized(120, twoSeries = true)
    val keyed = PlotSeriesJob.run(spark, path, depth = 10, tailN = 10)
    val cols = keyed.series.columns.filterNot(Set("exchange_id", "symbol", "_rid"))
    def rows(df: org.apache.spark.sql.DataFrame, sym: Option[String]) =
      sym.fold(df)(s => df.filter(col("symbol") === s)).select(cols.map(col): _*)
        .collect().map(_.toSeq)
    assert(keyed.series.select("symbol").distinct().count() === 2)
    for (sym <- Seq("SYN0", "SYN1")) {
      val one = s"${path.stripSuffix(".parquet")}-$sym.parquet"
      spark.read.parquet(path).filter(col("symbol") === sym)
        .coalesce(1).write.mode("overwrite").parquet(one)
      val golden = PlotSeriesJob.run(spark, one, depth = 10, tailN = 10, golden = true)
      val (got, want) = (rows(keyed.series, Some(sym)), rows(golden.series, None))
      assert(got.length === 60 && got.toSeq === want.toSeq, s"series rows differ for $sym")
      assert(rows(keyed.tail, Some(sym)).toSeq === want.takeRight(10).toSeq,
        s"tail rows differ for $sym")
    }
  }

  test("TwapJob: fees worsen vwap; allow_residual is a no-op; filled ≤ target (synthesized recording)") {
    val path = synthesized(60)
    val noFee = TwapJob.run(spark, path, "buy", 50.0, 20, 10, feeBps = 0.0)
    val fee = TwapJob.run(spark, path, "buy", 50.0, 20, 10, feeBps = 5.0)
    assert(noFee.summary.filled_qty > 0.0 && noFee.summary.filled_qty <= 50.0 + 1e-9)
    assert(fee.summary.vwap > noFee.summary.vwap)
    assert(fee.summary.vwap === noFee.summary.vwap * 1.0005 +- 1e-6)
    val resid = TwapJob.run(spark, path, "buy", 50.0, 20, 10, feeBps = 5.0,
      allowResidual = true)
    assert(resid.summary.filled_qty === fee.summary.filled_qty)
    assert(resid.summary.vwap === fee.summary.vwap)
  }

  test("MetricsJob default mode shuffles by key and matches per-symbol golden runs") {
    val dir = Files.createTempDirectory("mj-multi").toString
    Recorder.synthesizeBook(spark.range(400).toDF("value"), depth = 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/book.parquet")
    val out = MetricsJob.run(spark, s"$dir/book.parquet", depth = 5, rvWindow = 5)
    val rows = out.collect()
    // final AQE plan: each series is sorted once — one range exchange on
    // the keys, one Sort, and nothing shuffles the window output again
    val plan = out.queryExecution.executedPlan
    val shuffles = PlanNodes.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1, s"expected one shuffle, got:\n$plan")
    shuffles.head.outputPartitioning match {
      case RangePartitioning(ordering, _) =>
        assert(ordering.map(_.child.asInstanceOf[Attribute].name) === Seq("exchange_id", "symbol"))
      case other => fail(s"expected range partitioning on the keys, got $other")
    }
    assert(PlanNodes.collect(plan) { case s: SortExec => s }.size === 1, s"expected one Sort:\n$plan")
    PlanNodes.collect(plan) { case e: Exchange => e }.foreach { e =>
      assert(PlanNodes.collect(e.child) { case w: WindowExec => w }.isEmpty,
        s"an exchange above a Window:\n$plan")
    }
    // each symbol's series equals its single-series golden-mode run
    val byAll = rows.groupBy(r => r.getString(r.fieldIndex("symbol")))
    for (sym <- Seq("SYN0", "SYN1")) {
      spark.read.parquet(s"$dir/book.parquet").filter(col("symbol") === sym)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$sym.parquet")
      val golden = MetricsJob.run(spark, s"$dir/$sym.parquet",
        depth = 5, rvWindow = 5, golden = true).collect()
      assert(byAll(sym).length === golden.length)
      byAll(sym).zip(golden).foreach { case (a, b) =>
        assert(a.toSeq === b.toSeq, s"row mismatch for $sym")
      }
    }
  }

  test("TwapJob: fees worsen vwap; allow_residual is a no-op; filled ≤ target") {
    val noFee = TwapJob.run(spark, fixture, "buy", 50.0, 20, 10, feeBps = 0.0)
    val fee = TwapJob.run(spark, fixture, "buy", 50.0, 20, 10, feeBps = 5.0)
    assert(noFee.summary.filled_qty <= 50.0 + 1e-9)
    assert(fee.summary.vwap > noFee.summary.vwap)
    assert(fee.summary.vwap === noFee.summary.vwap * 1.0005 +- 1e-6)
    val resid = TwapJob.run(spark, fixture, "buy", 50.0, 20, 10, feeBps = 5.0,
      allowResidual = true)
    assert(resid.summary.filled_qty === fee.summary.filled_qty)
    assert(resid.summary.vwap === fee.summary.vwap)
  }

  test("TwapJob and ImpactJob produce identical summaries from CSV input") {
    val tmp = Files.createTempDirectory("jobs-csv").toString
    val csvPath = s"$tmp/book.csv"
    spark.read.parquet(fixture).coalesce(1)
      .write.option("header", "true").option("emptyValue", "").csv(csvPath)
    val tp = TwapJob.run(spark, fixture, "buy", 50.0, 20, 10, feeBps = 5.0)
    val tc = TwapJob.run(spark, csvPath, "buy", 50.0, 20, 10, feeBps = 5.0)
    assert(tc.summary.vwap === tp.summary.vwap +- 1e-9)
    assert(tc.summary.filled_qty === tp.summary.filled_qty +- 1e-9)
    val ip = graft.jobs.ImpactJob.run(spark, fixture, "buy", 40.0, 12, 10)
    val ic = graft.jobs.ImpactJob.run(spark, csvPath, "buy", 40.0, 12, 10)
    val (rp, rc) = (ip.summary.collect()(0), ic.summary.collect()(0))
    Seq("filled_qty", "vwap", "notional").foreach { c =>
      assert(math.abs(rc.getAs[Double](c) - rp.getAs[Double](c)) < 1e-9, c)
    }
  }

  test("TwapJob stochastic schedule: sizes sum to target, all positive, seed-stable") {
    val s1 = TwapJob.sliceSizes("stochastic", 50.0, 20, seed = 7L)
    val s2 = TwapJob.sliceSizes("stochastic", 50.0, 20, seed = 7L)
    assert(s1 === s2)
    assert(s1.sum === 50.0 +- 1e-9)
    assert(s1.forall(_ > 0))
    val s3 = TwapJob.sliceSizes("stochastic", 50.0, 20, seed = 8L)
    assert(s1 != s3)
  }
}

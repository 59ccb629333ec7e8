package graft

import graft.streaming.StreamingMetrics
import graft.streaming.StreamingMetrics.BarTick
import org.apache.spark.metrics.source.CodegenMetrics
import java.nio.file.Files

/** Generated code survives repeated passes in one long-lived session
  * (the two codegen settings of [[Tables.localSession]]).
  *
  * `CodegenMetrics.METRIC_COMPILATION_TIME` gains one sample per Janino
  * compile, i.e. per miss of Spark's JVM-wide generated-class cache, so
  * its count difference across a run is the number of classes that run
  * compiled. A repeated run of the same plans must not compile again:
  *   - the iterative vec/text set touches more distinct classes than
  *     Spark's default 100-entry cache holds, so under that default the
  *     LRU evicts each class before its reuse and every pass compiles
  *     all of them again;
  *   - a restarted streaming query runs on a fresh cloned session; with
  *     artifact isolation on, that clone gets its own classloader, which
  *     is part of the cache key, so every start compiles again.
  */
class CodegenReuseSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated steady pass of q161+q165+q177 keeps its classes") {
    val set = Seq("q161_graph_beam_search", "q165_knn_label_propagation",
      "q177_dup_graph_triangles")
    def pass(): Unit = set.foreach { name =>
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    // The first pass also builds the session memos (the q160 graph and
    // its entry points), so later passes run other plans than the first;
    // the second and third passes run the same plans. A pass touches ~270
    // cache entries (~135 classes, each keyed once for the driver's and
    // once for the executor's classloader), so under a 100-entry cache a
    // steady pass compiles all of them again. A few recompiles remain
    // with the cache sized: AQE numbers whole-stage codegen stages in the
    // order their input stages finish, the stage id is part of the
    // generated class name, and so a stage that another pass numbered
    // differently compiles under its new name (2–16 per pass measured).
    val first = compiles(pass())
    val second = compiles(pass())
    val third = compiles(pass())
    info(s"compiles per pass: $first, $second, $third")
    assert(third <= 32L, "generated classes were evicted between passes")
  }

  test("a restarted streaming OHLC twin compiles no class") {
    val backlog = Files.createTempDirectory("codegen-reuse").resolve("ticks")
    Seq.tabulate(64)(i => BarTick(s"S${i % 4}", i.toLong, i / 16L, 100.0 + i, 10L + i))
      .toDF().repartition(2).write.parquet(backlog.toString)
    val schema = spark.read.parquet(backlog.toString).schema
    def start(): Unit = {
      val q = StreamingMetrics.streamOhlcBars(
          spark.readStream.schema(schema).parquet(backlog.toString).as[BarTick])
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("codegen-reuse-ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val first = compiles(start())
    val second = compiles(start())
    info(s"compiles: first start $first, second start $second")
    assert(second === 0L, "a restarted streaming query compiled its classes again")
  }
}

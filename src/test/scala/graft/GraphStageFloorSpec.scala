package graft

import org.apache.spark.GraftListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicInteger

/** The stage floor of the iterative graph queries. At this scale every
  * stage runs a task or two for a few milliseconds and costs tens of
  * milliseconds of scheduling, so a query's wall time follows its stage
  * count. Each query's count in a steady pass (session memos built) is
  * pinned at its measured value plus one: a loop step that gains an
  * exchange, an eager action or a persisted round fails here.
  */
class GraphStageFloorSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Measured stages per query (`local[4]`, 4 shuffle partitions) + 1. */
  private val maxStages = Seq(
    "q161_graph_beam_search" -> 28,
    "q165_knn_label_propagation" -> 10,
    "q177_dup_graph_triangles" -> 15)

  private def stagesOf(name: String): Int = {
    val n = new AtomicInteger()
    val counter = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        n.incrementAndGet(); ()
      }
    }
    GraftListenerSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      GraftListenerSync.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(counter)
    spark.catalog.clearCache()
    n.get
  }

  test("a steady pass of q161, q165 and q177 stays at its stage floor") {
    maxStages.foreach { case (name, _) => stagesOf(name) } // builds the memos
    val counts = maxStages.map { case (name, max) => (name, stagesOf(name), max) }
    info(counts.map { case (name, n, _) => s"$name: $n stages" }.mkString(", "))
    counts.foreach { case (name, n, max) =>
      assert(n <= max, s"$name ran $n stages, above its floor of $max")
    }
  }

  test("q165 leaves no persisted frame behind") {
    def run(): Unit = {
      val df = SparkEntry.queries("q165_knn_label_propagation")(spark, dir)
      df.collect()
      df.unpersist()
    }
    spark.catalog.clearCache()
    run()
    // what stays is the corpus frame the graph memos share and the
    // result's own presentation cache, which `unpersist` on the sorted
    // frame does not reach
    val first = spark.sparkContext.getPersistentRDDs.keySet
    assert(first.size <= 2, s"q165 left ${first.size} persisted RDDs")
    run()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- first
    assert(added.isEmpty, s"a second q165 run persisted ${added.size} more RDDs")
    spark.catalog.clearCache()
  }
}

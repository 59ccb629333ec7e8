package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two scheduler facts the benchmark's listener needs that Spark
  * keeps package-private: which shuffle a stage writes, and a way to wait
  * until every posted listener event has been delivered.
  */
object PerfbenchAccess {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId

  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object SparkTestSession {
  lazy val spark: SparkSession = Tables.localSession(4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Runs `body` with the session's shuffle partition count set to `n`. */
  protected def withShufflePartitions(n: Int)(body: => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, before)
  }

  /** The same column names and types, and the same rows in the same order. */
  protected def assertSameRows(label: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType),
      label)
    val (g, w) = (got.collect(), want.collect())
    assert(g.length === w.length, label)
    g.indices.find(i => g(i) != w(i)).foreach { i =>
      fail(s"$label: row $i differs\n  got  ${g(i)}\n  want ${w(i)}")
    }
  }
}

/** Physical-plan traversal that descends into AQE query stages. */
object PlanNodes extends AdaptiveSparkPlanHelper

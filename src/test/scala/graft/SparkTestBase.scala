package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object SparkTestSession {
  lazy val spark: SparkSession = Tables.localSession(4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}

/** Physical-plan traversal that descends into AQE query stages. */
object PlanNodes extends AdaptiveSparkPlanHelper

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one forked JVM per `sbt test`). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the library's SQL entry point — ExtensionsSpec depends on this
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** AQE-aware physical-plan collector: AdaptiveSparkPlanExec and
    * QueryStageExec wrap their real subplans as non-child fields, so a
    * plain collect() stops at them. Delegates to the engine's one walk
    * ([[observability.PlanWalk]], Spark's AdaptiveSparkPlanHelper) so the
    * specs count exactly what the profile ledger and fingerprints count.
    */
  def collectAll[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
    observability.PlanWalk.collect(p)(pf)
}

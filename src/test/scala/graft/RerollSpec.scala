package graft

import graft.analytics.GroupingSets
import graft.plans.{RerollExpandAggregate, RerollQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Soundness and plan gates for [[RerollExpandAggregate]] — the corners the
  * DuckDB oracle can't reach (empty input, duplicate grouping sets, bail
  * conditions) plus the structural claims (leaf below Expand, single scan).
  */
class RerollSpec extends SparkSpec {

  private def ruleSession: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(RerollExpandAggregate.EnabledKey, "true")
    s
  }

  /** Expand whose child subtree contains the leaf Aggregate = rule fired. */
  private def rerolled(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case e: Expand => e.child.collectFirst { case a: Aggregate => a }.isDefined &&
        e.output.exists(_.name.startsWith("_reroll_"))
    }.exists(identity)

  test("re-rolled rollup: leaf aggregate below Expand, corpus scanned once") {
    val df = RerollQueries.rollupReroll(spark, sf)
    assert(rerolled(df), "rule should fire on the opt-in session")
    val scans = collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"one structural corpus scan expected, got ${scans.size}")
  }

  test("re-rolled results are row-identical to the Expand plans") {
    assert(RerollQueries.rollupReroll(spark, sf).collect().toSeq ==
      GroupingSets.rollupMonthly(spark, sf).collect().toSeq)
    // avg through the two-partial derivation: bit-identical decimal
    // division at every grain
    assert(RerollQueries.rollupAvgReroll(spark, sf).collect().toSeq ==
      GroupingSets.rollupAvg(spark, sf).collect().toSeq)
    assert(RerollQueries.cubeReroll(spark, sf).collect().toSeq ==
      GroupingSets.cubeSegmentStatus(spark, sf).collect().toSeq)
    assert(RerollQueries.setsReroll(spark, sf).collect().toSeq ==
      GroupingSets.setsPriority(spark, sf).collect().toSeq)
  }

  test("the stock session still plans the stock Expand path") {
    assert(!rerolled(GroupingSets.rollupMonthly(spark, sf)))
  }

  test("empty input: zero rows with and without the rule") {
    val s = ruleSession
    import s.implicits._
    def q(sess: SparkSession): DataFrame = {
      import sess.implicits._
      // unsatisfiable but not statically foldable-empty: the rewrite must
      // run and still produce ZERO rows (the outer aggregate keeps its
      // grouping, so no grand-total phantom row can appear)
      sess.range(10).filter($"id" > 9999)
        .select(($"id" % 3).as("a"), ($"id" % 5).as("b"), $"id".as("v"))
        .rollup($"a", $"b").agg(sum($"v").as("sv"))
    }
    assert(rerolled(q(s)), "rule should fire on the empty-feed rollup")
    assert(q(s).count() == 0L)
    assert(q(spark).count() == 0L)
  }

  test("duplicate grouping sets double-count identically") {
    val s = ruleSession
    import s.implicits._
    s.range(100).select(($"id" % 3).as("a"), $"id".as("v"))
      .createOrReplaceTempView("reroll_dup")
    val sql = """SELECT a, count(*) AS n, sum(v) AS sv FROM reroll_dup
                 GROUP BY GROUPING SETS ((a), (a)) ORDER BY a, n"""
    val on = s.sql(sql).collect().toSeq
    spark.range(100).select(($"id" % 3).as("a"), $"id".as("v"))
      .createOrReplaceTempView("reroll_dup")
    val off = spark.sql(sql).collect().toSeq
    assert(on == off)
  }

  test("rule composition: the rollup is answered from the matview") {
    val df = RerollQueries.rollupFromView(spark, sf)
    assert(rerolled(df), "the re-roll must fire first")
    val roots = collectAll(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("graft-mv")),
      s"the fact table must never be read: got $roots")
    assert(df.collect().toSeq ==
      GroupingSets.rollupMonthly(spark, sf).collect().toSeq)
  }

  test("cost gate declines a near-unique leaf grain, keeps a collapsing one") {
    val s = ruleSession
    // isolate the RATIO axis: zero the saved-rows floor (5000-row fixtures
    // are far under the 2M default, which is the next test's subject)
    s.conf.set(RerollExpandAggregate.MinSavedRowsKey, "0")
    import s.implicits._
    // 5000 rows ≥ the gate's floor; leaf grain (a, b) with a near-unique →
    // the leaf aggregate would collapse nothing: decline
    val nearUnique = s.range(5000)
      .select($"id".as("a"), ($"id" % 5).as("b"), ($"id" % 7).as("v"))
      .rollup($"a", $"b").agg(sum($"v").as("sv"))
    assert(!rerolled(nearUnique), "near-unique rollup key must decline")
    // declined ≠ broken: the stock Expand plan still answers
    assert(nearUnique.count() == 5000 + 5000 + 1)
    // same size, collapsing grain: fires
    val collapsing = s.range(5000)
      .select(($"id" % 10).as("a"), ($"id" % 5).as("b"), ($"id" % 7).as("v"))
      .rollup($"a", $"b").agg(sum($"v").as("sv"))
    assert(rerolled(collapsing), "collapsing leaf grain must still fire")
  }

  test("cost gate's saved-rows floor declines small inputs at any ratio") {
    val s = ruleSession
    import s.implicits._
    def q(sess: SparkSession) = {
      import sess.implicits._
      sess.range(5000)
        .select(($"id" % 10).as("a"), ($"id" % 5).as("b"), ($"id" % 7).as("v"))
        .rollup($"a", $"b").agg(sum($"v").as("sv"))
    }
    // 500:1 collapse, but (G−1)×5000 = 10k saved Expand rows is four
    // orders under the default 2M floor: the rewrite's fixed extra
    // exchange cannot pay for itself — decline
    assert(!rerolled(q(s)), "10k saved rows is under the 2M floor")
    // the floor is the only objection: clear it and the same plan fires
    val s2 = ruleSession
    s2.conf.set(RerollExpandAggregate.MinSavedRowsKey, "5000")
    assert(rerolled(q(s2)), "floor cleared (10k ≥ 5k): fires")
  }

  test("avg re-rolls via the two-partial derivation; first/distinct bail") {
    val s = ruleSession
    import s.implicits._
    // avg (r10): decomposes through AvgMerge — fires, values identical
    val avg = s.range(100)
      .select(($"id" % 3).as("a"), ($"id" % 5).as("b"), $"id".as("v"))
      .rollup($"a", $"b").agg(org.apache.spark.sql.functions.avg($"v").as("av"))
    assert(rerolled(avg), "avg re-rolls from leaf sum+count partials")
    val stock = spark.range(100)
      .select((col("id") % 3).as("a"), (col("id") % 5).as("b"), col("id").as("v"))
      .rollup(col("a"), col("b"))
      .agg(org.apache.spark.sql.functions.avg(col("v")).as("av"))
    assert(avg.orderBy($"a", $"b").collect().toSeq ==
      stock.orderBy(col("a"), col("b")).collect().toSeq)
    // genuinely order-sensitive / distinct aggregates still bail
    val fst = s.range(100)
      .select(($"id" % 3).as("a"), ($"id" % 5).as("b"), $"id".as("v"))
      .rollup($"a", $"b").agg(org.apache.spark.sql.functions.first($"v"))
    assert(!rerolled(fst), "first() is not decomposable: must bail")
    val dist = s.range(100)
      .select(($"id" % 3).as("a"), ($"id" % 5).as("b"), $"id".as("v"))
      .rollup($"a", $"b").agg(countDistinct($"v"))
    assert(!rerolled(dist), "distinct aggregates must bail")
  }
}

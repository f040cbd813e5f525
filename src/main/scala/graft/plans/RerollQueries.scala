package graft.plans

import graft.analytics.GroupingSets
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-facing proof queries for [[RerollExpandAggregate]].
  *
  * Each runs one of the [[graft.analytics.GroupingSets]] multi-grain
  * pipelines in a CHILD session with the re-roll rule installed and
  * enabled, and verifies against the SAME DuckDB oracle text as the
  * un-rewritten twin — identical results, different plan, which is the
  * point: the oracle hash match is an end-to-end soundness proof of the
  * rewrite over real data, while the registered pair (`agg_rollup_monthly`
  * vs `opt_rollup_reroll`, etc.) prices it in every bench run.
  *
  *  - `opt_rollup_reroll`  — ROLLUP(yr, mo), G=3
  *  - `opt_cube_reroll`    — CUBE(c_mktsegment, o_orderstatus) over the
  *    fact⋈dim broadcast join, G=4 (the leaf grain is the finest cube cell)
  *  - `opt_sets_reroll`    — GROUPING SETS ((yr), (o_orderpriority), ()),
  *    disjoint grains re-rolled from their common refinement
  *
  * The child session keeps the rule's [[RerollExpandAggregate.EnabledKey]]
  * opt-in out of the shared driver session, so every other multi-grain
  * query still plans through the stock Expand path (RerollSpec gates both
  * plan shapes).
  */
object RerollQueries {

  /** Rule on, cost gate OFF (probeRows=0): the FORCED arm — RerollSpec
    * gates the below-Expand aggregate shape here deterministically at any
    * scale, and the bench's forced ledger arm prices the rewrite even
    * where the gate would decline it.
    */
  private def withRule(spark0: SparkSession): SparkSession = {
    val spark = ChildSession(spark0,
      RerollExpandAggregate.EnabledKey -> "true",
      RerollExpandAggregate.gate.ProbeRowsKey -> "0")
    RerollExpandAggregate.install(spark)
    spark
  }

  /** Rule on, gate at DEFAULTS: the rule decides. The G=3 rollup over
    * orders saves only (G−1)×150k = 300k Expand rows at sf0.1 — under the
    * gate's 2M saved-rows floor, so `opt_rollup_reroll_gated` must plan
    * STOCK (the sf0.1 ledger measured the forced rewrite wall-negative
    * there); the G=16 lineitem cube saves 9M and fires.
    */
  private def withGatedRule(spark0: SparkSession): SparkSession = {
    val spark = ChildSession(spark0, RerollExpandAggregate.EnabledKey -> "true")
    RerollExpandAggregate.install(spark)
    spark
  }

  /** RULE COMPOSITION: the same ROLLUP answered from the MATVIEW — no
    * corpus scan at all. Two independent rewrites chain inside one
    * optimizer fixed point:
    *
    *  1. [[RerollExpandAggregate]] turns `Aggregate(rollup, Expand(orders))`
    *     into `Aggregate(rollup, Expand(leafAgg(orders)))` — the leaf is a
    *     plain finest-grain aggregate over a Project chain, which is
    *     exactly the shape [[MvRewrite]] matches;
    *  2. [[MvRewrite]] then recognizes that leaf as derivable from the
    *     registered order-summary view (its grain, `yr × mo × status`, is
    *     finer than the leaf's `yr × mo`) and swaps in the view scan.
    *
    * Net plan: Expand + two re-aggregates over KILOBYTES of view — the
    * fact table is never read (RerollSpec gates both properties). The
    * oracle is the plain ROLLUP over raw orders, verbatim the same text as
    * `agg_rollup_monthly`: three plans, one hash.
    */
  def rollupFromView(spark0: SparkSession, dir: String): DataFrame = {
    val spark = MvRewriteQueries.withView(spark0, dir)
    RerollExpandAggregate.install(spark)
    spark.conf.set(RerollExpandAggregate.EnabledKey, "true")
    // gate off: the composition demo needs the re-roll to fire so MvRewrite
    // can recognize its leaf (the gate would decline this small fixture,
    // and probing is pointless when the leaf is about to become a view scan)
    spark.conf.set(RerollExpandAggregate.gate.ProbeRowsKey, "0")
    GroupingSets.rollupMonthly(spark, dir)
  }

  def rollupReroll(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.rollupMonthly(withRule(spark0), dir)

  /** The AVG frontier: every grain's average re-derived from leaf
    * sum+count partials ([[AvgMerge]]) — same oracle text as the stock
    * `agg_rollup_avg`, bit-identical decimal division.
    */
  def rollupAvgReroll(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.rollupAvg(withRule(spark0), dir)

  def cubeReroll(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.cubeSegmentStatus(withRule(spark0), dir)

  def setsReroll(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.setsPriority(withRule(spark0), dir)

  /** Gated arm over the LOW-collapse fixture: the gate declines (300k
    * saved rows < the 2M floor), so this plans — and times — stock.
    */
  def rollupRerollGated(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.rollupMonthly(withGatedRule(spark0), dir)

  /** Gated arm over the HIGH-collapse fixture: G=16, leaf ≤ ~900 cells —
    * the gate fires and the rewrite is wall-positive on one box.
    */
  def cubeLineitemReroll(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.cubeLineitem(withGatedRule(spark0), dir)

  /** Forced arm of the high-collapse fixture (bench ledger only — at sf0.1
    * the gated arm plans identically, so this exists to keep the three-arm
    * ledger honest at every scale).
    */
  def cubeLineitemRerollForced(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.cubeLineitem(withRule(spark0), dir)

  /** Off arms for the bench ledgers, run in a CHILD session like the other
    * two arms — the per-query session overhead must cancel between arms,
    * or an identical-plan pair reads as a phantom rule cost.
    */
  def rollupStock(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.rollupMonthly(ChildSession(spark0), dir)

  def cubeLineitemStock(spark0: SparkSession, dir: String): DataFrame =
    GroupingSets.cubeLineitem(ChildSession(spark0), dir)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_rollup_reroll" -> (rollupReroll _),
    "opt_rollup_reroll_gated" -> (rollupRerollGated _),
    "opt_rollup_avg_reroll" -> (rollupAvgReroll _),
    "opt_cube_reroll" -> (cubeReroll _),
    "opt_cube_lineitem_reroll" -> (cubeLineitemReroll _),
    "opt_sets_reroll" -> (setsReroll _),
    "opt_rollup_from_view" -> (rollupFromView _))

  /** Same oracle text as the un-rewritten twins, verbatim. */
  val oracle: Map[String, String] = Map(
    "opt_rollup_reroll" -> GroupingSets.oracle("agg_rollup_monthly"),
    "opt_rollup_reroll_gated" -> GroupingSets.oracle("agg_rollup_monthly"),
    "opt_rollup_avg_reroll" -> GroupingSets.oracle("agg_rollup_avg"),
    "opt_cube_reroll" -> GroupingSets.oracle("agg_cube_segment_status"),
    "opt_cube_lineitem_reroll" -> GroupingSets.oracle("agg_cube_lineitem"),
    "opt_sets_reroll" -> GroupingSets.oracle("agg_sets_priority"),
    "opt_rollup_from_view" -> GroupingSets.oracle("agg_rollup_monthly"))
}

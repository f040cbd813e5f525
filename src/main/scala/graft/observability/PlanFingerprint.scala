package graft.observability

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan fingerprints as DATA — plan-regression detection for the
  * queries whose shape IS their scale contract.
  *
  * PlanSpec asserts plan properties in tests; this exposes the same facts
  * as an oracle-checked query, so a plan regression (an extra Exchange
  * sneaking into a flagship query, a broadcast decaying into a sort-merge
  * join, a scan multiplying) fails the driver's hash compare exactly like
  * a wrong row would. The fingerprint counts the operator kinds that
  * matter at 100 TB:
  *
  *  - `exchange`       — shuffles: the dominant cost; MUST NOT grow
  *  - `bcast_exchange` — broadcasts: the small-dim join shape
  *  - `smj` / `bhj`    — sort-merge vs broadcast-hash joins
  *  - `scan`           — source leaves: re-reads of the same table
  *  - `sort`           — whole-data sorts outside TakeOrdered
  *
  * Counted on the INITIAL adaptive plan (`executedPlan` before any job
  * runs — `sparkPlan` would miss every Exchange, which `EnsureRequirements`
  * only inserts during preparation): fully deterministic for fixed
  * data/conf, where the AQE-FINALIZED plan depends on runtime sizes. The
  * pinned values are engine facts for THIS engine version/config — the
  * point is drift detection (the oracle is the committed expectation,
  * updated deliberately when a plan change is intended), same contract as
  * a golden-file test.
  */
object PlanFingerprint {

  def fingerprint(df: DataFrame): Map[String, Long] = {
    val nodes: Seq[SparkPlan] =
      PlanWalk.collect(df.queryExecution.executedPlan) { case n => n }
    def n(pred: String => Boolean): Long =
      nodes.count(x => pred(x.nodeName)).toLong
    Map(
      "exchange" -> n(_ == "Exchange"),
      "bcast_exchange" -> n(_ == "BroadcastExchange"),
      "smj" -> n(_.startsWith("SortMergeJoin")),
      "bhj" -> n(_.startsWith("BroadcastHashJoin")),
      "scan" -> n(x => x.startsWith("Scan") || x.startsWith("FileScan")),
      "sort" -> n(_ == "Sort"))
  }

  /** The pinned queries: the flagship star query (broadcast dims, one
    * shuffle family), the 4-way-star matview, and the join-elimination
    * consumer (whose whole point is the shuffles it DOESN'T have).
    */
  private def pinned(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    "q02_top_diagnoses_by_age_group" ->
      graft.analytics.Queries.q02TopDiagnosesByAgeGroup(spark, dir),
    "mv_procedure_volume" ->
      graft.warehouse.MatViews.procedureVolume(
        graft.warehouse.Warehouse.forDir(spark, dir)),
    "opt_join_elimination" ->
      graft.plans.JoinEliminationQueries.all("opt_join_elimination")(spark, dir))

  /** (query, metric, n) rows for the pinned set, deterministically ordered. */
  def planFingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pinned(spark, dir)
      .flatMap { case (name, df) =>
        fingerprint(df).toSeq.map { case (m, v) => (name, m, v) }
      }
      .toDF("query", "metric", "n")
      .orderBy($"query", $"metric")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "obs_plan_fingerprint" -> (planFingerprints _))

  /** The committed plan-shape expectation (hand-pinned from the intended
    * plans; see Scaladoc — updating these numbers is how a DELIBERATE plan
    * change is signed off).
    */
  val oracle: Map[String, String] = Map(
    // the signed-off plan shapes at the correctness SF:
    //  - mv_procedure_volume: 3 scans (bridge+fact+dim), BOTH dims broadcast
    //    (2 bhj / 2 bcast_exchange), 2 shuffles (the two-phase distinct
    //    aggregate), zero sorts;
    //  - opt_join_elimination: ONE scan and zero joins (the rule's whole
    //    point), 2 distinct-agg shuffles + 1 range-partition for the
    //    output order;
    //  - q02: reads the materialized matview (1 scan), 1 window + 1 range
    //    shuffle, window/output sorts — never re-derives the star join.
    "obs_plan_fingerprint" -> """SELECT * FROM (VALUES
  ('mv_procedure_volume', 'bcast_exchange', 2::BIGINT),
  ('mv_procedure_volume', 'bhj', 2::BIGINT),
  ('mv_procedure_volume', 'exchange', 2::BIGINT),
  ('mv_procedure_volume', 'scan', 3::BIGINT),
  ('mv_procedure_volume', 'smj', 0::BIGINT),
  ('mv_procedure_volume', 'sort', 0::BIGINT),
  ('opt_join_elimination', 'bcast_exchange', 0::BIGINT),
  ('opt_join_elimination', 'bhj', 0::BIGINT),
  ('opt_join_elimination', 'exchange', 3::BIGINT),
  ('opt_join_elimination', 'scan', 1::BIGINT),
  ('opt_join_elimination', 'smj', 0::BIGINT),
  ('opt_join_elimination', 'sort', 1::BIGINT),
  ('q02_top_diagnoses_by_age_group', 'bcast_exchange', 0::BIGINT),
  ('q02_top_diagnoses_by_age_group', 'bhj', 0::BIGINT),
  ('q02_top_diagnoses_by_age_group', 'exchange', 2::BIGINT),
  ('q02_top_diagnoses_by_age_group', 'scan', 1::BIGINT),
  ('q02_top_diagnoses_by_age_group', 'smj', 0::BIGINT),
  ('q02_top_diagnoses_by_age_group', 'sort', 3::BIGINT))
 AS t(query, metric, n)
ORDER BY query, metric""")
}

package graft.plans

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing proof queries for [[MergeUnionAggregates]].
  *
  * `opt_union_merge_rollup` is the HAND-WRITTEN multi-grain report (the
  * stacked-per-grain-SELECT idiom analysts write when not reaching for
  * GROUPING SETS; [[graft.analytics.GroupingSets.rollupHierarchical]] is
  * this library's own instance of it): three aggregates over the same raw
  * `orders` scan, stacked with UNION ALL — (yr, mo), (yr), and (mo)
  * grains, the missing key padded with a NULL literal per branch.
  *
  * `opt_union_merge_total` is the MIXED global+grouped stack — a grand
  * total UNION ALL a per-status breakdown, the reference's README
  * record-count-probe shape (`README.md:358-363`) applied to one source —
  * which merges via the EMPTY grouping set plus the empty-input guard
  * ([[MergeUnionAggregates]]'s soundness condition 1; UnionMergeSpec pins
  * the one-row-vs-zero-row contract on an empty source).
  *
  * The DuckDB oracles run the identical UNION ALL stacks against the raw
  * table, so each hash match proves the merged grouping-sets plan changed
  * the PLAN and nothing else (UnionMergeSpec gates the plans themselves:
  * one parquet scan, one Expand).
  *
  * Money math rides DECIMAL(14,2) with one DOUBLE cast at the edge (the
  * [[graft.analytics.GroupingSets]] discipline), and the final sort pins
  * NULLS FIRST explicitly on both engines — the padded grain keys are
  * exactly where Spark's and DuckDB's default null order disagree.
  */
object UnionMergeQueries {

  /** One branch: `orders` at the given grain, with absent grain keys
    * padded as typed NULL literals so the three branches are
    * union-compatible.
    */
  private def branch(spark: SparkSession, dir: String,
      byYr: Boolean, byMo: Boolean): DataFrame = {
    import spark.implicits._
    val keyed = Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
    val keys = (if (byYr) Seq($"yr") else Nil) ++ (if (byMo) Seq($"mo") else Nil)
    keyed.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .select(
        (if (byYr) $"yr" else lit(null).cast("int").as("yr")),
        (if (byMo) $"mo" else lit(null).cast("int").as("mo")),
        $"n_orders", $"total_price")
  }

  private def unionRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    branch(spark, dir, byYr = true, byMo = true)
      .union(branch(spark, dir, byYr = true, byMo = false))
      .union(branch(spark, dir, byYr = false, byMo = true))
      .orderBy($"yr".asc_nulls_first, $"mo".asc_nulls_first)
  }

  /** The merged plan: same pipeline in a child session with the rule on. */
  def merged(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0, MergeUnionAggregates.EnabledKey -> "true")
    MergeUnionAggregates.install(spark)
    unionRollup(spark, dir)
  }

  /** The stock three-scan plan — the bench ledger's other arm. The rule
    * defaults ON wherever it is present, so this arm opts OUT explicitly:
    * in a bare Bench session the key is belt-and-braces (the rule isn't
    * installed), but under a GraftExtensions-built session (the test
    * harness, an extension-configured deployment) the key is what keeps
    * this the genuine K-scan control.
    */
  def stock(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0, MergeUnionAggregates.EnabledKey -> "false")
    unionRollup(spark, dir)
  }

  /** Grand total + per-status breakdown over ONE source: the global branch
    * rides the empty grouping set, the guard supplies its row on an empty
    * source, and the whole stack scans orders once.
    */
  private def unionTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.orders(spark, dir)
      .select($"o_orderstatus",
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
    val byStatus = keyed.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .select(lit("by_status").as("grain"), $"o_orderstatus".as("status"),
        $"n_orders", $"total_price")
    val total = keyed
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .select(lit("all").as("grain"), lit(null).cast("string").as("status"),
        $"n_orders", $"total_price")
    total.union(byStatus)
      .orderBy($"grain", $"status".asc_nulls_first)
  }

  def mergedTotal(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0, MergeUnionAggregates.EnabledKey -> "true")
    MergeUnionAggregates.install(spark)
    unionTotal(spark, dir)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_union_merge_rollup" -> (merged _),
    "opt_union_merge_total" -> (mergedTotal _))

  val oracle: Map[String, String] = Map(
    "opt_union_merge_rollup" ->
      """WITH keyed AS (
  SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
         CAST(o_totalprice AS DECIMAL(14,2)) AS price
  FROM orders)
SELECT * FROM (
  SELECT yr, mo, count(*)::BIGINT AS n_orders,
         (sum(price))::DOUBLE AS total_price
  FROM keyed GROUP BY yr, mo
  UNION ALL
  SELECT yr, NULL::INT AS mo, count(*)::BIGINT, (sum(price))::DOUBLE
  FROM keyed GROUP BY yr
  UNION ALL
  SELECT NULL::INT AS yr, mo, count(*)::BIGINT, (sum(price))::DOUBLE
  FROM keyed GROUP BY mo)
ORDER BY yr ASC NULLS FIRST, mo ASC NULLS FIRST""",

    "opt_union_merge_total" ->
      """WITH keyed AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(14,2)) AS price
  FROM orders)
SELECT * FROM (
  SELECT 'all' AS grain, NULL::VARCHAR AS status,
         count(*)::BIGINT AS n_orders, (sum(price))::DOUBLE AS total_price
  FROM keyed
  UNION ALL
  SELECT 'by_status', o_orderstatus, count(*)::BIGINT, (sum(price))::DOUBLE
  FROM keyed GROUP BY o_orderstatus)
ORDER BY grain, status ASC NULLS FIRST""")
}

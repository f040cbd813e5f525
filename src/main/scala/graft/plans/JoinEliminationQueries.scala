package graft.plans

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing proof queries for [[EliminateRedundantLeftJoin]].
  *
  * Both run over the SAME wide "enriched orders" view — the reference's
  * fact-with-correlated-subquery-columns shape
  * (`src/populate_warehouse.py:157-175`, decorrelated per SURVEY §2.4 J7):
  * `orders` left-joined to a per-order lineitem rollup AND to a
  * per-customer order-frequency rollup. The view is what a warehouse
  * publishes once for many consumers; which enrichments a given report pays
  * for should depend on what it reads, not on how the view was written.
  *
  *  - `opt_join_elimination` reads only base order columns → BOTH
  *    enrichment joins vanish from the physical plan (PlanSpec-gated); the
  *    DuckDB oracle runs the full view WITH the joins, so the hash match
  *    is an end-to-end soundness proof of the rewrite, not a smoke test.
  *  - `opt_join_retained` additionally reads the lineitem rollup's
  *    `n_items` → that join must survive while the untouched customer-
  *    frequency join still disappears (partial elimination, also gated).
  *
  * Each demo runs on a [[ChildSession]] of the caller's session that sets
  * the rule's [[EliminateRedundantLeftJoin.EnabledKey]], so the rule fires
  * there and the caller's session plans every later query exactly as
  * before.
  */
object JoinEliminationQueries {

  /** The wide enriched view: orders + per-order item stats + per-customer
    * order frequency. Both enrichment sides are Aggregates grouped exactly
    * by their join key — the structural uniqueness evidence the rule
    * requires (a bare dim scan would not qualify).
    */
  private def enrichedOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val itemStats = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
          .as("gross_cents"))
    val custFreq = Tables.orders(spark, dir)
      .groupBy($"o_custkey".as("cf_custkey"))
      .agg(count(lit(1)).as("n_cust_orders"))
    orders
      .join(itemStats, orders("o_orderkey") === itemStats("l_orderkey"), "left")
      .join(custFreq, orders("o_custkey") === custFreq("cf_custkey"), "left")
  }

  /** A child of `spark0` with the rule on. */
  private def withRule(spark0: SparkSession): SparkSession =
    ChildSession(spark0, EliminateRedundantLeftJoin.EnabledKey -> "true")

  /** Reads ONLY base order columns from the enriched view: both enrichment
    * joins are provably no-ops and the optimized plan is a single pass over
    * `orders` — no lineitem scan, no self-aggregate, no shuffle joins.
    */
  def reportBase(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withRule(spark0)
    import spark.implicits._
    enrichedOrders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_customers"))
      .orderBy($"o_orderpriority")
  }

  /** Reads `n_items` from the lineitem rollup: that join stays (its values
    * flow into the output, so the oracle verifies the JOIN's results), while
    * the customer-frequency join — still unread — is eliminated.
    */
  def reportWithItems(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withRule(spark0)
    import spark.implicits._
    enrichedOrders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce($"n_items", lit(0L))).as("n_items_total"),
        min(coalesce($"n_items", lit(0L))).as("n_items_min"))
      .orderBy($"o_orderpriority")
  }

  /** CONTROL twin of [[reportBase]] with the rule deliberately OFF — a
    * child session that leaves its key unset, so the plan pays both
    * unread enrichment joins (full lineitem scan + aggregate + two shuffle
    * joins). Registered so every bench run prices the rule: BENCH
    * per-query seconds carry the on/off pair, and [[graft.Bench]]
    * additionally ledgers the shuffle-bytes delta via
    * [[graft.observability.QueryMetrics]]. Same oracle as the optimized
    * entry — identical results, different plan — which is the point.
    */
  def reportBaseNoRule(spark0: SparkSession, dir: String): DataFrame = {
    // The control must pay the enrichment joins, so BOTH elimination paths
    // go dark: the graft rule by its key staying unset, and Spark 4's
    // built-in equivalent (EliminateOuterJoin + distinct-key propagation,
    // which independently removes unread unique-keyed left joins) via
    // excludedRules + the propagation flag.
    val spark = ChildSession(spark0,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.EliminateOuterJoin",
      "spark.sql.optimizer.propagateDistinctKeys.enabled" -> "false")
    import spark.implicits._
    enrichedOrders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_customers"))
      .orderBy($"o_orderpriority")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_join_elimination" -> (reportBase _),
    "opt_join_retained" -> (reportWithItems _),
    "opt_join_baseline" -> (reportBaseNoRule _))

  /** Oracles spell out the FULL enriched view, joins included — equality
    * with the join-free Spark plan is the soundness proof.
    */
  private val viewSql = """enriched AS (
  SELECT o.*, i.n_items, i.gross_cents, c.n_cust_orders
  FROM orders o
  LEFT JOIN (SELECT l_orderkey, count(*)::BIGINT AS n_items,
                    sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT
                      AS gross_cents
             FROM lineitem GROUP BY 1) i
    ON o.o_orderkey = i.l_orderkey
  LEFT JOIN (SELECT o_custkey AS cf_custkey, count(*)::BIGINT AS n_cust_orders
             FROM orders GROUP BY 1) c
    ON o.o_custkey = c.cf_custkey)"""

  val oracle: Map[String, String] = Map(
    "opt_join_elimination" -> s"""WITH $viewSql
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       count(DISTINCT o_custkey)::BIGINT AS n_customers
FROM enriched
GROUP BY 1
ORDER BY o_orderpriority""",

    "opt_join_baseline" -> s"""WITH $viewSql
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       count(DISTINCT o_custkey)::BIGINT AS n_customers
FROM enriched
GROUP BY 1
ORDER BY o_orderpriority""",

    "opt_join_retained" -> s"""WITH $viewSql
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       sum(coalesce(n_items, 0))::BIGINT AS n_items_total,
       min(coalesce(n_items, 0))::BIGINT AS n_items_min
FROM enriched
GROUP BY 1
ORDER BY o_orderpriority""")
}

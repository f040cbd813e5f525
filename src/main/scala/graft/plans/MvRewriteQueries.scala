package graft.plans

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing proof queries for [[MvRewrite]].
  *
  * The registered view is a daily-grain order summary (`yr, mo,
  * o_orderstatus` → count / sum / min / max of the order value), written
  * once per (application, corpus) to the tmp cache and registered with its
  * defining plan. Every query below is then written against the RAW
  * `orders` table — never against the view — and the DuckDB oracle runs
  * the same raw-table SQL, so each hash match proves the substitution
  * changed the PLAN and nothing else:
  *
  *  - `opt_mv_rollup` — a coarser-grain consumer (`yr` only): the classic
  *    dashboard query the rewrite exists for; scans kilobytes of view
  *    instead of the fact table (MvRewriteSpec gates the scan path).
  *  - `opt_mv_exact` — the view's own grain: matches too (the
  *    re-aggregate over unique grain rows is exact and row-per-group).
  *  - `opt_mv_miss` — groups by a column the view lacks
  *    (`o_orderpriority`): provably NOT derivable, must scan raw orders
  *    (also plan-gated) — the negative control that the matcher does not
  *    over-fire.
  *
  * Shared-grain money math rides DECIMAL(14,2) with ONE DOUBLE cast at
  * the edge (the [[graft.analytics.GroupingSets]] discipline), so the
  * merged sum is bit-identical to the direct sum.
  */
object MvRewriteQueries {

  /** The view's defining pipeline over the raw table. ONE definition:
    * registration, materialization, and the oracle all derive from it.
    */
  private def defining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(
        year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        $"o_orderstatus",
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr", $"mo", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum($"price").as("sum_price"),
        min($"price").as("min_price"),
        max($"price").as("max_price"),
        // count of the AVG child itself (not count(*)): the coarser-grain
        // AVG merge needs sum(x)+count(x) partials — count(*) only equals
        // count(x) when x is provably non-null, which the matcher refuses
        // to assume
        count($"price").as("n_price"))
  }

  /** A second view carrying NON-decomposable aggregates (count distinct,
    * avg): only the EXACT-grain projection path can serve these — the
    * reference's own matviews (`mv_monthly_encounters` et al) are full of
    * `COUNT(DISTINCT ...)`, so this is the shape that matters for serving
    * them automatically.
    */
  private def definingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(
        year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        $"o_custkey",
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr", $"mo")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_customers"),
        // stored as Spark's exact DECIMAL(18,6) average — served verbatim
        // by the exact path (spec-checked Spark-vs-Spark; the DuckDB
        // oracle avoids avg, whose float rounding differs cross-engine)
        avg($"price").as("avg_price"),
        // the distinct-value PARTIALS: let COARSER-grain COUNT/SUM/AVG
        // (DISTINCT …) merge exactly (set union), where the scalar
        // n_customers column above can only serve the exact grain
        collect_set($"o_custkey").as("cust_set"),
        collect_set($"price").as("price_set"))
  }

  /** Bench's untimed populate hook: materialize + register both views so
    * no timed query is charged the one-off parquet writes.
    */
  def prewarm(spark: SparkSession, dir: String): Unit = withView(spark, dir)

  /** Materialize + register once per (application, corpus); returns a
    * session with the rewrite enabled. Setup cost is charged to the first
    * caller (the Bench pre-warm pattern — the substitution itself is what
    * the queries measure). `private[plans]` so the rule-composition query
    * ([[RerollQueries]]' rollup-from-view) can reuse the same view.
    */
  private[plans] def withView(spark0: SparkSession, dir: String): SparkSession = {
    // once per (application, corpus): each registration pays a full
    // optimization of the defining plan, invariant per corpus
    def view(name: String, key: String, mk: => DataFrame): Unit =
      graft.Scratch.memo(spark0, "graft-mv", key) { p =>
        val d = mk
        d.write.mode("overwrite").parquet(p)
        require(MvRewrite.register(s"$name:$dir", d, spark0.read.parquet(p)),
          s"$name must be inside MvRewrite's matchable scope")
      }
    view("mv_order_summary", dir, defining(spark0, dir))
    view("mv_order_distinct", s"$dir:distinct", definingDistinct(spark0, dir))
    ChildSession(spark0, MvRewrite.EnabledKey -> "true")
  }

  /** Coarser grain than the view: yearly totals from "raw" orders. */
  def mvRollup(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"),
        expr("CAST(min(price) AS DOUBLE)").as("min_price"),
        expr("CAST(max(price) AS DOUBLE)").as("max_price"))
      .orderBy($"yr")
  }

  /** The view's own grain, written against the raw table. */
  def mvExact(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        $"o_orderstatus",
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr", $"mo", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"yr", $"mo", $"o_orderstatus")
  }

  /** The non-decomposable case: a count-distinct query at the distinct
    * view's own grain — only the exact-grain PROJECTION path can serve
    * this (no re-aggregate can derive a distinct count from any coarser
    * summary), which is how the reference's own `COUNT(DISTINCT ...)`
    * matviews become automatically serveable.
    */
  def mvExactDistinct(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        $"o_custkey")
      .groupBy($"yr", $"mo")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_customers"))
      .orderBy($"yr", $"mo")
  }

  /** Grain + predicate — the standard dashboard shape: a yearly rollup
    * restricted to Q2–Q3 months. The filter is on `mo`, a VIEW grouping
    * that the query does NOT group by: derivable because the predicate is
    * constant within each view row, so filtering view rows ≡ filtering
    * base rows. Served as Filter(view) + re-aggregate.
    */
  def mvFiltered(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .filter($"mo" >= 4 && $"mo" <= 9)
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"yr")
  }

  /** AVG at a COARSER grain than the view (the r10 extension): yearly
    * average order value from "raw" orders, served as
    * merged-sum / merged-count over the yr×mo×status view — the classic
    * derivation that plain partial-matching cannot express because avg is
    * not self-decomposable. Bit-exactness discipline: the view stores the
    * DECIMAL(24,2) sum and the BIGINT count(price); the merge re-sums both
    * (exact), casts the widened re-sum back to (24,2) (exact — the value
    * IS the original total), and divides in Average's own operand types,
    * so the result equals the direct `avg(price)` to the last decimal
    * digit (MvRewriteSpec pins Spark-vs-Spark equality; the oracle
    * recomputes the same half-up-at-scale-6 value in exact BIGINT
    * micro-units).
    */
  def mvAvgCoarser(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr")
      .agg(avg($"price").cast("double").as("avg_price"),
        count(lit(1)).as("n_orders"))
      .orderBy($"yr")
  }

  /** COUNT(DISTINCT) at a COARSER grain than the view (the r10 extension):
    * yearly distinct-customer counts from "raw" orders, served by set-union
    * over the view's stored `collect_set(o_custkey)` partial — the merge no
    * scalar summary can express (`size(array_distinct(flatten(
    * collect_list(cust_set))))`, exact, order-insensitive). At 100 TB the
    * substitution shuffles one array of distinct keys per view row instead
    * of re-scanning the fact table; the n_orders column rides the ordinary
    * count partial in the same rewrite.
    */
  def mvDistinctCoarser(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"), $"o_custkey")
      .groupBy($"yr")
      .agg(countDistinct($"o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy($"yr")
  }

  /** SUM/AVG(DISTINCT) at a COARSER grain from the same set partials: the
    * fold over the merged distinct-value set is exact for the DECIMAL
    * price (any order), and the avg divide replicates Average's own
    * operand types, so both hash-match the raw recompute. "Sum of distinct
    * price points per year" is the dedup-the-measure shape
    * (one-price-per-SKU style) that plain partials can never serve.
    */
  def mvDistinctStats(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr")
      .agg(sum_distinct($"price").cast("double").as("sum_distinct_price"),
        expr("avg(DISTINCT price)").cast("double").as("avg_distinct_price"),
        countDistinct($"price").as("n_price_points"))
      .orderBy($"yr")
  }

  /** Negative control: `o_orderpriority` is not a view column, so this
    * must keep scanning raw orders.
    */
  def mvMiss(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withView(spark0, dir)
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderpriority",
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"o_orderpriority")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_mv_rollup" -> (mvRollup _),
    "opt_mv_exact" -> (mvExact _),
    "opt_mv_exact_distinct" -> (mvExactDistinct _),
    "opt_mv_filtered" -> (mvFiltered _),
    "opt_mv_avg_coarser" -> (mvAvgCoarser _),
    "opt_mv_distinct_coarser" -> (mvDistinctCoarser _),
    "opt_mv_distinct_stats" -> (mvDistinctStats _),
    "opt_mv_miss" -> (mvMiss _))

  /** Raw-table SQL only — the oracle must NOT read the view, that's the
    * soundness proof.
    */
  val oracle: Map[String, String] = Map(
    "opt_mv_rollup" ->
      """SELECT year(o_orderdate)::INT AS yr,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price,
       (min(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS min_price,
       (max(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS max_price
FROM orders
GROUP BY 1
ORDER BY yr""",

    "opt_mv_exact" ->
      """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
       o_orderstatus,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM orders
GROUP BY 1, 2, 3
ORDER BY yr, mo, o_orderstatus""",

    "opt_mv_exact_distinct" ->
      """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
       count(*)::BIGINT AS n_orders,
       count(DISTINCT o_custkey)::BIGINT AS n_customers
FROM orders
GROUP BY 1, 2
ORDER BY yr, mo""",

    "opt_mv_filtered" ->
      """SELECT year(o_orderdate)::INT AS yr,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM orders
WHERE month(o_orderdate) BETWEEN 4 AND 9
GROUP BY 1
ORDER BY yr""",

    // Spark's avg(DECIMAL(14,2)) is the exact sum divided half-up at scale
    // 6; DuckDB reproduces it in exact BIGINT micro-units: cents = exact
    // total, micro = round-half-up(cents*10^4 / n) via floor division,
    // avg = micro / 1e6 (micro < 2^53, so the double is exact both ways)
    "opt_mv_avg_coarser" ->
      """SELECT year(o_orderdate)::INT AS yr,
       ((CAST(FLOOR(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 + 0.5) AS BIGINT)
          * 10000 * 2 + count(*)) // (2 * count(*)) / 1000000.0)::DOUBLE AS avg_price,
       count(*)::BIGINT AS n_orders
FROM orders
GROUP BY 1
ORDER BY yr""",

    "opt_mv_distinct_coarser" ->
      """SELECT year(o_orderdate)::INT AS yr,
       count(DISTINCT o_custkey)::BIGINT AS n_customers,
       count(*)::BIGINT AS n_orders
FROM orders
GROUP BY 1
ORDER BY yr""",

    // sum over distinct decimals is exact on both engines; the avg's
    // half-up-at-scale-6 rounding is reproduced in exact BIGINT micro-units
    // over DISTINCT cents (same derivation as opt_mv_avg_coarser's)
    "opt_mv_distinct_stats" ->
      """WITH keyed AS (
  SELECT year(o_orderdate)::INT AS yr,
         CAST(o_totalprice AS DECIMAL(14,2)) AS p
  FROM orders)
SELECT yr,
       (sum(DISTINCT p))::DOUBLE AS sum_distinct_price,
       ((CAST(FLOOR(sum(DISTINCT p) * 100 + 0.5) AS BIGINT)
          * 10000 * 2 + count(DISTINCT p)) // (2 * count(DISTINCT p))
          / 1000000.0)::DOUBLE AS avg_distinct_price,
       count(DISTINCT p)::BIGINT AS n_price_points
FROM keyed
GROUP BY 1
ORDER BY yr""",

    "opt_mv_miss" ->
      """SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM orders
GROUP BY 1
ORDER BY o_orderpriority""")
}

package graft.plans

import graft.{Scratch, Tables}
import graft.functions.GraftFunctions.round2
import graft.warehouse.{MatViews, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's OWN matview queries routed through [[MvRewrite]]
  * end-to-end — the round-10 closure of "automatic rewrite demonstrated
  * only on synthetic shapes".
  *
  * The reference hand-rewrites its analytics queries to read `mv_*`
  * (`sql/analytics_queries.sql:8-17` reads mv_monthly_encounters,
  * `:47-54` reads mv_procedure_volume). Here the SAME queries are written
  * against the RAW star tables — the fact⋈dim join plus the aggregate,
  * exactly what a user who never heard of the views would write — and the
  * optimizer substitutes the materialized view automatically:
  *
  *  - `opt_mv_q01_raw` — Q1 monthly encounter trends from raw
  *    fact_encounters ⋈ dim_time. The defining aggregate carries TWO
  *    count-distincts, so its optimized form is the
  *    `RewriteDistinctAggregates` Expand — only the child-equivalence path
  *    can serve it, which is precisely what that path exists for.
  *  - `opt_mv_q03_raw` — Q3 procedure volume from raw bridge ⋈ fact ⋈
  *    dim_procedure (3-way join, two count-distincts, and a computed
  *    per-patient ratio that CollapseProject merges INTO the aggregate —
  *    the rewrite serves it as a post-expression over view columns).
  *  - `opt_mv_ivm_refresh` — the refresh loop: a join view is maintained
  *    INCREMENTALLY ([[graft.warehouse.IvmJoin]]'s bilinear delta rule —
  *    V1 = merge(V0, γ(ΔA⋈B), γ(A⋈ΔB), γ(ΔA⋈ΔB)), no full recompute),
  *    the refreshed snapshot is RE-REGISTERED, and a raw-table query is
  *    answered from it. The DuckDB oracle recomputes from the raw tables,
  *    so the hash match proves the incremental state, the re-registration,
  *    and the rewrite in one shot — the reference's
  *    `refresh_all_warehouse_views()` discipline made incremental.
  *
  * The DuckDB oracles are the UNCHANGED q01/q03 oracle texts (raw-table
  * SQL): identical rows, different plan — while MvRewriteSpec gates that
  * the executed plans scan `mv_*` parquet, never the fact table.
  */
object MvWarehouseQueries {

  /** Child session with the rewrite enabled; registers the two reference
    * matviews once per (application, corpus) — defining plans over the
    * MATERIALIZED star tables (parquet scans, the plans any consumer
    * session produces), scans over the materialized `mv_*` parquet.
    *
    * NOT a [[ChildSession]], whose rules run in the late
    * `extraOptimizations` batch: a multi-distinct query must meet the rule
    * BEFORE `RewriteDistinctAggregates` turns it into the Expand form
    * (whose gid numbering is hash-order-dependent — unmatchable), and only
    * the extensions path (`injectOptimizerRule` → the operator-optimization
    * fixed point) runs that early. `builder().withExtensions(...).create()`
    * attaches [[graft.GraftExtensions]] to a NEW session on the existing
    * SparkContext — the exact session a production consumer of this
    * library would run (`--conf spark.sql.extensions=graft.GraftExtensions`).
    */
  private def withViews(spark0: SparkSession, dir: String): SparkSession = {
    val spark = ChildSession.carry(spark0, SparkSession.builder()
      .withExtensions(new graft.GraftExtensions()).create(),
      MvRewrite.EnabledKey -> "true")
    Scratch.memo(spark, "graft-mv-warehouse", dir) { _ =>
      val wh = Warehouse.reread(spark, dir)
      require(MvRewrite.register(s"mv_monthly_encounters:$dir",
        MatViews.monthlyEncounters(wh), wh.mvMonthlyEncounters),
        "mv_monthly_encounters must register (child-equivalence path)")
      require(MvRewrite.register(s"mv_procedure_volume:$dir",
        MatViews.procedureVolume(wh), wh.mvProcedureVolume),
        "mv_procedure_volume must register (child-equivalence path)")
      require(MvRewrite.register(s"mv_diagnosis_by_age_group:$dir",
        MatViews.diagnosisByAgeGroup(wh), wh.mvDiagnosisByAgeGroup),
        "mv_diagnosis_by_age_group must register (child-equivalence path)")
    }
    spark
  }

  /** Q1 written against the raw star (`analytics_queries.sql:8-17` minus
    * the hand-rewrite): same consumer shape as
    * [[graft.analytics.Queries.q01MonthlyTrends]], fed by the raw join.
    */
  def q01Raw(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withViews(spark0, dir)
    MatViews.monthlyEncounters(Warehouse.reread(spark, dir))
      .orderBy(col("year").desc, col("month").desc)
      .limit(12)
      .select(
        col("year"), col("month_name"), col("total_encounters"),
        col("unique_patients"),
        round2(col("avg_procedures_per_encounter")).as("avg_procedures"),
        col("total_procedures"))
  }

  /** Q2 against the raw star (`analytics_queries.sql:23-41`): the 4-way
    * star join (bridge ⋈ fact ⋈ dim_patient ⋈ dim_diagnosis) plus the
    * ROW_NUMBER top-5-per-age-group ranking. The ranking window sits ABOVE
    * the aggregate, so the rewrite swaps only the star+aggregate for the
    * view scan and the window runs over kilobytes. With this, ALL THREE of
    * the reference's matviews are served automatically.
    */
  def q02Raw(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withViews(spark0, dir)
    import org.apache.spark.sql.expressions.Window
    val ranked = MatViews.diagnosisByAgeGroup(Warehouse.reread(spark, dir))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("age_group"))
          .orderBy(col("diagnosis_count").desc, col("code"), col("description"))))
    ranked
      .filter(col("rank") <= 5)
      .orderBy(col("age_group"), col("rank"))
      .select(col("age_group"), col("code"), col("description"),
        col("diagnosis_count"), col("unique_patients"))
  }

  /** Q3 against the raw star (`analytics_queries.sql:47-54`). */
  def q03Raw(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withViews(spark0, dir)
    MatViews.procedureVolume(Warehouse.reread(spark, dir))
      .select(
        col("modality"), col("procedure_count"), col("unique_patients"),
        col("facilities_performed"),
        round2(col("procedure_count") * lit(1.0) / col("unique_patients"))
          .as("procedures_per_patient"))
      .orderBy(col("procedure_count").desc, col("modality"))
  }

  // =====================================================================
  // IVM × MvRewrite: incremental refresh feeding re-registration
  // =====================================================================

  /** The full-state join view: revenue by customer nation — ONE pipeline
    * used for registration AND for the raw-table consumer, so both sides
    * optimize to the same normal form.
    */
  private def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_custkey".as("custkey"),
      $"o_totalprice".cast("decimal(18,2)").as("price"))
    val c = Tables.customer(spark, dir).select(
      $"c_custkey".as("custkey"), $"c_nationkey".as("nationkey"))
    o.join(c, "custkey")
      .groupBy($"nationkey")
      .agg(count(lit(1)).as("n_orders"), sum($"price").as("revenue"))
  }

  /** Build V0 from the pre-delta state, apply the bilinear delta terms to
    * V0's PARQUET (never re-reading the pre-delta fact), write V1, and
    * re-register the view at the new snapshot. A perRun [[Scratch]] entry,
    * so a bench second sample repeats the full refresh, not a memo hit.
    * Delta carve-outs reuse [[graft.warehouse.IvmJoin]]'s moduli.
    */
  private def refreshIvmView(spark: SparkSession, dir: String): Unit =
    Scratch.memo(spark, "graft-ivm", dir, perRun = true)(doRefreshIvmView(spark, dir, _))

  private def doRefreshIvmView(spark: SparkSession, dir: String, scratch: String): Unit = {
    import spark.implicits._
    import graft.warehouse.IvmJoin.{NewCustMod, NewOrderMod}
    val o = Tables.orders(spark, dir).select(
      $"o_custkey".as("custkey"),
      $"o_totalprice".cast("decimal(18,2)").as("price"),
      (pmod($"o_orderkey", lit(NewOrderMod)) === 0).as("d_ord"))
    val c = Tables.customer(spark, dir).select(
      $"c_custkey".as("custkey"), $"c_nationkey".as("nationkey"),
      (pmod($"c_custkey", lit(NewCustMod)) === 0).as("d_cust"))
    // r14 (§2.4): the join o⋈c partitions EXACTLY into the four bilinear
    // classes by (d_ord, d_cust), so one join pass aggregated at the
    // (nationkey, d_ord, d_cust) grain yields V0's term AND all three
    // delta terms — the stock form ran the same join four times (4 orders
    // + 4 customer scans → 1 + 1). The sliced frame is nation-count × 4
    // rows, reused by its four terms; each term below is a filter of it,
    // and per slice the aggregate values are identical to the per-term
    // joins (disjoint row classes, same count/sum).
    val sliced = Scratch.reuse(o.join(c, "custkey")
      .groupBy($"nationkey", $"d_ord", $"d_cust")
      .agg(count(lit(1)).as("n_orders"), sum($"price").as("revenue")))
    def term(ordDelta: Boolean, custDelta: Boolean) =
      sliced.filter($"d_ord" === ordDelta && $"d_cust" === custDelta)
        .select($"nationkey", $"n_orders", $"revenue")
    // V0: the pre-delta state, materialized (the "yesterday" snapshot)
    term(ordDelta = false, custDelta = false)
      .write.mode("overwrite").parquet(s"$scratch/v0")
    // V1 = merge(V0-parquet, the three delta terms) — a partial-aggregate
    // union at the view's grain; the pre-delta fact is NEVER rescanned.
    // Types are cast back to the defining pipeline's exact output types
    // (count: BIGINT; sum(DECIMAL(18,2)): DECIMAL(28,2)) so registration's
    // schema check holds and merged decimals stay exact.
    val v1 = spark.read.parquet(s"$scratch/v0")
      .unionByName(term(ordDelta = true, custDelta = false))
      .unionByName(term(ordDelta = false, custDelta = true))
      .unionByName(term(ordDelta = true, custDelta = true))
      .groupBy($"nationkey")
      .agg(sum($"n_orders").as("n_orders"),
        sum($"revenue").cast("decimal(28,2)").as("revenue"))
    v1.write.mode("overwrite").parquet(s"$scratch/v1")
    val ok = MvRewrite.register(s"mv_ivm_nation_rev:$dir",
      nationRevenue(spark, dir), spark.read.parquet(s"$scratch/v1"))
    require(ok, "mv_ivm_nation_rev must register (child-equivalence path)")
  }

  /** The consumer: raw-table revenue by nation, served from the
    * incrementally-refreshed snapshot. Hash-matches the raw-table oracle —
    * one green row proves delta-merge exactness, re-registration, and the
    * rewrite together.
    */
  def ivmRefreshServed(spark0: SparkSession, dir: String): DataFrame = {
    val spark = withViews(spark0, dir)
    refreshIvmView(spark, dir)
    import spark.implicits._
    nationRevenue(spark, dir)
      .select($"nationkey", $"n_orders",
        $"revenue".cast("double").as("revenue"))
      .orderBy($"nationkey")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_mv_q01_raw" -> (q01Raw _),
    "opt_mv_q02_raw" -> (q02Raw _),
    "opt_mv_q03_raw" -> (q03Raw _),
    "opt_mv_ivm_refresh" -> (ivmRefreshServed _))

  /** q01/q03 use the UNCHANGED reference-query oracle texts — identical
    * rows to the hand-rewritten `q01_monthly_trends`/`q03_procedure_volume`,
    * reached automatically. The IVM oracle recomputes from raw tables.
    */
  val oracle: Map[String, String] = Map(
    "opt_mv_q01_raw" -> graft.analytics.OracleSql.all("q01_monthly_trends"),
    "opt_mv_q02_raw" ->
      graft.analytics.OracleSql.all("q02_top_diagnoses_by_age_group"),
    "opt_mv_q03_raw" -> graft.analytics.OracleSql.all("q03_procedure_volume"),
    "opt_mv_ivm_refresh" ->
      """SELECT c_nationkey AS nationkey,
       count(*)::BIGINT AS n_orders,
       (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY nationkey""")
}

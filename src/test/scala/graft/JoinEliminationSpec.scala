package graft

import graft.plans.{EliminateRedundantLeftJoin, JoinEliminationQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** Soundness gates for [[EliminateRedundantLeftJoin]] — both directions:
  * the rewrite MUST fire where it is provably safe, and MUST NOT fire
  * anywhere the plan can't prove safety (fan-out or filtering joins).
  */
class JoinEliminationSpec extends SparkSpec {

  private def logicalJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  import spark.implicits._

  /** A child of the shared session with the rule turned on by its key. */
  private def ruleOn(confs: (String, String)*) = plans.ChildSession(spark,
    (EliminateRedundantLeftJoin.EnabledKey -> "true") +: confs: _*)

  private lazy val on = ruleOn()
  private lazy val orders = Tables.orders(on, sf)
  private lazy val itemStats = Tables.lineitem(on, sf)
    .groupBy($"l_orderkey").agg(count(lit(1)).as("n_items"))

  test("redundant enrichment join is eliminated; values preserved") {
    val enriched = orders
      .join(itemStats, orders("o_orderkey") === itemStats("l_orderkey"), "left")
    val report = enriched.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n")).orderBy($"o_orderstatus")
    assert(logicalJoins(report) == 0, "unused unique-keyed left join must vanish")
    // semantic preservation: identical to the same aggregate computed
    // directly on orders (what the join-free plan should be)
    val direct = orders.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n")).orderBy($"o_orderstatus")
    assert(report.collect().toSeq == direct.collect().toSeq)
  }

  test("join is kept when its columns are consumed") {
    val enriched = orders
      .join(itemStats, orders("o_orderkey") === itemStats("l_orderkey"), "left")
    val report = enriched.groupBy($"o_orderstatus")
      .agg(sum(coalesce($"n_items", lit(0L))).as("t"))
    assert(logicalJoins(report) == 1, "consumed enrichment join must survive")
  }

  test("join is kept when the right side is not provably unique") {
    // raw lineitem keyed by l_orderkey is NOT unique (multi-line orders):
    // eliminating would collapse the fan-out and change counts — must stay
    val raw = Tables.lineitem(on, sf).select($"l_orderkey", $"l_linenumber")
    val joined = orders
      .join(raw, orders("o_orderkey") === raw("l_orderkey"), "left")
    val report = joined.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(logicalJoins(report) == 1, "non-unique right side must never be dropped")
  }

  test("inner joins are never eliminated") {
    // inner join FILTERS left rows (orders with no lineitem drop out);
    // even with a unique right side the join is semantically load-bearing
    val joined = orders
      .join(itemStats, orders("o_orderkey") === itemStats("l_orderkey"))
    val report = joined.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(logicalJoins(report) == 1, "inner join must never be dropped")
  }

  test("stacked enrichments: only the unread ones are peeled") {
    // the registered driver queries, end to end: base report drops both
    // joins, the n_items report keeps exactly the lineitem rollup join
    assert(logicalJoins(JoinEliminationQueries.all("opt_join_elimination")(spark, sf)) == 0)
    assert(logicalJoins(JoinEliminationQueries.all("opt_join_retained")(spark, sf)) == 1)
  }

  test("the registered demos leave the caller's plans unchanged") {
    // a fresh session stands in for Bench's/Verify's shared one: whatever
    // rule demo ran before, a later plain query there plans as it did
    // before. One entry from each rule module runs on the caller.
    val caller = plans.ChildSession(spark)
    def plain = {
      val o = Tables.orders(caller, sf)
      val stats = Tables.lineitem(caller, sf)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
      val byStatus = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      o.join(stats, o("o_orderkey") === stats("l_orderkey"), "left")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .union(byStatus)
        .queryExecution.optimizedPlan.canonicalized
    }
    val before = plain
    for (name <- Seq("opt_join_elimination", "join_asof_filtered",
        "opt_rollup_reroll", "opt_mv_rollup", "opt_eager_agg",
        "opt_union_merge_rollup", "wh_derived_prune_scan", "wh_fileskip_point"))
      SparkEntry.queries(name)(caller, sf).queryExecution.optimizedPlan
    assert(plain == before, "a rule demo changed the caller's plans")
  }

  test("aliased grouping keys still prove uniqueness") {
    // Spark's own elimination blinded, so only the graft rule can peel it
    val s = ruleOn(
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.EliminateOuterJoin",
      "spark.sql.optimizer.propagateDistinctKeys.enabled" -> "false")
    val orders = Tables.orders(s, sf)
    val freq = orders.groupBy($"o_custkey".as("k")).agg(count(lit(1)).as("f"))
    val joined = orders.join(freq, orders("o_custkey") === freq("k"), "left")
    val report = joined.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(logicalJoins(report) == 0, "alias on the grouping key is still unique evidence")
  }

  test("graft rule holds the guarantee when distinct-key propagation is off") {
    // Spark 4's built-in EliminateOuterJoin covers the common case — but
    // only with propagateDistinctKeys on. With propagation disabled, the
    // built-in goes blind and ONLY the graft rule (structural uniqueness
    // proof at the join) still removes the unread enrichment.
    val s = ruleOn("spark.sql.optimizer.propagateDistinctKeys.enabled" -> "false")
    def report(sess: org.apache.spark.sql.SparkSession) = {
      val o = Tables.orders(sess, sf)
      val stats = Tables.lineitem(sess, sf)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
      o.join(stats, o("o_orderkey") === stats("l_orderkey"), "left")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    }
    assert(logicalJoins(report(s)) == 0,
      "graft rule must fire independently of distinct-key propagation")
    // negative control: rule key unset in the same propagation-off session
    // → nobody eliminates, the join survives
    s.conf.unset(EliminateRedundantLeftJoin.EnabledKey)
    assert(logicalJoins(report(s)) == 1,
      "with both paths dark the enrichment join must survive")
  }

  test("rule removes physical Exchanges, not just logical joins (on vs off)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    def exchanges(p: SparkPlan): Int = collectAll(p) { case e: Exchange => e }.size
    val on = JoinEliminationQueries.all("opt_join_elimination")(spark, sf)
    val off = JoinEliminationQueries.all("opt_join_baseline")(spark, sf)
    // force execution so AQE finalizes both physical plans before counting
    on.write.format("noop").mode("overwrite").save()
    off.write.format("noop").mode("overwrite").save()
    val (nOn, nOff) = (exchanges(on.queryExecution.executedPlan),
      exchanges(off.queryExecution.executedPlan))
    assert(nOn < nOff,
      s"rule-on plan has $nOn exchanges, rule-off $nOff — elimination must shed shuffles")
    // and the identical-results contract of the pair
    assert(on.collect().toSeq == off.collect().toSeq)
  }
}

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

  private lazy val orders = Tables.orders(spark, sf)
  private lazy val itemStats = Tables.lineitem(spark, sf)
    .groupBy($"l_orderkey").agg(count(lit(1)).as("n_items"))

  test("redundant enrichment join is eliminated; values preserved") {
    EliminateRedundantLeftJoin.install(spark)
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
    EliminateRedundantLeftJoin.install(spark)
    val enriched = orders
      .join(itemStats, orders("o_orderkey") === itemStats("l_orderkey"), "left")
    val report = enriched.groupBy($"o_orderstatus")
      .agg(sum(coalesce($"n_items", lit(0L))).as("t"))
    assert(logicalJoins(report) == 1, "consumed enrichment join must survive")
  }

  test("join is kept when the right side is not provably unique") {
    EliminateRedundantLeftJoin.install(spark)
    // raw lineitem keyed by l_orderkey is NOT unique (multi-line orders):
    // eliminating would collapse the fan-out and change counts — must stay
    val raw = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_linenumber")
    val joined = orders
      .join(raw, orders("o_orderkey") === raw("l_orderkey"), "left")
    val report = joined.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    assert(logicalJoins(report) == 1, "non-unique right side must never be dropped")
  }

  test("inner joins are never eliminated") {
    EliminateRedundantLeftJoin.install(spark)
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

  test("the registered demos leave the caller's session without the rule") {
    // a fresh session stands in for Bench's/Verify's shared one: whatever
    // ran before, a later query there must not plan with the rule
    val caller = plans.ChildSession(spark)
    JoinEliminationQueries.reportBase(caller, sf).collect()
    JoinEliminationQueries.reportWithItems(caller, sf).collect()
    assert(!caller.experimental.extraOptimizations
      .contains(EliminateRedundantLeftJoin))
  }

  test("the registered demos honour the caller's kill switch") {
    // the demos plan on a child session; the caller's switch must reach it.
    // Spark's built-in elimination is blinded as in opt_join_baseline
    val caller = plans.ChildSession(spark)
    caller.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.EliminateOuterJoin")
    caller.conf.set("spark.sql.optimizer.propagateDistinctKeys.enabled", "false")
    caller.conf.set(EliminateRedundantLeftJoin.EnabledKey, "false")
    assert(logicalJoins(JoinEliminationQueries.reportBase(caller, sf)) == 2)
    // control: with the switch unset the rule fires on the same caller
    caller.conf.unset(EliminateRedundantLeftJoin.EnabledKey)
    assert(logicalJoins(JoinEliminationQueries.reportBase(caller, sf)) == 0)
  }

  test("aliased grouping keys still prove uniqueness") {
    // Spark's own elimination blinded, so only the graft rule can peel it
    val s = plans.ChildSession(spark,
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
    val s = spark.newSession() // GraftExtensions carry over; built-in blinded:
    s.conf.set("spark.sql.optimizer.propagateDistinctKeys.enabled", "false")
    def report(sess: org.apache.spark.sql.SparkSession) = {
      val o = Tables.orders(sess, sf)
      val stats = Tables.lineitem(sess, sf)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
      o.join(stats, o("o_orderkey") === stats("l_orderkey"), "left")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    }
    assert(logicalJoins(report(s)) == 0,
      "graft rule must fire independently of distinct-key propagation")
    // negative control: kill-switch off in the same propagation-off session
    // → nobody eliminates, the join survives
    s.conf.set(EliminateRedundantLeftJoin.EnabledKey, "false")
    assert(logicalJoins(report(s)) == 1,
      "with both paths dark the enrichment join must survive")
    s.conf.unset(EliminateRedundantLeftJoin.EnabledKey)
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

package graft

import graft.plans.{MvRewrite, MvRewriteQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan gates and negative controls for [[graft.plans.MvRewrite]].
  * Result correctness is the raw-table DuckDB oracle's job (all three
  * `opt_mv_*` queries); this spec pins WHERE each plan reads from — the
  * substitution itself, which the oracle compare cannot see.
  */
class MvRewriteSpec extends SparkSpec {

  /** Root directories of every parquet scan in the physical plan. */
  private def scanRoots(df: DataFrame): Seq[String] =
    collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("rollup and exact-grain queries read the view, not the fact table") {
    for (df <- Seq(MvRewriteQueries.mvRollup(spark, sf),
        MvRewriteQueries.mvExact(spark, sf))) {
      val roots = scanRoots(df)
      assert(roots.nonEmpty && roots.forall(_.contains("graft-mv")),
        s"expected only view scans, got $roots")
    }
  }

  test("a grain the view lacks keeps scanning the raw table") {
    val roots = scanRoots(MvRewriteQueries.mvMiss(spark, sf))
    assert(roots.nonEmpty && roots.forall(_.contains("orders.parquet")),
      s"expected raw-orders scan, got $roots")
  }

  test("rewritten results equal the raw plans (kill-switch A/B)") {
    val on = MvRewriteQueries.mvRollup(spark, sf).collect().toSeq
    // same pipeline, rewrite disabled: the session default
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val off = Tables.orders(spark, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"),
        expr("CAST(min(price) AS DOUBLE)").as("min_price"),
        expr("CAST(max(price) AS DOUBLE)").as("max_price"))
      .orderBy($"yr").collect().toSeq
    assert(on == off)
    val offRoots = scanRoots(
      Tables.orders(spark, sf)
        .select(year($"o_orderdate").cast("int").as("yr"))
        .groupBy($"yr").agg(count(lit(1)).as("n")))
    assert(offRoots.forall(_.contains("orders.parquet")),
      "the stock session must not rewrite")
  }

  test("exact grain serves count distinct and avg as a pure Project") {
    import org.apache.spark.sql.functions._
    val df = MvRewriteQueries.mvExactDistinct(spark, sf)
    val roots = scanRoots(df)
    assert(roots.nonEmpty && roots.forall(_.contains("_distinct")),
      s"expected the distinct view only, got $roots")
    // the Aggregate must be GONE — a projection, not a re-aggregate
    val aggs = collectAll(df.queryExecution.executedPlan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggs.isEmpty, "exact-grain match should plan zero aggregates")
    // avg through the exact path: bit-identical to the recomputed value
    // (Spark vs Spark — the stored column IS the original expression)
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(MvRewrite.EnabledKey, "true")
    MvRewriteQueries.mvExactDistinct(spark, sf) // ensure registration
    val onAvg = {
      val o = Tables.orders(s, sf)
      o.select(year(o("o_orderdate")).cast("int").as("yr"),
          month(o("o_orderdate")).cast("int").as("mo"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
        .groupBy(col("yr"), col("mo"))
        .agg(expr("CAST(avg(price) AS DOUBLE)").as("avg_price"))
        .orderBy(col("yr"), col("mo"))
    }
    assert(scanRoots(onAvg).forall(_.contains("_distinct")),
      "the avg query should be served from the view")
    val offAvg = {
      val o = Tables.orders(spark, sf)
      o.select(year(o("o_orderdate")).cast("int").as("yr"),
          month(o("o_orderdate")).cast("int").as("mo"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
        .groupBy(col("yr"), col("mo"))
        .agg(expr("CAST(avg(price) AS DOUBLE)").as("avg_price"))
        .orderBy(col("yr"), col("mo"))
    }
    assert(onAvg.collect().toSeq == offAvg.collect().toSeq)
  }

  test("global aggregate over an EMPTY base: rewritten count is 0, not null") {
    import org.apache.spark.sql.functions._
    // an empty corpus with the orders schema, its (empty) view, registered
    val dir = s"${sys.props("java.io.tmpdir")}/graft-mv-empty-base"
    Tables.orders(spark, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val defining = {
      val d = Tables.orders(spark, dir)
      d.groupBy(d("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(d("o_totalprice")).as("s"))
    }
    val mvPath = s"$dir/mv"
    defining.write.mode("overwrite").parquet(mvPath)
    assert(MvRewrite.register("mv_empty_base_test", defining,
      spark.read.parquet(mvPath)))
    try {
      val s = spark.newSession()
      GraftExtensions.install(s)
      s.conf.set(MvRewrite.EnabledKey, "true")
      val q = {
        val o = Tables.orders(s, dir)
        o.select(o("o_orderstatus"), o("o_totalprice"))
          .agg(count(lit(1)).as("n"), sum(o("o_totalprice")).as("s"))
      }
      assert(scanRoots(q).forall(_.contains("graft-mv-empty-base/mv")),
        "the global aggregate should still be answered from the view")
      val row = q.collect().head
      assert(row.getLong(0) == 0L, "count over the empty base must be 0")
      assert(row.isNullAt(1), "sum over the empty base stays null")
    } finally MvRewrite.deregister("mv_empty_base_test")
  }

  test("grouping-column filters are derivable; others are not") {
    import org.apache.spark.sql.functions._
    // the registered query: filter on mo (a view grouping the query does
    // not group by) — served from the view
    val served = MvRewriteQueries.mvFiltered(spark, sf)
    assert(scanRoots(served).nonEmpty &&
      scanRoots(served).forall(_.contains("graft-mv")),
      "a view-grouping predicate should be served from the view")
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(MvRewrite.EnabledKey, "true")
    import s.implicits._
    // filter on o_orderstatus, a view-1 grouping: also derivable
    val byStatus = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        $"o_orderstatus",
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .filter($"o_orderstatus" === "F")
      .groupBy($"yr").agg(count(lit(1)).as("n"), sum($"price").as("s"))
    assert(scanRoots(byStatus).forall(_.contains("graft-mv")))
    // filter on a NON-grouping base column (the raw price): not a
    // function of any view grouping — must keep scanning raw orders
    val rawPred = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .filter($"price" > 1000)
      .groupBy($"yr").agg(count(lit(1)).as("n"))
    assert(scanRoots(rawPred).forall(_.contains("orders.parquet")),
      "a row-level predicate must bail")
  }

  // ===================================================================
  // r10: the reference's own matviews, served automatically
  // ===================================================================

  test("raw q01/q03 are served from mv_* parquet, not the fact table") {
    import graft.plans.MvWarehouseQueries
    val q01 = MvWarehouseQueries.q01Raw(spark, sf)
    val r01 = scanRoots(q01)
    assert(r01.nonEmpty && r01.forall(_.contains("mv_monthly_encounters")),
      s"q01 raw must read the monthly view only, got $r01")
    val q02 = MvWarehouseQueries.q02Raw(spark, sf)
    val r02 = scanRoots(q02)
    assert(r02.nonEmpty && r02.forall(_.contains("mv_diagnosis_by_age_group")),
      s"q02 raw must read the diagnosis view only, got $r02")
    val q03 = MvWarehouseQueries.q03Raw(spark, sf)
    val r03 = scanRoots(q03)
    assert(r03.nonEmpty && r03.forall(_.contains("mv_procedure_volume")),
      s"q03 raw must read the volume view only, got $r03")
    // the multi-distinct Expand machinery must be GONE — a projection
    // (q02 keeps its ranking WindowExec, which is not in this list)
    for (df <- Seq(q01, q02, q03)) {
      val heavy = collectAll(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.ExpandExec => e
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(heavy.isEmpty,
        s"served q01/q03 should plan zero joins/aggregates/expands, got $heavy")
    }
    // identical rows to the hand-rewritten reference queries
    assert(q01.collect().toSeq ==
      analytics.Queries.q01MonthlyTrends(spark, sf).collect().toSeq)
    assert(q02.collect().toSeq ==
      analytics.Queries.q02TopDiagnosesByAgeGroup(spark, sf).collect().toSeq)
    assert(q03.collect().toSeq ==
      analytics.Queries.q03ProcedureVolume(spark, sf).collect().toSeq)
  }

  test("coarser-grain AVG merges bit-identically to the direct aggregate") {
    val served = MvRewriteQueries.mvAvgCoarser(spark, sf)
    val roots = scanRoots(served)
    assert(roots.nonEmpty && roots.forall(_.contains("graft-mv")),
      s"avg-coarser must be served from the view, got $roots")
    // direct (un-rewritten) twin in the stock session: bit equality,
    // including the decimal(18,6) half-up rounding through the widening
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val direct = Tables.orders(spark, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr")
      .agg(avg($"price").cast("double").as("avg_price"),
        count(lit(1)).as("n_orders"))
      .orderBy($"yr")
    assert(served.collect().toSeq == direct.collect().toSeq)
  }

  test("IVM refresh re-registers: the consumer reads the v1 snapshot") {
    import graft.plans.MvWarehouseQueries
    val q = MvWarehouseQueries.ivmRefreshServed(spark, sf)
    val roots = scanRoots(q)
    assert(roots.nonEmpty && roots.forall(_.contains("graft-ivm")),
      s"the consumer must read the refreshed snapshot, got $roots")
    assert(roots.forall(_.contains("/v1")),
      s"…and specifically v1 (post-delta), got $roots")
    // rows equal the raw full-state recompute (stock session, no rewrite)
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, sf).select(col("o_custkey").as("custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val c = Tables.customer(spark, sf).select(col("c_custkey").as("custkey"),
      col("c_nationkey").as("nationkey"))
    val raw = o.join(c, "custkey").groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("revenue"))
      .orderBy(col("nationkey"))
    assert(q.collect().toSeq == raw.collect().toSeq)
  }

  test("IVM set view: distinct served from the incrementally-merged v1") {
    import graft.plans.IvmSetQueries
    val q = IvmSetQueries.served(spark, sf)
    val roots = scanRoots(q)
    assert(roots.nonEmpty && roots.forall(_.contains("graft-ivm-set")),
      s"the consumer must read the set-view snapshot, got $roots")
    assert(roots.forall(_.contains("/v1")),
      s"…and specifically v1 (post-delta array_union merge), got $roots")
    // rows equal the raw full-state recompute (stock session, no rewrite)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Tables.lineitem(spark, sf)
      .select(year($"l_shipdate").cast("int").as("yr"), $"l_suppkey")
      .groupBy($"yr")
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy($"yr")
    assert(q.collect().toSeq == raw.collect().toSeq)
  }

  test("retractable IVM state: the consumer reads the state-derived set " +
      "view, and a forgotten supplier's last row leaves the distinct count") {
    import graft.plans.IvmSetQueries
    val q = IvmSetQueries.servedRetract(spark, sf)
    val roots = scanRoots(q)
    assert(roots.nonEmpty && roots.forall(_.contains("/v1sets")),
      s"the consumer must read the state-derived set view, got $roots")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the from-scratch recompute applies the SAME cascade delete set the
    // retraction consumed (one flow: ForgetFlow.deletedOrderKeys)
    val raw = Tables.lineitem(spark, sf)
      .join(broadcast(graft.ingest.ForgetFlow.deletedOrderKeys(spark, sf)),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .select(year($"l_shipdate").cast("int").as("yr"), $"l_suppkey")
      .groupBy($"yr")
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy($"yr")
    assert(q.collect().toSeq == raw.collect().toSeq)
    // the delete really bites: WITHOUT the retraction the counts differ
    val noDelete = Tables.lineitem(spark, sf)
      .select(year($"l_shipdate").cast("int").as("yr"), $"l_suppkey")
      .groupBy($"yr").agg(count(lit(1)).as("n_items"))
      .orderBy($"yr").collect().toSeq
    assert(raw.select($"yr", $"n_items").collect().toSeq != noDelete,
      "fixture must actually delete rows, or the retract path is vacuous")
  }

  test("zero-floor guard raises through the state write's select+filter " +
      "shape; clean counts pass untouched") {
    import graft.plans.IvmSetQueries
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the EXACT downstream shape of the v1state write: guard in a select,
    // then filter(cnt > 0) — the substitution the optimizer sees. A
    // SimplifyConditionals-style rewrite that pruned the error branch
    // would make this collect() return 2 rows instead of throwing.
    def shaped(df: DataFrame) = df
      .select($"k", IvmSetQueries.zeroFloorGuard($"cnt", concat(lit("("),
        $"k", lit(")"))).as("cnt"))
      .filter($"cnt" > 0)
    val bad = Seq(("a", 3L), ("b", -1L), ("c", 2L)).toDF("k", "cnt")
    val e = intercept[Exception] { shaped(bad).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("retraction below zero")),
      s"guard must raise its audit message, got: ${msgs(e)}")
    val ok = Seq(("a", 3L), ("b", 0L), ("c", 2L)).toDF("k", "cnt")
    assert(shaped(ok).collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == Set(("a", 3L), ("c", 2L)))
  }

  test("IVM-set rewrite composes with AQE: same rows, still the v1 view") {
    import graft.plans.IvmSetQueries
    // ChildSession (inside served) carries every modified runtime conf, so
    // forcing AQE on a parent newSession drives the child's planning too
    def arm(aqe: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      if (aqe) s.conf.set("spark.sql.adaptive.forceApply", "true")
      IvmSetQueries.served(s, sf)
    }
    val on = arm(aqe = true)
    val off = arm(aqe = false)
    assert(scanRoots(on).nonEmpty &&
      scanRoots(on).forall(r => r.contains("graft-ivm-set") && r.contains("/v1")),
      s"AQE must not undo the IVM-set substitution, got ${scanRoots(on)}")
    assert(on.collect().toSeq == off.collect().toSeq)
  }

  test("rewrite composes with AQE: same rows, still a view scan") {
    import org.apache.spark.sql.functions._
    MvRewriteQueries.mvRollup(spark, sf).queryExecution // ensure registered
    def pipeline(s: org.apache.spark.sql.SparkSession) = {
      val o = Tables.orders(s, sf)
      o.select(year(o("o_orderdate")).cast("int").as("yr"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .orderBy(col("yr")) // exchange on top: AQE has something to re-plan
    }
    def session(aqe: Boolean) = {
      val s = spark.newSession()
      GraftExtensions.install(s)
      s.conf.set(MvRewrite.EnabledKey, "true")
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      if (aqe) s.conf.set("spark.sql.adaptive.forceApply", "true")
      s
    }
    val on = pipeline(session(aqe = true))
    val off = pipeline(session(aqe = false))
    assert(scanRoots(on).nonEmpty && scanRoots(on).forall(_.contains("graft-mv")),
      s"AQE must not undo the substitution, got ${scanRoots(on)}")
    assert(scanRoots(off).forall(_.contains("graft-mv")))
    assert(on.collect().toSeq == off.collect().toSeq)
  }

  test("two servable aggregates in ONE tree get distinct scan exprIds") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    MvRewriteQueries.mvRollup(spark, sf).queryExecution // ensure registered
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(MvRewrite.EnabledKey, "true")
    // this test targets MvRewrite's per-site fresh-instance splicing, so
    // it needs the UNION to survive as two aggregates — opt out of the
    // (default-on) union-merge rewrite that would collapse them first
    s.conf.set(graft.plans.MergeUnionAggregates.EnabledKey, "false")
    import org.apache.spark.sql.functions._
    def rollup = {
      val o = Tables.orders(s, sf)
      o.select(year(o("o_orderdate")).cast("int").as("yr"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
        .groupBy(col("yr"))
        .agg(expr("CAST(sum(price) AS DOUBLE)").as("s"))
    }
    val u = rollup.unionByName(rollup)
    val ids = u.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.output.map(_.exprId).toSet
    }
    assert(ids.size == 2, s"expected two view scans, got ${ids.size}")
    assert(ids.head.intersect(ids(1)).isEmpty,
      "each match site must splice a FRESH scan instance (disjoint exprIds)")
    assert(scanRoots(u).forall(_.contains("graft-mv")))
    u.collect() // and it executes
  }

  test("non-nullable outputs stay non-nullable through the parquet scan") {
    val served = MvRewriteQueries.mvRollup(spark, sf)
    val n = served.queryExecution.optimizedPlan.output.find(_.name == "n_orders")
    assert(n.isDefined && !n.get.nullable,
      "count output must keep its non-nullability (KnownNotNull wrap)")
  }

  test("coarser-grain COUNT(DISTINCT) merges from the collect_set partial") {
    val served = MvRewriteQueries.mvDistinctCoarser(spark, sf)
    val roots = scanRoots(served)
    assert(roots.nonEmpty && roots.forall(_.contains("_distinct")),
      s"distinct-coarser must be served from the set-partial view, got $roots")
    // value equality vs the direct (un-rewritten) aggregate — exact, not
    // approximate: the merge is a set union
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val direct = Tables.orders(spark, sf)
      .select(year($"o_orderdate").cast("int").as("yr"), $"o_custkey")
      .groupBy($"yr")
      .agg(countDistinct($"o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy($"yr")
    assert(served.collect().toSeq == direct.collect().toSeq)
    // nullability contract: count distinct stays non-nullable through the
    // size∘array_distinct∘flatten merge (KnownNotNull wrap)
    val nc = served.queryExecution.optimizedPlan.output
      .find(_.name == "n_customers")
    assert(nc.isDefined && !nc.get.nullable)
  }

  test("distinct aggregates WITHOUT a set partial are not derivable: no rewrite") {
    import org.apache.spark.sql.functions._
    MvRewriteQueries.mvRollup(spark, sf).queryExecution.executedPlan
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(MvRewrite.EnabledKey, "true")
    import s.implicits._
    // o_orderpriority has no collect_set partial in either view — must
    // scan raw (price joined the set-partial club in r10, custkey earlier)
    val distinct = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"), $"o_orderpriority")
      .groupBy($"yr").agg(countDistinct($"o_orderpriority").as("n"))
    assert(scanRoots(distinct).forall(_.contains("orders.parquet")),
      "a coarser-grain distinct aggregate with no set partial must bail")
    // …and a distinct aggregate OUTSIDE the count/sum/avg trio bails even
    // where a set exists (multi-child count distinct has no set-union form)
    val multiDistinct = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"), $"o_custkey",
        $"o_orderstatus")
      .groupBy($"yr")
      .agg(expr("count(DISTINCT o_custkey, o_orderstatus)").as("n"))
    assert(scanRoots(multiDistinct).forall(_.contains("orders.parquet")),
      "multi-child count(distinct) must bail")
  }

  test("float-bearing set partials refuse the distinct merge (signed zeros)") {
    import org.apache.spark.sql.functions._
    // a view storing collect_set of a DOUBLE: the direct distinct path
    // normalizes -0.0/0.0 before deduplication, set union cannot — the
    // merge must decline rather than miscount
    val defining = {
      val o = Tables.orders(spark, sf)
      o.select(year(o("o_orderdate")).cast("int").as("yr"), o("o_totalprice"))
        .groupBy(col("yr"))
        .agg(collect_set(col("o_totalprice")).as("price_set"),
          count(lit(1)).as("n"))
    }
    val dir = s"${sys.props("java.io.tmpdir")}/graft-mv-double-set"
    defining.write.mode("overwrite").parquet(dir)
    assert(MvRewrite.register("mv_double_set_test", defining,
      spark.read.parquet(dir)))
    try {
      val s = spark.newSession()
      GraftExtensions.install(s)
      s.conf.set(MvRewrite.EnabledKey, "true")
      val o = Tables.orders(s, sf)
      val q = o.select(year(o("o_orderdate")).cast("int").as("yr"),
          o("o_totalprice"))
        .agg(countDistinct(col("o_totalprice")).as("n"))
      assert(scanRoots(q).forall(_.contains("orders.parquet")),
        "a double-element set partial must not serve count(distinct)")
    } finally MvRewrite.deregister("mv_double_set_test")
  }

  test("two servable views over one base: the coarsest serving grain wins, " +
      "deterministically, under AQE") {
    import org.apache.spark.sql.functions._
    // Two views over the SAME lineitem base, both able to serve a yearly
    // consumer by roll-up: coarse grain (yr, l_returnflag) and fine grain
    // (yr, mo, l_returnflag). Selection must be the documented policy —
    // coarsest serving grain first (nearest the query's own grain: fewest
    // view rows scanned; an exact match degenerates to a pure Project) —
    // not a catalog-hash accident. Names are chosen ADVERSARIALLY to the
    // tie-break (the fine view sorts FIRST by name), so a name-ordered or
    // hash-ordered implementation fails here.
    val dir = s"${sys.props("java.io.tmpdir")}/graft-mv-two-views"
    def keyed(d: DataFrame) = d.select(
      year(col("l_shipdate")).cast("int").as("yr"),
      month(col("l_shipdate")).cast("int").as("mo"),
      col("l_returnflag"),
      col("l_linenumber").cast("long").as("ln"))
    val base = keyed(Tables.lineitem(spark, sf))
    val defFine = base.groupBy(col("yr"), col("mo"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("ln")).as("s"))
    val defCoarse = base.groupBy(col("yr"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("ln")).as("s"))
    defFine.write.mode("overwrite").parquet(s"$dir/fine")
    defCoarse.write.mode("overwrite").parquet(s"$dir/coarse")
    assert(MvRewrite.register("mv_det_a_fine", defFine,
      spark.read.parquet(s"$dir/fine")))
    assert(MvRewrite.register("mv_det_z_coarse", defCoarse,
      spark.read.parquet(s"$dir/coarse")))
    try {
      def arm(aqe: Boolean) = {
        val s = spark.newSession()
        GraftExtensions.install(s)
        s.conf.set(MvRewrite.EnabledKey, "true")
        s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        if (aqe) s.conf.set("spark.sql.adaptive.forceApply", "true")
        keyed(Tables.lineitem(s, sf)).groupBy(col("yr"))
          .agg(count(lit(1)).as("n"), sum(col("ln")).as("s"))
          .orderBy(col("yr"))
      }
      for (aqe <- Seq(false, true)) {
        val q = arm(aqe)
        val roots = scanRoots(q)
        assert(roots.nonEmpty && roots.forall(_.contains("two-views/coarse")),
          s"the COARSEST serving view must win (aqe=$aqe), got $roots")
        // and it serves correctly: rows equal the raw computation
        val raw = keyed(Tables.lineitem(spark, sf)).groupBy(col("yr"))
          .agg(count(lit(1)).as("n"), sum(col("ln")).as("s"))
          .orderBy(col("yr"))
        assert(q.collect().toSeq == raw.collect().toSeq)
      }
    } finally {
      MvRewrite.deregister("mv_det_a_fine")
      MvRewrite.deregister("mv_det_z_coarse")
    }
  }

  test("coarser-grain SUM/AVG(DISTINCT) merge from the set partial") {
    val served = MvRewriteQueries.mvDistinctStats(spark, sf)
    val roots = scanRoots(served)
    assert(roots.nonEmpty && roots.forall(_.contains("_distinct")),
      s"distinct-stats must be served from the set-partial view, got $roots")
    // bit equality vs the direct (un-rewritten) aggregates: the decimal
    // fold is exact in any order, and the avg divide replicates Average's
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val direct = Tables.orders(spark, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      .groupBy($"yr")
      .agg(sum_distinct($"price").cast("double").as("sum_distinct_price"),
        expr("avg(DISTINCT price)").cast("double").as("avg_distinct_price"),
        countDistinct($"price").as("n_price_points"))
      .orderBy($"yr")
    assert(served.collect().toSeq == direct.collect().toSeq)
  }
}

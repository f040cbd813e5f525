package graft

import graft.plans.{MergeUnionAggregates, RerollExpandAggregate, UnionMergeQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Plan gates, negative controls, and corner pins for
  * [[graft.plans.MergeUnionAggregates]]. Result correctness of the
  * registered query is the DuckDB oracle's job (`opt_union_merge_rollup`);
  * this spec pins the SHAPE — one scan, one Expand — and the soundness
  * corners the rewrite must refuse.
  */
class UnionMergeSpec extends SparkSpec {

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  private def expands(df: DataFrame): Seq[org.apache.spark.sql.execution.ExpandExec] =
    collectAll(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }

  private def onSession(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(MergeUnionAggregates.EnabledKey, "true")
    s
  }

  test("three same-source grains merge to ONE scan and one Expand") {
    val merged = UnionMergeQueries.merged(spark, sf)
    assert(scans(merged).size == 1,
      s"expected one parquet scan, got ${scans(merged).size}")
    assert(expands(merged).size == 1,
      s"expected one Expand, got ${expands(merged).size}")
    // identical rows to the stock three-scan plan
    val stock = UnionMergeQueries.stock(spark, sf)
    assert(scans(stock).size == 3, "the control must really run three scans")
    assert(merged.collect().toSeq == stock.collect().toSeq)
  }

  test("global branch merges as the empty grouping set; guard keeps the " +
      "one-row-vs-zero-row contract on an EMPTY source") {
    val s = onSession()
    import s.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft-uam-empty"
    Tables.orders(s, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    def keyed(d: String) = Tables.orders(s, d)
      .select(year($"o_orderdate").cast("int").as("yr"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
    def u(d: String) = {
      val grouped = keyed(d).groupBy($"yr")
        .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select($"yr", $"n", $"s")
      val global = keyed(d).agg(count(lit(1)).as("n"),
          expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select(lit(null).cast("int").as("yr"), $"n", $"s")
      grouped.union(global)
    }
    // EMPTY source: the merged grouped aggregate emits zero rows, so the
    // guard child must supply the global branch's one row (count 0, null
    // sum) — exactly the stock union's output
    val rows = u(dir).collect()
    assert(rows.toSeq.map(r => (r.isNullAt(0), r.getLong(1), r.isNullAt(2))) ==
      Seq((true, 0L, true)),
      s"empty base: exactly the global branch's 0-count row, got ${rows.toSeq}")
    // and the merged plan really IS merged: ONE distinct logical scan (the
    // guard re-aggregates the merged subtree, which shares the same base)
    val rels = u(dir).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case _ => r.toString
        }
    }
    assert(rels.distinct.size == 1,
      s"global+grouped must merge over one base, got $rels")
    // NON-empty source: global row computed through the merged Expand, the
    // guard contributes nothing; rows match the stock (rule-off) union
    val onRows = u(sf).collect().toSeq.sortBy(_.toString)
    val offRows = {
      val s2 = spark.newSession()
      import s2.implicits._
      val keyed2 = Tables.orders(s2, sf)
        .select(year($"o_orderdate").cast("int").as("yr"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      val grouped2 = keyed2.groupBy($"yr")
        .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select($"yr", $"n", $"s")
      grouped2.union(keyed2.agg(count(lit(1)).as("n"),
          expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select(lit(null).cast("int").as("yr"), $"n", $"s"))
        .collect().toSeq.sortBy(_.toString)
    }
    assert(onRows == offRows)
    // the physical plan reuses the merged exchange for the guard: one scan
    assert(scans(u(sf)).map(x => System.identityHashCode(x.relation)).distinct.size == 1,
      "guard must ride the reused exchange, not a second scan")
  }

  test("opt_union_merge_total's physical plan carries a ReusedExchangeExec " +
      "and exactly one parquet scan (the guard's single-scan claim)") {
    // The empty-input guard's docstring claims it "rides the reused
    // exchange" — assert the physical artifact itself, so a future planner
    // change that silently re-plans the guard as a second scan fails here
    // instead of doubling the read at scale.
    val df = UnionMergeQueries.mergedTotal(spark, sf)
    // execute first — THIS QueryExecution, so collect(), not a noop write
    // (which plans a separate execution): under AQE, exchange reuse
    // happens at stage materialization — the pre-execution plan shows two
    // identical exchanges, the FINAL plan shows one ReusedExchangeExec
    df.collect()
    val plan = df.queryExecution.executedPlan
    val reusedEx = collectAll(plan) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    assert(reusedEx.nonEmpty,
      s"expected a ReusedExchangeExec (guard riding the merged exchange):\n$plan")
    assert(scans(df).size == 1,
      s"expected exactly one parquet scan, got ${scans(df).size}")
  }

  test("duplicate grains double the rows, exactly like the original union") {
    val s = onSession()
    import s.implicits._
    def branch = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"))
      .groupBy($"yr").agg(count(lit(1)).as("n"))
    val u = branch.union(branch)
    assert(scans(u).size == 1, "duplicate grains still merge to one scan")
    val rows = u.collect().toSeq
    val off = branch.collect().toSeq
    assert(rows.sortBy(_.getInt(0)) ==
      (off ++ off).sortBy(_.getInt(0)),
      "each duplicated branch must keep its own copy of every group")
  }

  test("different sources do not merge; distinct aggregates do not merge") {
    val s = onSession()
    import s.implicits._
    val o = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n"))
    val c = Tables.customer(s, sf)
      .select(($"c_nationkey" % 5).cast("int").as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n"))
    assert(scans(o.union(c)).size == 2, "different sources must not merge")
    val d1 = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("k"), $"o_custkey")
      .groupBy($"k").agg(countDistinct($"o_custkey").as("n"))
    val d2 = Tables.orders(s, sf)
      .select(month($"o_orderdate").cast("int").as("k"), $"o_custkey")
      .groupBy($"k").agg(countDistinct($"o_custkey").as("n"))
    assert(scans(d1.union(d2)).size == 2,
      "distinct aggregates must not merge (post-hoc planning contract)")
  }

  test("off where the rule is present until the key is set") {
    def stack(s: SparkSession) = {
      import s.implicits._
      def branch = Tables.orders(s, sf)
        .select(year($"o_orderdate").cast("int").as("yr"))
        .groupBy($"yr").agg(count(lit(1)).as("n"))
      branch.union(branch)
    }
    // a child of the extension-built harness session holds the rule twice
    // (operator batch and installed batch); with its key unset it plans
    // the stock K-scan union
    val s = plans.ChildSession(spark)
    assert(s.experimental.extraOptimizations.contains(MergeUnionAggregates))
    assert(scans(stack(s)).size == 2, "the rule must stay off with its key unset")
    s.conf.set(MergeUnionAggregates.EnabledKey, "true")
    assert(scans(stack(s)).size == 1, "the key must turn the merge on")
  }

  test("composes with the re-roll rule: merged Expand feeds from a leaf aggregate") {
    val s = onSession()
    s.conf.set(RerollExpandAggregate.EnabledKey, "true")
    // gate off entirely: the point here is composition, not the cost model
    s.conf.set(RerollExpandAggregate.ProbeRowsKey, "0")
    import s.implicits._
    def keyed = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
    val u = keyed.groupBy($"yr", $"mo")
      .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
      .select($"yr", $"mo", $"n", $"s")
      .union(keyed.groupBy($"yr")
        .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select($"yr", lit(null).cast("int").as("mo"), $"n", $"s"))
      .orderBy($"yr".asc_nulls_first, $"mo".asc_nulls_first)
    assert(scans(u).size == 1, "still one scan under both rules")
    // the re-roll leaves TWO aggregates: leaf (below Expand) + merge (above)
    val aggs = u.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 2,
      s"expected leaf+merge aggregates after composition, got ${aggs.size}")
    // and the Expand must sit ABOVE the leaf aggregate
    val expandChildIsAgg = u.queryExecution.optimizedPlan.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand =>
        e.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]
    }
    assert(expandChildIsAgg.contains(true),
      "the composed plan must replicate leaf-grain rows, not corpus rows")
    // rows match the stock session
    val stock = {
      import spark.implicits._
      def k2 = Tables.orders(spark, sf)
        .select(year($"o_orderdate").cast("int").as("yr"),
          month($"o_orderdate").cast("int").as("mo"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      k2.groupBy($"yr", $"mo")
        .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select($"yr", $"mo", $"n", $"s")
        .union(k2.groupBy($"yr")
          .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
          .select($"yr", lit(null).cast("int").as("mo"), $"n", $"s"))
        .orderBy($"yr".asc_nulls_first, $"mo".asc_nulls_first)
    }
    assert(u.collect().toSeq == stock.collect().toSeq)
  }

  test("mixed aggregate functions per position and ratio outputs merge") {
    val s = onSession()
    import s.implicits._
    def keyed = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
    // position 1 is SUM in one branch, MAX in the other; position 2 is a
    // post-computed ratio over two aggregates — the gid switch must
    // rebuild each branch's expression from the pooled aggregates
    val a = keyed.groupBy($"yr")
      .agg(expr("CAST(sum(price) AS DOUBLE)").as("v"),
        expr("CAST(sum(price) AS DOUBLE) / count(1)").as("r"))
      .select($"yr", $"v", $"r")
    val b = keyed.groupBy($"mo")
      .agg(expr("CAST(max(price) AS DOUBLE)").as("v"),
        expr("CAST(min(price) AS DOUBLE) / count(1)").as("r"))
      .select($"mo".as("yr"), $"v", $"r")
    val u = a.union(b).orderBy($"yr".asc_nulls_first, $"v", $"r")
    assert(scans(u).size == 1, s"expected one scan, got ${scans(u).size}")
    val stock = {
      import spark.implicits._
      def k2 = Tables.orders(spark, sf)
        .select(year($"o_orderdate").cast("int").as("yr"),
          month($"o_orderdate").cast("int").as("mo"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      val a2 = k2.groupBy($"yr")
        .agg(expr("CAST(sum(price) AS DOUBLE)").as("v"),
          expr("CAST(sum(price) AS DOUBLE) / count(1)").as("r"))
        .select($"yr", $"v", $"r")
      val b2 = k2.groupBy($"mo")
        .agg(expr("CAST(max(price) AS DOUBLE)").as("v"),
          expr("CAST(min(price) AS DOUBLE) / count(1)").as("r"))
        .select($"mo".as("yr"), $"v", $"r")
      a2.union(b2).orderBy($"yr".asc_nulls_first, $"v", $"r")
    }
    assert(u.collect().toSeq == stock.collect().toSeq)
  }

  test("a shared filter merges and applies once; mismatched filters bail") {
    val s = onSession()
    import s.implicits._
    def keyed = Tables.orders(s, sf)
      .select(year($"o_orderdate").cast("int").as("yr"),
        month($"o_orderdate").cast("int").as("mo"),
        expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
    def grain(f: DataFrame => DataFrame, lo: Int) = f(keyed)
      .filter($"mo" >= lo)
      .groupBy($"yr").agg(count(lit(1)).as("n")).select($"yr", $"n")
    // same predicate on both branches: merged, and the scan carries it
    val shared = grain(identity, 7)
      .union(keyed.filter($"mo" >= 7).groupBy($"mo").agg(count(lit(1)).as("n"))
        .select($"mo".as("yr"), $"n"))
    assert(scans(shared).size == 1,
      s"shared-filter branches must merge, got ${scans(shared).size} scans")
    val pushed = scans(shared).head.dataFilters
    assert(pushed.nonEmpty, "the shared predicate must reach the scan")
    val stock = {
      import spark.implicits._
      def k2 = Tables.orders(spark, sf)
        .select(year($"o_orderdate").cast("int").as("yr"),
          month($"o_orderdate").cast("int").as("mo"))
      k2.filter($"mo" >= 7).groupBy($"yr").agg(count(lit(1)).as("n"))
        .select($"yr", $"n")
        .union(k2.filter($"mo" >= 7).groupBy($"mo").agg(count(lit(1)).as("n"))
          .select($"mo".as("yr"), $"n"))
    }
    assert(shared.collect().toSeq.sortBy(r => (r.getInt(0), r.getLong(1))) ==
      stock.collect().toSeq.sortBy(r => (r.getInt(0), r.getLong(1))))
    // DIFFERENT predicates: not the same row source — must not merge
    val mismatched = grain(identity, 7).union(grain(identity, 4))
    assert(scans(mismatched).size == 2,
      "branches with different predicates must stay separate")
  }

  test("merge composes with AQE: same rows, still one scan") {
    def pipeline(s: SparkSession) = {
      import org.apache.spark.sql.functions._
      val keyed = Tables.orders(s, sf)
        .select(year(col("o_orderdate")).cast("int").as("yr"),
          month(col("o_orderdate")).cast("int").as("mo"),
          expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
      keyed.groupBy(col("yr"), col("mo"))
        .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
        .select(col("yr"), col("mo"), col("n"), col("s"))
        .union(keyed.groupBy(col("yr"))
          .agg(count(lit(1)).as("n"), expr("CAST(sum(price) AS DOUBLE)").as("s"))
          .select(col("yr"), lit(null).cast("int").as("mo"), col("n"), col("s")))
        .orderBy(col("yr").asc_nulls_first, col("mo").asc_nulls_first)
    }
    def session(aqe: Boolean) = {
      val s = onSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      if (aqe) s.conf.set("spark.sql.adaptive.forceApply", "true")
      s
    }
    val on = pipeline(session(aqe = true))
    val off = pipeline(session(aqe = false))
    assert(scans(on).size == 1,
      s"AQE must not undo the merge, got ${scans(on).size} scans")
    assert(scans(off).size == 1)
    assert(on.collect().toSeq == off.collect().toSeq)
  }

  test("output exprIds, types, and non-nullability survive the rewrite") {
    val s = onSession()
    import s.implicits._
    def branch(by: String) = {
      val keyed = Tables.orders(s, sf)
        .select(year($"o_orderdate").cast("int").as("yr"),
          month($"o_orderdate").cast("int").as("mo"))
      keyed.groupBy(col(by)).agg(count(lit(1)).as("n"))
        .select(col(by).as("k"), $"n")
    }
    val u = branch("yr").union(branch("mo"))
    val analyzed = u.queryExecution.analyzed
    val optimized = u.queryExecution.optimizedPlan
    assert(optimized.output.map(a => (a.exprId, a.dataType)) ==
      analyzed.output.map(a => (a.exprId, a.dataType)))
    // count stays non-nullable through the gid switch (KnownNotNull wrap)
    val n = optimized.output.find(_.name == "n")
    assert(n.isDefined && !n.get.nullable)
    u.collect()
  }
}

package graft

import graft.plans.{EagerAggregation, EagerAggregationQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Soundness and plan gates for [[graft.plans.EagerAggregation]] — the
  * corners the shared DuckDB oracle can't reach (unmatched fact keys,
  * null keys, global aggregates, bail conditions) plus the structural
  * claim (an Aggregate on the fact side BELOW the join).
  */
class EagerAggSpec extends SparkSpec {

  private def ruleSession: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(EagerAggregation.EnabledKey, "true")
    s
  }

  /** Did the rule fire? Its leaf aggregate is the only producer of
    * `_eager_*` columns, and BY CONSTRUCTION it sits on the fact side of
    * the join (the dim side's own dedup Aggregate must not count, so a
    * generic aggregate-below-join probe would be wrong here).
    */
  private def aggBelowJoin(df: DataFrame): Boolean = {
    val joins = collectAll(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec  => j
      case j: SortMergeJoinExec     => j
    }
    joins.exists(j => j.children.exists(c => collectAll(c) {
      case a: HashAggregateExec
          if a.output.exists(_.name.startsWith("_eager_")) => a
      case a: ObjectHashAggregateExec
          if a.output.exists(_.name.startsWith("_eager_")) => a
      case a: SortAggregateExec
          if a.output.exists(_.name.startsWith("_eager_")) => a
    }.nonEmpty))
  }

  test("rule collapses the fact side below the join; baseline does not") {
    assert(aggBelowJoin(EagerAggregationQueries.eager(spark, sf)))
    assert(!aggBelowJoin(EagerAggregationQueries.baseline(spark, sf)))
  }

  test("results are row-identical to the un-pushed plan") {
    assert(EagerAggregationQueries.eager(spark, sf).collect().toSeq ==
      EagerAggregationQueries.baseline(spark, sf).collect().toSeq)
  }

  /** Planted fact/dim with unmatched and null fact keys: the inner join
    * must drop those leaf groups whole, exactly like the original.
    */
  private def planted(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val fact = Seq[(java.lang.Long, Long)](
      (1L, 10L), (1L, 20L), (2L, 5L), (7L, 99L), // 7 has no dim row
      (null, 1000L), (null, 2000L)               // null keys never match
    ).toDF("k", "v")
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("dk", "grp")
      .dropDuplicates("dk")
    (fact, dim)
  }

  test("unmatched and null fact keys drop as whole groups (inner-join parity)") {
    val s = ruleSession
    val (fact, dim) = planted(s)
    import s.implicits._
    val q = fact.join(dim, $"k" === $"dk")
      .groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .orderBy($"grp")
    assert(aggBelowJoin(q), "rule should fire on the planted star")
    val rows = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", 2L, 30L), ("b", 1L, 5L)))
  }

  test("global aggregate over a no-match join: count 0, sum null") {
    val s = ruleSession
    import s.implicits._
    val fact = Seq((7L, 10L), (8L, 20L)).toDF("k", "v")
    val dim = Seq((1L, "a")).toDF("dk", "grp").dropDuplicates("dk")
    val q = fact.join(dim, $"k" === $"dk")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    assert(aggBelowJoin(q))
    val row = q.collect().head
    assert(row.getLong(0) == 0L, "count over the empty join must be 0")
    assert(row.isNullAt(1), "sum over the empty join stays null")
  }

  test("mixed grouping: a computed fact-side expression joins the leaf keys") {
    val s = ruleSession
    val (fact, dim) = planted(s)
    import s.implicits._
    import org.apache.spark.sql.functions._
    // group by a dim attr AND a computed fact expression (v % 2): the
    // fact expr must become a leaf key (aliased — not a bare attribute),
    // and the result must match the un-pushed plan row for row
    val q = fact.join(dim, $"k" === $"dk")
      .groupBy($"grp", ($"v" % 2).as("parity"))
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"), min($"v").as("mv"))
      .orderBy($"grp", $"parity")
    assert(aggBelowJoin(q), "rule should fire with mixed grouping")
    val s2 = spark.newSession() // no rule: the control
    val (fact2, dim2) = planted(s2)
    val control = fact2.join(dim2, fact2("k") === dim2("dk"))
      .groupBy(dim2("grp"), (fact2("v") % 2).as("parity"))
      .agg(count(lit(1)).as("n"), sum(fact2("v")).as("sv"),
        min(fact2("v")).as("mv"))
      .orderBy(dim2("grp"), col("parity"))
    assert(q.collect().toSeq.map(_.toString) ==
      control.collect().toSeq.map(_.toString))
  }

  /** The r10 cost gate: a near-unique leaf grain (every fact row its own
    * group) pays the leaf exchange for nothing — the rule must DECLINE,
    * not fire unconditionally. The collapsing twin and the probe-disabled
    * escape hatch pin the gate from both sides.
    */
  test("cost gate declines a near-unique leaf grain, keeps a collapsing one") {
    val s = ruleSession
    // isolate the RATIO axis: zero both saved-work floors (5000-row
    // fixtures are far under the 4 MiB byte default, covered by the
    // floor test below)
    s.conf.set(EagerAggregation.MinSavedRowsKey, "0")
    s.conf.set(EagerAggregation.MinSavedBytesKey, "0")
    import s.implicits._
    // 5000 rows ≥ the gate's MinRows floor; key = id → ratio ≈ 1.0
    val factU = s.range(5000).selectExpr("id AS k", "id % 7 AS v")
    val dimU = s.range(5000)
      .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
      .dropDuplicates("dk")
    val qU = factU.join(dimU, $"k" === $"dk")
      .groupBy($"grp").agg(sum($"v").as("sv")).orderBy($"grp")
    assert(!aggBelowJoin(qU), "near-unique leaf grain must decline")
    // declined ≠ broken: results still correct through the stock plan
    assert(qU.collect().map(_.getLong(1)).sum ==
      (0L until 5000L).map(_ % 7).sum)

    // same size, key = id % 50 → ratio ≈ 0.01: fires
    val factC = s.range(5000).selectExpr("id % 50 AS k", "id % 7 AS v")
    val dimC = s.range(50)
      .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
      .dropDuplicates("dk")
    val qC = factC.join(dimC, $"k" === $"dk")
      .groupBy($"grp").agg(sum($"v").as("sv"))
    assert(aggBelowJoin(qC), "collapsing leaf grain must still fire")

    // probe disabled → pre-gate behavior (fires even on the unique grain)
    val s2 = ruleSession
    s2.conf.set(EagerAggregation.ProbeRowsKey, "0")
    val factU2 = s2.range(5000).selectExpr("id AS k", "id % 7 AS v")
    val dimU2 = s2.range(5000)
      .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
      .dropDuplicates("dk")
    val qU2 = factU2.join(dimU2, factU2("k") === dimU2("dk"))
      .groupBy(dimU2("grp")).agg(sum(factU2("v")).as("sv"))
    assert(aggBelowJoin(qU2), "probeRows=0 must disable the gate")

    // the LIMIT-prefix probe is gone: a positive size is rejected by name
    val s3 = ruleSession
    s3.conf.set(EagerAggregation.ProbeRowsKey, "100")
    val factP = s3.range(5000).selectExpr("id AS k", "id % 7 AS v")
    val dimP = s3.range(5000)
      .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
      .dropDuplicates("dk")
    val err = intercept[Exception](factP.join(dimP, factP("k") === dimP("dk"))
      .groupBy(dimP("grp")).agg(sum(factP("v")).as("sv"))
      .queryExecution.optimizedPlan)
    val iae = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e }
    assert(iae.exists(_.getMessage.contains(EagerAggregation.ProbeRowsKey)), err)
  }

  test("probe result is cached across query constructions (one probe per plan)") {
    import graft.plans.EagerAggregation
    def q(sess: org.apache.spark.sql.SparkSession) = {
      import sess.implicits._
      val fact = sess.range(5000).selectExpr("id % 50 AS k", "id % 7 AS v")
      val dim = sess.range(50)
        .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
        .dropDuplicates("dk")
      fact.join(dim, $"k" === $"dk").groupBy($"grp").agg(sum($"v").as("sv"))
    }
    def fresh() = {
      val s = ruleSession
      s.conf.set(EagerAggregation.MinSavedRowsKey, "0")
      s
    }
    q(fresh()).queryExecution.optimizedPlan
    val n1 = EagerAggregation.gate.probeCacheSize
    // a SECOND construction of the same logical query (fresh session, fresh
    // exprIds) must hit the cache — Expression.canonicalized keeps live
    // exprIds, so a naive key made every build re-scan the fact (r11 bug)
    q(fresh()).queryExecution.optimizedPlan
    assert(EagerAggregation.gate.probeCacheSize == n1,
      "re-building the same query must not add a probe cache entry")
  }

  test("key-hash-sampled probe agrees with the exact probe on the sf0.1 fact") {
    import org.apache.spark.sql.functions.col
    def ratio(key: String, mod: Int): Double = {
      val df = Tables.lineitem(spark, "/root/testdata/sf0.1").select(col(key))
      val r = graft.plans.CollapseGate.probeAgg(df, Seq(col(key)), mod).head()
      assert(r.getLong(0) == 600000L, "n is the exact total either way")
      if (r.getLong(1) == 0) 0.0 else r.getLong(2).toDouble / r.getLong(1)
    }
    // moderate collapse (4 line items per order, true ratio 0.25): the
    // 1/16 key sample must estimate it within HLL noise — the LIMIT-prefix
    // probe read this same fact as ~0.73 (the bias the sample removes)
    val s1 = ratio("l_orderkey", 16)
    val f1 = ratio("l_orderkey", 1)
    assert(math.abs(s1 - f1) / f1 < 0.15, s"sampled $s1 vs exact $f1")
    // extreme collapse (~600:1): only ~60 of 1000 keys survive the sample,
    // yet the estimate stays on the fire side of the 0.1 default by 10×
    val s2 = ratio("l_suppkey", 16)
    assert(s2 < 0.01 && ratio("l_suppkey", 1) < 0.01,
      s"extreme collapse must read extreme: sampled $s2")
  }

  test("cost gate's saved-bytes floor declines small facts at any ratio") {
    def q(sess: org.apache.spark.sql.SparkSession) = {
      import sess.implicits._
      val fact = sess.range(5000).selectExpr("id % 50 AS k", "id % 7 AS v")
      val dim = sess.range(50)
        .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
        .dropDuplicates("dk")
      fact.join(dim, $"k" === $"dk").groupBy($"grp").agg(sum($"v").as("sv"))
    }
    // 100:1 collapse, but ~5k saved rows × 16-byte width ≈ 79 KB removed
    // from the join exchange is far under the 4 MiB default byte floor
    // (this rule's win axis is shuffle bytes — the r11 ROW floor declined
    // a fixture its own ledger measured wall-positive): decline
    assert(!aggBelowJoin(q(ruleSession)), "79KB saved is under the byte floor")
    // the floor is the only objection: clear it and the same plan fires
    val s2 = ruleSession
    s2.conf.set(EagerAggregation.MinSavedBytesKey, "60000")
    assert(aggBelowJoin(q(s2)), "floor cleared (~79KB ≥ 60KB): fires")
    // the ROWS floor still composes (default 0 for this rule): raising it
    // re-declines the same plan
    val s3 = ruleSession
    s3.conf.set(EagerAggregation.MinSavedBytesKey, "60000")
    s3.conf.set(EagerAggregation.MinSavedRowsKey, "1000000")
    assert(!aggBelowJoin(q(s3)), "row floor composes with the byte floor")
  }

  test("file-bounded probe: deterministic subset, scaled rows, " +
      "conservative ratio, gate still fires end-to-end") {
    import graft.plans.{CollapseGate, EagerAggregation}
    import org.apache.spark.sql.functions.col
    // a genuinely multi-file relation (8 round-robin files, 80k rows)
    val dir = s"${sys.props("java.io.tmpdir")}/graft-gate-bound"
    spark.range(80000).selectExpr("id % 100 AS k", "id AS v")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val keyDf = spark.read.parquet(dir).select(col("k"))
    def probe(frac: Double) =
      CollapseGate.boundedProbe(keyDf, Seq("k"), frac, 1)
    val (bounded, frac) = probe(0.25)
    assert(frac > 0.15 && frac < 0.45, s"kept byte fraction $frac")
    val b = bounded.head()
    // row estimate scales back by the byte fraction: within 30% of truth
    val est = b.getLong(0) / frac
    assert(math.abs(est - 80000.0) / 80000.0 < 0.30, s"row estimate $est")
    // ratio reads CONSERVATIVE (≥ the true 100/80000): keys span files, so
    // the subset over-observes distincts — biased toward declining, never
    // toward a spurious rewrite (the class doc's 1/p bound)
    val ratioB = b.getLong(2).toDouble / b.getLong(1)
    val trueRatio = 100.0 / 80000.0
    assert(ratioB >= trueRatio * 0.9 && ratioB <= trueRatio / frac * 1.5,
      s"bounded ratio $ratioB vs true $trueRatio (frac $frac)")
    // deterministic: a second bound yields the identical subset
    val b2 = probe(0.25)._1.head()
    assert(b.getLong(0) == b2.getLong(0) && b.getLong(2) == b2.getLong(2))
    // single-file inputs pass through unbounded
    assert(CollapseGate.boundFiles(
      Tables.lineitem(spark, sf).queryExecution.analyzed, 0.1)._2 == 1.0 ||
      sf.isEmpty) // sf0.001 lineitem is one file → fraction 1.0
    // end-to-end: the gate probes through the bounded scan and still FIRES
    // on this collapsing fact (ratio ≤ 1/frac × 0.00125 ≪ 0.1)
    val s = ruleSession
    s.conf.set(EagerAggregation.MinSavedBytesKey, "0")
    import s.implicits._
    val fact = s.read.parquet(dir)
    val dim = s.range(100)
      .selectExpr("id AS dk", "CAST(id % 3 AS STRING) AS grp")
      .dropDuplicates("dk")
    val q = fact.join(dim, $"k" === $"dk")
      .groupBy($"grp").agg(sum($"v").as("sv"))
    assert(aggBelowJoin(q), "bounded probe must not block a clear win")
  }

  test("avg pushes via the two-partial derivation (planted parity + no-match null)") {
    val s = ruleSession
    val (fact, dim) = planted(s)
    import s.implicits._
    val q = fact.join(dim, $"k" === $"dk")
      .groupBy($"grp")
      .agg(avg($"v").as("av"), sum($"v").as("sv"))
      .orderBy($"grp")
    assert(aggBelowJoin(q), "avg must not block the push")
    val rows = q.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", 15.0, 30L), ("b", 5.0, 5L)))
    // global aggregate over a no-match join: avg stays null (sum of no
    // partials is null, and null/null divides to null)
    val fact2 = Seq((7L, 10L)).toDF("k", "v")
    val dim2 = Seq((1L, "a")).toDF("dk", "grp").dropDuplicates("dk")
    val g = fact2.join(dim2, $"k" === $"dk").agg(avg($"v").as("av"))
    assert(aggBelowJoin(g))
    assert(g.collect().head.isNullAt(0), "avg over the empty join stays null")
  }

  test("bails without uniqueness evidence or with dim-side aggregates") {
    val s = ruleSession
    import s.implicits._
    // dim WITHOUT dropDuplicates: no structural uniqueness proof
    val fact = Seq((1L, 10L)).toDF("k", "v")
    val bare = Seq((1L, "a"), (1L, "b")).toDF("dk", "grp")
    val q1 = fact.join(bare, $"k" === $"dk")
      .groupBy($"grp").agg(sum($"v").as("sv"))
    assert(!aggBelowJoin(q1), "a bare dim side must bail (it can fan out)")
    // aggregate over a DIM column: not pushable to the fact side
    val dim = Seq((1L, 5L)).toDF("dk", "w").dropDuplicates("dk")
    val q2 = fact.join(dim, $"k" === $"dk")
      .groupBy($"k").agg(sum($"w").as("sw"))
    assert(!aggBelowJoin(q2), "dim-side aggregate inputs must bail")
  }
}

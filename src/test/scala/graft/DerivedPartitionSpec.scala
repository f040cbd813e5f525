package graft

import graft.plans.DerivedPartitionFilter
import graft.warehouse.PartitionedFact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Plan gates and soundness corners for
  * [[graft.plans.DerivedPartitionFilter]] — generated-column partition
  * pruning. Result correctness of the registered query is the DuckDB
  * oracle's job (`wh_derived_prune_scan`); this spec pins WHERE the scan
  * reads from (the executed PartitionFilters and partitions-read count)
  * and the shapes the rule must and must not touch.
  */
class DerivedPartitionSpec extends SparkSpec {

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val scans = collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one scan, got ${scans.size}")
    scans.head
  }

  /** Partitions actually read, from the scan's own SQL metric (populated
    * at execution — hence the collect() first).
    */
  private def partitionsRead(df: DataFrame): Long = {
    df.collect()
    scanOf(df).metrics("numPartitions").value
  }

  test("date-range filter on the data column prunes the month layout to " +
      "the implied months; rows match the rule-off twin") {
    val on = PartitionedFact.derivedPruneScan(spark, sf)
    val scan = scanOf(on)
    assert(scan.partitionFilters.exists(
        _.references.exists(_.name == "month_key")),
      s"executed scan must carry an implied month_key partition filter, " +
        s"got ${scan.partitionFilters}")
    // Jan 15 .. Apr 10 implies months 199601..199604: exactly 4 read
    val onParts = partitionsRead(on)
    assert(onParts == 4, s"expected 4 partitions read, got $onParts")
    val off = PartitionedFact.derivedPruneScanOff(spark, sf)
    val offParts = partitionsRead(off)
    assert(offParts > 10,
      s"the control must really scan the whole layout, got $offParts")
    assert(on.collect().toSeq == off.collect().toSeq,
      "implied predicates must not change results (they are strictly weaker)")
  }

  test("sidecar durability: cleared registry + fresh session still prunes " +
      "(the 100 TB reader is never the writer's JVM)") {
    // land the layout (writes _graft_derivations.json), then simulate a
    // reader process: wipe every in-memory registration and prune anyway
    val path = PartitionedFact.monthLayoutPath(spark, sf)
    DerivedPartitionFilter.clear()
    val s = ruleSession()
    val q = s.read.parquet(path)
      .filter(col("date_key") >= PartitionedFact.DateLo &&
        col("date_key") <= PartitionedFact.DateHi)
      .groupBy(col("month_key")).agg(count(lit(1)).as("n"))
    val scan = scanOf(q)
    assert(scan.partitionFilters.exists(
        _.references.exists(_.name == "month_key")),
      s"sidecar-loaded derivation must imply a month_key partition " +
        s"filter, got ${scan.partitionFilters}")
    assert(partitionsRead(q) == 4,
      "a fresh session must prune from the persisted sidecar alone")
  }

  test("DateType filter on encounter_date prunes via the yyyymm " +
      "derivation; rows match the stock twin") {
    val on = PartitionedFact.datePruneScan(spark, sf)
    val scan = scanOf(on)
    assert(scan.partitionFilters.exists(
        _.references.exists(_.name == "month_key")),
      s"executed scan must carry an implied month_key partition filter, " +
        s"got ${scan.partitionFilters}")
    // Feb 10 .. May 20 1997 implies months 199702..199705: exactly 4 read
    val onParts = partitionsRead(on)
    assert(onParts == 4, s"expected 4 partitions read, got $onParts")
    // stock twin: same query, no rule — results identical
    val path = PartitionedFact.monthLayoutPath(spark, sf)
    val off = spark.read.parquet(path)
      .filter(col("encounter_date") >=
          lit(java.sql.Date.valueOf(PartitionedFact.DateLitLo)) &&
        col("encounter_date") <=
          lit(java.sql.Date.valueOf(PartitionedFact.DateLitHi)))
      .groupBy(col("month_key"))
      .agg(count(lit(1)).as("n_encounters"),
        countDistinct(col("patient_key")).as("n_patients"),
        sum(col("num_procedures")).as("total_procedures"))
      .orderBy(col("month_key"))
    assert(on.collect().toSeq == off.collect().toSeq,
      "implied date-derived predicates must not change results")
  }

  // ---- planted layout for the shape corners -------------------------------

  private def planted(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-derived-part/$tag"
    spark.range(1000).selectExpr("id", "id % 7 AS v")
      .withColumn("pk", (col("id") / 100).cast("int"))
      .write.mode("overwrite").partitionBy("pk").parquet(dir)
    dir
  }

  private def ruleSession(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set(DerivedPartitionFilter.EnabledKey, "true")
    s
  }

  test("equality, IN, and strict-bound shapes derive; results stay exact") {
    val dir = planted("shapes")
    DerivedPartitionFilter.register(dir, "id", "pk", 100L)
    val s = ruleSession()
    def q(f: DataFrame => DataFrame): DataFrame =
      f(s.read.parquet(dir)).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def stock(f: DataFrame => DataFrame): Seq[String] =
      f(spark.read.parquet(dir))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .collect().map(_.toString).toSeq

    // equality: id = 250 → pk = 2, one partition read
    val eq = q(_.filter(col("id") === 250))
    assert(partitionsRead(eq) == 1, "equality must prune to one partition")
    assert(eq.collect().map(_.toString).toSeq == stock(_.filter(col("id") === 250)))

    // IN: ids across two partitions → pk IN (0, 7)
    val in = q(_.filter(col("id").isin(25L, 77L, 704L)))
    assert(partitionsRead(in) == 2, "IN must prune to the implied partitions")
    assert(in.collect().map(_.toString).toSeq ==
      stock(_.filter(col("id").isin(25L, 77L, 704L))))

    // strict bounds: id > 199 && id < 401 → pk ∈ [1, 4] (sound, one month
    // loose on each open end — the original predicate keeps it exact)
    val rng = q(_.filter(col("id") > 199 && col("id") < 401))
    val nParts = partitionsRead(rng)
    assert(nParts <= 4 && nParts >= 3, s"strict bounds must prune, got $nParts")
    assert(rng.collect().map(_.toString).toSeq ==
      stock(_.filter(col("id") > 199 && col("id") < 401)))
  }

  test("negative controls: disabled session, unregistered path, and a " +
      "computed look-alike column stay untouched") {
    val dir = planted("neg")
    DerivedPartitionFilter.register(dir, "id", "pk", 100L)
    // disabled session (rule installed but not enabled): no derivation
    val off = spark.newSession()
    GraftExtensions.install(off)
    val q1 = off.read.parquet(dir).filter(col("id") === 250)
      .agg(count(lit(1)))
    assert(scanOf(q1).partitionFilters.isEmpty,
      "disabled session must not derive")
    // unregistered sibling path: enabled session, no derivation
    val dir2 = planted("neg-unreg")
    val s = ruleSession()
    val q2 = s.read.parquet(dir2).filter(col("id") === 250)
      .agg(count(lit(1)))
    assert(scanOf(q2).partitionFilters.isEmpty,
      "unregistered relation must not derive")
    // a COMPUTED column named like the data column breaks the exprId
    // match (the projection sits between the filter and the relation):
    // the rule must not derive from the look-alike
    val q3 = s.read.parquet(dir)
      .select((col("id") + 1000000).as("id"), col("v"), col("pk"))
      .filter(col("id") === 1000250)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(q3).partitionFilters.isEmpty,
      "a computed look-alike must not derive a (wrong) partition filter")
    // and its result is exact
    assert(q3.collect().head.getLong(0) == 1L)
  }

  test("date-planted layout: yyyymm equality, range across a year " +
      "boundary, and IN all derive; results stay exact") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-derived-part/dates"
    spark.range(0, 730)
      .withColumn("d", date_add(lit(java.sql.Date.valueOf("1995-06-15")),
        col("id").cast("int")))
      .withColumn("mk", (year(col("d")) * 100 + month(col("d"))).cast("int"))
      .write.mode("overwrite").partitionBy("mk").parquet(dir)
    DerivedPartitionFilter.registerDateMonth(dir, "d", "mk")
    val s = ruleSession()
    def dt(x: String) = lit(java.sql.Date.valueOf(x))
    def q(f: DataFrame => DataFrame): DataFrame =
      f(s.read.parquet(dir)).agg(count(lit(1)).as("n"), sum(col("id")).as("si"))
    def stock(f: DataFrame => DataFrame): Seq[String] =
      f(spark.read.parquet(dir))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("si"))
        .collect().map(_.toString).toSeq

    // equality: one partition
    val eq = q(_.filter(col("d") === dt("1995-08-20")))
    assert(partitionsRead(eq) == 1, "date equality must prune to one month")
    assert(eq.collect().map(_.toString).toSeq ==
      stock(_.filter(col("d") === dt("1995-08-20"))))

    // range across the year boundary: Nov 20 1995 .. Feb 9 1996 → 4 months
    val rng = q(_.filter(col("d") >= dt("1995-11-20") && col("d") < dt("1996-02-10")))
    assert(partitionsRead(rng) == 4,
      "a cross-year date range must prune to its 4 implied months")
    assert(rng.collect().map(_.toString).toSeq ==
      stock(_.filter(col("d") >= dt("1995-11-20") && col("d") < dt("1996-02-10"))))

    // IN across two months
    val in = q(_.filter(col("d").isin(
      java.sql.Date.valueOf("1995-07-04"), java.sql.Date.valueOf("1996-03-01"))))
    assert(partitionsRead(in) == 2, "date IN must prune to its months")
    assert(in.collect().map(_.toString).toSeq ==
      stock(_.filter(col("d").isin(
        java.sql.Date.valueOf("1995-07-04"), java.sql.Date.valueOf("1996-03-01")))))
  }

  test("register REPLACES a stale invariant for the same column triple; " +
      "deregister drops the prefix (the re-land hazard)") {
    val dir = planted("reland")
    // a stale WRONG invariant (divisor 10) followed by the layout's true
    // one: under the old append-only registry both would fire and the
    // stale one would derive pk = 25 — a partition that does not exist —
    // silently returning zero rows
    DerivedPartitionFilter.register(dir, "id", "pk", 10L)
    DerivedPartitionFilter.register(dir, "id", "pk", 100L)
    val s = ruleSession()
    val q1 = s.read.parquet(dir).filter(col("id") === 250)
      .agg(count(lit(1)).as("n"))
    assert(q1.collect().head.getLong(0) == 1L,
      "the re-registration must have replaced the stale invariant")
    assert(partitionsRead(q1) == 1)
    // deregister: the enabled session stops deriving for this layout
    DerivedPartitionFilter.deregister(dir)
    val q2 = s.read.parquet(dir).filter(col("id") === 250)
      .agg(count(lit(1)).as("n"))
    assert(scanOf(q2).partitionFilters.isEmpty,
      "deregistered prefix must not derive")
    assert(q2.collect().head.getLong(0) == 1L)
  }

  test("property: pruned results ≡ rule-off results across random " +
      "predicate lattices (bounds, IN, negatives, nulls, multiples)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // layout with a NULL stripe: ids 0..999 plus 100 null-id rows (null
    // data ⇒ null partition key — the invariant's null case), pk = id/100
    val dir = s"${sys.props("java.io.tmpdir")}/graft-derived-part/prop"
    spark.range(1100)
      .selectExpr("CASE WHEN id < 1000 THEN id END AS id", "id % 7 AS v")
      .withColumn("pk", (col("id") / 100).cast("int"))
      .write.mode("overwrite").partitionBy("pk").parquet(dir)
    DerivedPartitionFilter.register(dir, "id", "pk", 100L)
    val s = ruleSession()

    // literal pool: negatives (must derive nothing), exact multiples of
    // the divisor, off-by-one boundaries, in-range and past-range values
    val litGen: Gen[Long] = Gen.frequency(
      3 -> Gen.choose(-150L, 1150L),
      2 -> Gen.oneOf(0L, 100L, 199L, 200L, 201L, 500L, 999L, 1000L, -1L, -100L))
    sealed trait Shape
    case class Geq(v: Long) extends Shape
    case class Gt(v: Long) extends Shape
    case class Leq(v: Long) extends Shape
    case class Lt(v: Long) extends Shape
    case class Eq(v: Long) extends Shape
    case class Mirror(v: Long) extends Shape // literal-first form via expr()
    case class InSet(vs: List[Long]) extends Shape
    val shapeGen: Gen[Shape] = Gen.oneOf(
      litGen.map(Geq), litGen.map(Gt), litGen.map(Leq), litGen.map(Lt),
      litGen.map(Eq), litGen.map(Mirror),
      Gen.nonEmptyListOf(litGen).map(l => InSet(l.take(5))))
    val caseGen: Gen[List[Shape]] =
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, shapeGen))
    val cases = Gen.listOfN(40, caseGen)
      .pureApply(Gen.Parameters.default, Seed(0xD111E4L))

    def toCol(sh: Shape): org.apache.spark.sql.Column = sh match {
      case Geq(v)    => col("id") >= v
      case Gt(v)     => col("id") > v
      case Leq(v)    => col("id") <= v
      case Lt(v)     => col("id") < v
      case Eq(v)     => col("id") === v
      case Mirror(v) => expr(s"${v}L <= id")
      case InSet(vs) => col("id").isin(vs: _*)
    }
    var derivedSome = 0
    for (shapes <- cases) {
      val pred = shapes.map(toCol).reduce(_ && _)
      val on = s.read.parquet(dir).filter(pred)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("id")).as("si"))
      val off = spark.read.parquet(dir).filter(pred)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("id")).as("si"))
      val a = on.collect().map(_.toString).toSeq
      val b = off.collect().map(_.toString).toSeq
      assert(a == b, s"pruned ≠ stock for conjunction $shapes: $a vs $b")
      // a contradictory conjunction folds to an empty LocalRelation (no
      // scan at all) — that's the optimizer ahead of us, not a miss
      val scans = collectAll(on.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      if (scans.exists(_.partitionFilters.nonEmpty)) derivedSome += 1
    }
    assert(derivedSome > 10,
      s"property is vacuous if almost nothing derives (got $derivedSome/40)")
  }
}

package graft

import graft.plans.{FileSkipIndex, SkipPrunedFileIndex}
import graft.warehouse.FileSkip
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan gates for [[graft.plans.FileSkipIndex]]: result correctness is the
  * DuckDB oracle's job (the three `wh_fileskip_*` entries); this spec pins
  * WHAT the executed scan reads — the file-list cut itself, which the
  * oracle compare cannot see — plus the soundness edges (parity under
  * random probes, empty kept set, stale sidecar, unsupported predicates,
  * cleared-registry fresh-session sidecar load).
  */
class FileSkipSpec extends SparkSpec {

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect() // materialize so AQE final plan + metrics exist
    collectAll(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
  }

  private def filesRead(df: DataFrame): Long =
    scans(df).map(_.metrics("numFiles").value).sum

  test("both z-order dimensions prune the SAME layout's executed file list") {
    val x = FileSkip.xRange(spark, sf)
    val y = FileSkip.yRange(spark, sf)
    val (nx, ny) = (filesRead(x), filesRead(y))
    assert(nx > 0 && nx < FileSkip.NFiles, s"x-range read $nx files")
    assert(ny > 0 && ny < FileSkip.NFiles, s"y-range read $ny files")
    assert(scans(x).forall(_.relation.location.isInstanceOf[SkipPrunedFileIndex]))
  }

  test("point lookup on the unclustered key prunes via the Bloom page") {
    val p = FileSkip.pointLookup(spark, sf)
    val n = filesRead(p)
    // envelopes can't cut an unclustered key; only the Bloom filter can.
    // The key's rows live in ≤7 files; fpp ≪ 1% leaves no false opens.
    assert(n > 0 && n <= 8, s"point lookup read $n of ${FileSkip.NFiles} files")
    assert(p.collect().nonEmpty, "probe key must exist in the corpus")
  }

  test("pruned results equal the rule-off twins (kill-switch parity)") {
    assert(FileSkip.xRange(spark, sf).collect().toSeq ==
      FileSkip.xRangeOff(spark, sf).collect().toSeq)
    assert(FileSkip.pointLookup(spark, sf).collect().toSeq ==
      FileSkip.pointLookupOff(spark, sf).collect().toSeq)
  }

  test("random range/point/in probes: pruned ≡ unpruned, including empty " +
      "kept sets and absent keys") {
    import org.apache.spark.sql.functions._
    val path = FileSkip.layoutPath(spark, sf)
    val on = {
      val s = graft.plans.ChildSession(spark)
      GraftExtensions.install(s)
      s.conf.set(FileSkipIndex.EnabledKey, "true")
      s.read.parquet(path)
    }
    val off = graft.plans.ChildSession(spark).read.parquet(path)
    val rnd = new scala.util.Random(0xF11E5)
    for (_ <- 1 to 12) {
      val lo = rnd.nextInt(260).toLong; val hi = lo + rnd.nextInt(120)
      val key = rnd.nextInt(40000).toLong // mostly absent keys
      val ins = Seq.fill(3)(rnd.nextInt(300).toLong)
      def probe(df: DataFrame) = Seq(
        df.filter(col("l_partkey") >= lo && col("l_partkey") <= hi)
          .agg(count(lit(1)), sum(col("l_quantity"))).collect().toSeq,
        df.filter(col("l_orderkey") === key)
          .agg(count(lit(1))).collect().toSeq,
        df.filter(col("l_suppkey").isin(ins: _*))
          .agg(count(lit(1))).collect().toSeq)
      assert(probe(on) == probe(off), s"mismatch at lo=$lo hi=$hi key=$key")
    }
  }

  test("a cleared registry reloads the sidecar: a fresh session still prunes") {
    FileSkip.layoutPath(spark, sf) // ensure landed + sidecar persisted
    FileSkipIndex.clear()
    val n = filesRead(FileSkip.xRange(spark, sf))
    assert(n > 0 && n < FileSkip.NFiles,
      s"fresh session read $n files — sidecar load must restore pruning")
  }

  test("stale sidecar (recorded lengths differ) disables pruning, never " +
      "results") {
    val path = FileSkip.layoutPath(spark, sf)
    val real = FileSkipIndex.registered(path)
      .getOrElse(fail("layout must be registered"))
    try {
      FileSkipIndex.register(real.copy(files =
        real.files.map(f => f.copy(len = f.len + 1))))
      val df = FileSkip.xRange(spark, sf)
      assert(filesRead(df) == FileSkip.NFiles,
        "every stat is stale ⇒ every file must be kept")
      assert(df.collect().toSeq == FileSkip.xRangeOff(spark, sf).collect().toSeq)
    } finally FileSkipIndex.register(real)
  }

  test("timestamp envelopes prune the appended time-clustered layout " +
      "through incrementally-indexed files") {
    val df = FileSkip.shipRange(spark, sf)
    val n = filesRead(df)
    // the probe is 4 months inside batch 2: every batch-1 file is cut by
    // its envelope, and batch-2 files prune to the covering few — all of
    // whose stats arrived via indexAppend, not the initial build
    assert(n > 0 && n <= 10,
      s"ship-range read $n of ${2 * FileSkip.ShipBatchFiles} files")
    assert(df.collect().toSeq == FileSkip.shipRangeOff(spark, sf).collect().toSeq)
  }

  test("an index lagging ingest stays correct: appended files are unknown " +
      "and read in full until indexAppend manifests them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = s"${sys.props("java.io.tmpdir")}/graft-fileskip-lag-${System.nanoTime()}"
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    try {
      val b1 = li.filter($"l_partkey" <= 100)
      val b2 = li.filter($"l_partkey" > 100)
      b1.repartitionByRange(4, $"l_partkey").sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(base)
      FileSkipIndex.index(spark, base, Seq("l_partkey"), None, 0)
      b2.repartitionByRange(4, $"l_partkey").sortWithinPartitions("l_partkey")
        .write.mode("append").parquet(base)
      def probe() = {
        val s = graft.plans.ChildSession(spark)
        GraftExtensions.install(s)
        s.conf.set(FileSkipIndex.EnabledKey, "true")
        s.read.parquet(base).filter($"l_partkey" > 150)
          .agg(count(lit(1)).as("n"))
      }
      val expected = li.filter($"l_partkey" > 150).count()
      // LAGGING: batch-2 files are unknown to the index — read in full,
      // batch-1 files envelope-pruned; the count must already be right
      val lagging = probe()
      assert(lagging.head().getLong(0) == expected,
        "un-indexed appended files must be read, never silently skipped")
      val lagFiles = filesRead(lagging)
      assert(lagFiles == 4, s"lagging index: read $lagFiles files " +
        "(4 unknown batch-2 files, 4 pruned batch-1 files)")
      // CAUGHT UP: indexAppend manifests only the new files; pruning now
      // reaches into batch 2 and the count is unchanged
      FileSkipIndex.indexAppend(spark, base, Seq("l_partkey"), None, 0)
      val caughtUp = probe()
      assert(caughtUp.head().getLong(0) == expected)
      assert(filesRead(caughtUp) < 4,
        "after indexAppend the batch-2 envelopes must cut the file list")
    } finally {
      FileSkipIndex.deregister(base)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
    }
  }

  test("customer drill-down semi-join prunes the fact's file list through " +
      "the Bloom page") {
    val df = FileSkip.custDrill(spark, sf)
    val n = filesRead(df)
    assert(n > 0 && n < FileSkip.NFiles,
      s"drill read $n of ${FileSkip.NFiles} files")
    assert(df.collect().toSeq == FileSkip.custDrillOff(spark, sf).collect().toSeq)
  }

  test("soundness property: random predicate conjunctions (boundary-rich " +
      "literals) read the same rows pruned as unpruned") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val path = FileSkip.layoutPath(spark, sf)
    val stats = FileSkipIndex.registered(path)
      .getOrElse(fail("layout must be registered"))
    // literal pool seeded with the REAL per-file envelope boundaries of
    // l_partkey (and their off-by-ones) — the values where a Gt/Ge/Lt/Le
    // admission off-by-one would actually flip a file's fate
    val bounds: Seq[Long] = stats.files
      .flatMap(_.env.get("l_partkey")).flatMap { case (lo, hi) =>
        Seq(lo - 1, lo, lo + 1, hi - 1, hi, hi + 1) }.distinct
    val litGen: Gen[Long] = Gen.frequency(
      2 -> Gen.choose(-10L, 260L),
      3 -> Gen.oneOf(bounds))
    sealed trait Shape
    case class Geq(v: Long) extends Shape
    case class Gt(v: Long) extends Shape
    case class Leq(v: Long) extends Shape
    case class Lt(v: Long) extends Shape
    case class Eq(v: Long) extends Shape
    case class Mirror(v: Long) extends Shape
    case class InSet(vs: List[Long]) extends Shape
    val shapeGen: Gen[Shape] = Gen.oneOf(
      litGen.map(Geq), litGen.map(Gt), litGen.map(Leq), litGen.map(Lt),
      litGen.map(Eq), litGen.map(Mirror),
      Gen.nonEmptyListOf(litGen).map(l => InSet(l.take(4))))
    val caseGen: Gen[List[Shape]] =
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, shapeGen))
    val cases = Gen.listOfN(40, caseGen)
      .pureApply(Gen.Parameters.default, Seed(0xF11E5C4BL))
    def toCol(sh: Shape): org.apache.spark.sql.Column = sh match {
      case Geq(v)    => col("l_partkey") >= v
      case Gt(v)     => col("l_partkey") > v
      case Leq(v)    => col("l_partkey") <= v
      case Lt(v)     => col("l_partkey") < v
      case Eq(v)     => col("l_partkey") === v
      case Mirror(v) => expr(s"${v}L <= l_partkey")
      case InSet(vs) => col("l_partkey").isin(vs.map(Long.box): _*)
    }
    val on = {
      val s = graft.plans.ChildSession(spark)
      GraftExtensions.install(s)
      s.conf.set(FileSkipIndex.EnabledKey, "true")
      s.read.parquet(path)
    }
    val off = graft.plans.ChildSession(spark).read.parquet(path)
    for (shapes <- cases) {
      val pred = shapes.map(toCol).reduce(_ && _)
      def run(df: org.apache.spark.sql.DataFrame) = df.filter(pred)
        .agg(count(lit(1)), sum(col("l_quantity")), min(col("l_orderkey")))
        .collect().toSeq
      assert(run(on) == run(off), s"mismatch for $shapes")
    }
  }

  test("layered pruning: the derived-partition rule cuts directories AND " +
      "the file envelopes cut within the kept directory, one executed scan") {
    val layered = FileSkip.layeredScan(spark, sf)
    val dpfOnly = FileSkip.layeredScanDpfOnly(spark, sf)
    val off = FileSkip.layeredScanOff(spark, sf)
    val (nL, nD, nO) = (filesRead(layered), filesRead(dpfOnly), filesRead(off))
    assert(nO > nD, s"directory cut must drop files: off=$nO dpf=$nD")
    assert(nD > nL, s"envelope cut must drop more within the kept " +
      s"directory: dpf=$nD layered=$nL")
    assert(scans(layered).forall(
      _.relation.location.isInstanceOf[SkipPrunedFileIndex]))
    assert(layered.collect().toSeq == off.collect().toSeq)
  }

  test("unsupported predicate shapes leave the plan untouched") {
    import org.apache.spark.sql.functions._
    val path = FileSkip.layoutPath(spark, sf)
    val s = graft.plans.ChildSession(spark)
    GraftExtensions.install(s)
    s.conf.set(FileSkipIndex.EnabledKey, "true")
    // double-typed column: no integral envelope semantics
    val df = s.read.parquet(path).filter(col("l_quantity") > 25.0)
      .agg(count(lit(1)))
    df.collect()
    assert(collectAll(df.queryExecution.executedPlan) {
      case sc: FileSourceScanExec => sc.relation.location
    }.forall(!_.isInstanceOf[SkipPrunedFileIndex]))
  }
}

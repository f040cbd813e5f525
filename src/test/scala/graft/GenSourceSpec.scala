package graft

import graft.sources.v2.{GenQueries, GenSource}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The DSv2 connector's pushdown contract: filters consumed exactly (no
  * residual Filter node), columns pruned at the reader, partitions planned
  * from the TIGHTENED range, stats reported post-pushdown.
  */
class GenSourceSpec extends SparkSpec {
  import spark.implicits._

  private def gen(rows: Long = 1000L, slices: Int = 8) =
    spark.read.format("graft-gen")
      .option("rows", rows).option("slices", slices).load()

  test("key-grouped scan: same rows, key-pure partitions, SPJ plans zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // row equality with the plain scan — partition layout must not change data
    val keyed = spark.read.format("graft-gen")
      .option("rows", 1000L).option("keyGrouped", "true").load()
    assert(keyed.exceptAll(gen(1000L)).isEmpty &&
      gen(1000L).exceptAll(keyed).isEmpty)
    // every physical partition holds exactly one k (the HasPartitionKey claim)
    val purity = keyed.select($"k").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSet.size))
      .collect()
    assert(purity.forall(_ <= 1), s"mixed-key partition found: ${purity.toSeq}")
    // the storage-partitioned join itself: both aggregates AND the join
    // exchange-free on a bucketing-enabled child session
    val df = GenQueries.spjJoin(spark, sf)
    val rows = df.collect()
    assert(rows.length === GenSource.KMod.toInt)
    // the ONLY allowed exchange is the presentation orderBy's range
    // partitioning — both per-key aggregates and the join itself must ride
    // the reported KeyGroupedPartitioning with no hash exchange anywhere
    val shuffles = collectAll(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1 && shuffles.forall(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"SPJ must not hash-exchange:\n${df.queryExecution.executedPlan}")
  }

  test("generates the documented row function") {
    val rows = gen(rows = 200L).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.length === 200)
    rows.foreach { case (id, k, v, seg) =>
      assert(k === id % GenSource.KMod)
      assert(v === (id * GenSource.LehmerA) % GenSource.LehmerM)
      assert(seg === s"s${id % GenSource.SegMod}")
    }
    assert(rows.map(_._1).toSet === (0L until 200L).toSet)
  }

  test("id range filters push into the source and leave NO Filter node") {
    val df = gen(rows = 10000L).filter($"id" >= 2000L && $"id" < 3000L)
    df.collect()
    val p = df.queryExecution.executedPlan
    val filters = collectAll(p) {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.isEmpty,
      s"exact pushdown must drop the post-scan Filter:\n$p")
    assert(df.count() === 1000L)
    val scans = collectAll(p) { case s: BatchScanExec => s }
    assert(scans.nonEmpty && scans.head.scan.description.contains("pushed="),
      "scan description should carry the pushed predicates")
  }

  test("tightened range plans proportionally fewer input partitions") {
    val full = gen(rows = 10000L, slices = 8)
    val narrow = full.filter($"id" >= 9000L && $"id" < 9500L)
    // 500 rows over 8 slices still plans 8 tiny splits; but a range below
    // the slice count collapses to one partition per row at most
    val tiny = full.filter($"id" === 42L)
    assert(tiny.rdd.getNumPartitions === 1,
      "a single-id scan must plan exactly one partition")
    assert(narrow.collect().length === 500)
    assert(tiny.collect().map(_.getLong(0)).toSeq === Seq(42L))
  }

  test("column pruning reaches the reader schema") {
    val df = gen(rows = 100L).select($"k")
    df.collect()
    val scans = collectAll(df.queryExecution.executedPlan) {
      case s: BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("k"),
      "reader must materialize only the requested column")
  }

  test("non-id predicates stay as residual filters and still apply") {
    val df = gen(rows = 1000L).filter($"k" === 5L)
    assert(df.collect().forall(_.getLong(1) === 5L))
    // residual path: a Filter node (or scan-level runtime filter) must
    // still enforce k = 5 above the scan
    assert(df.count() === (0L until 1000L).count(_ % GenSource.KMod == 5L))
  }

  test("micro-batch stream drains in rate-limited batches, exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("gen-stream").toString
    val q = spark.readStream.format("graft-gen")
      .option("rows", 1000L).option("slices", 4).option("rowsPerBatch", 300L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 1000 ids at 300/batch = 4 admission-limited micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) === 4,
      s"expected 4 rate-limited batches, got:\n" +
        q.recentProgress.map(p => p.numInputRows).mkString(", "))
    val landed = spark.read.parquet(s"$base/out")
    assert(landed.count() === 1000L)
    assert(landed.select($"id").distinct().count() === 1000L,
      "no id may land twice across micro-batch boundaries")
  }

  test("audit sink commits one atomic manifest matching the batch aggregate") {
    import graft.sources.v2.GenSource.{LehmerA, LehmerM}
    val out = java.nio.file.Files.createTempDirectory("audit-sink").toString
    val df = gen(rows = 5000L, slices = 8).select($"id", $"v")
    df.write.format("graft-audit")
      .option("path", out).option("keyCol", "id").mode("append").save()
    val m = spark.read.json(s"$out/manifest.json").collect().head
    val expect = df.select(
      count(lit(1)),
      sum((($"id" % LehmerM) * LehmerA) % LehmerM)).collect().head
    assert(m.getAs[Long]("rows") === expect.getLong(0))
    assert(m.getAs[Long]("checksum") === expect.getLong(1))
    assert(m.getAs[Long]("tasks") > 1L, "fold must span several tasks")
    // re-run replaces the manifest atomically: no torn temp file survives
    df.write.format("graft-audit")
      .option("path", out).option("keyCol", "id").mode("append").save()
    val files = new java.io.File(out).list().toSeq
    assert(files === Seq("manifest.json"), s"unexpected files: $files")
  }

  test("complete aggregate pushdown answers from bounds: a trillion-row count is instant") {
    // count/min/max over an id range are answerable from [lo, hi) alone —
    // the scan emits ONE pre-aggregated row and generates nothing, which is
    // only demonstrable at a scale where generating is impossible
    val trillion = 1000L * 1000L * 1000L * 1000L
    val df = gen(rows = trillion, slices = 32)
      .filter($"id" >= 1000L && $"id" < trillion - 5L)
      .agg(count(lit(1)).as("n"), min($"id").as("min_id"), max($"id").as("max_id"))
    val r = df.collect().head
    assert(r.getLong(0) === trillion - 5L - 1000L)
    assert(r.getLong(1) === 1000L)
    assert(r.getLong(2) === trillion - 6L)
    val scans = collectAll(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.head.scan.description.contains("aggPushed=count,min,max"),
      s"scan must report the pushed aggregation: ${scans.head.scan.description}")
    // empty range: count 0, null min/max — matching SQL
    val empty = gen(rows = 100L).filter($"id" > 200L)
      .agg(count(lit(1)), min($"id"), max($"id")).collect().head
    assert(empty.getLong(0) === 0L && empty.isNullAt(1) && empty.isNullAt(2))
    // non-pushable shapes decline and stay correct: grouping, min over v
    val grouped = gen(rows = 1000L).groupBy($"k").agg(count(lit(1)).as("n"))
    assert(grouped.agg(sum($"n")).collect().head.getLong(0) === 1000L)
    val minV = gen(rows = 1000L).agg(min($"v")).collect().head.getLong(0)
    assert(minV === (0L until 1000L)
      .map(id => (id * GenSource.LehmerA) % GenSource.LehmerM).min)
  }

  test("boundary filters at Long.MaxValue saturate instead of wrapping") {
    // accepted filters are never re-checked, so a wrapped bound would
    // silently return ALL rows for `id > Long.MaxValue`
    assert(gen(rows = 100L).filter($"id" > Long.MaxValue).count() === 0L)
    assert(gen(rows = 100L).filter($"id" <= Long.MaxValue).count() === 100L)
    assert(gen(rows = 100L).filter($"id" === Long.MaxValue).count() === 0L)
  }

  test("limit pushdown truncates the generator range itself") {
    // a trillion-row table with LIMIT 10: only 10 ids ever exist
    val trillion = 1000L * 1000L * 1000L * 1000L
    val rows = gen(rows = trillion, slices = 32)
      .filter($"id" >= 500L).limit(10).collect()
    assert(rows.map(_.getLong(0)).toSeq === (500L until 510L))
    assert(gen(rows = 10000L).limit(7).rdd.getNumPartitions <= 7,
      "pushed limit must shrink the planned range, not post-filter it")
  }

  test("runtime filtering: an id set narrows the scan to exactly those ids") {
    import org.apache.spark.sql.sources.{EqualTo => SEqualTo, In => SIn}
    // unit-level: the contract BatchScanExec drives after planning
    val builder = new graft.sources.v2.GenScanBuilder(1000000L, 8, 1000000L)
    val scan = builder.build().asInstanceOf[graft.sources.v2.GenScan]
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("id", Array[Any](Long.box(5L), Long.box(99999L), Long.box(77L),
        Long.box(2000000L), // outside the range: dropped
        null)))) // a null dim key can't equal any id: dropped, prune kept
    val parts = scan.planInputPartitions()
    val ids = parts.flatMap(_.asInstanceOf[graft.sources.v2.GenSetPartition].ids)
    assert(ids.sorted.toSeq === Seq(5L, 77L, 99999L),
      "scan must plan exactly the in-range ids of the runtime filter")
    // intersecting a second runtime filter narrows further
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      SEqualTo("id", Long.box(77L))))
    val again = scan.planInputPartitions()
      .flatMap(_.asInstanceOf[graft.sources.v2.GenSetPartition].ids)
    assert(again.toSeq === Seq(77L))
  }

  test("runtime filtering fires end-to-end: a selective dim join injects DPP") {
    // integration proof for the unit-pinned contract: joining the
    // generator to a SELECTIVELY FILTERED dim makes Spark plan a
    // dynamic-pruning subquery against the scan, which hands GenScan the
    // dim's id set at runtime — |dim-slice| rows generated, not the range
    val dimPath = java.nio.file.Files.createTempDirectory("rf-dim").toString
    spark.range(0, 200000).selectExpr("id AS did", "id % 1000 AS grp")
      .write.mode("overwrite").parquet(dimPath)
    val big = gen(rows = 1000000L, slices = 16)
    val dim = spark.read.parquet(dimPath).filter($"grp" === 7L)
    val joined = big.join(dim, $"id" === $"did")
    assert(joined.count() === 200L)
    val s = joined.queryExecution.executedPlan.toString
    assert(s.contains("dynamicpruningexpression"),
      s"the scan must carry a DPP runtime filter:\n${s.take(1200)}")
  }

  test("kill mid-drain + restart from checkpoint lands each id exactly once") {
    // the claim the row-position offsets make: re-planning any [start, end)
    // range after a restart regenerates identical rows, so an interrupted
    // AvailableNow drain resumes without losing or doubling an id
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("gen-restart").toString
    def start() = spark.readStream.format("graft-gen")
      .option("rows", 2000L).option("slices", 4).option("rowsPerBatch", 400L)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val q = start()
    while (q.isActive && !q.recentProgress.exists(_.numInputRows > 0))
      Thread.sleep(5)
    q.stop(); q.awaitTermination()
    start().awaitTermination()
    val landed = spark.read.parquet(s"$base/out")
    assert(landed.count() === 2000L, "restart must finish the drain")
    assert(landed.select($"id").distinct().count() === 2000L,
      "no id may land twice across the kill/restart boundary")
  }

  test("TVF surface: FROM graft_gen(n) equals the connector, codegen'd over Range") {
    val viaTvf = spark.sql("SELECT * FROM graft_gen(500)")
    val viaConnector = gen(rows = 500L)
    assert(viaTvf.exceptAll(viaConnector).isEmpty &&
      viaConnector.exceptAll(viaTvf).isEmpty,
      "TVF and connector must generate identical rows")
    // the TVF expands to Project-over-Range: ordinary operators, no
    // connector scan anywhere in the plan
    val planStr = viaTvf.queryExecution.executedPlan.toString
    assert(planStr.contains("Range") && !planStr.contains("BatchScan"),
      s"TVF must run as plain Range, not a scan:\n${planStr.take(800)}")
    // usable through the extensions path too (session built with them)
    assert(spark.sql("SELECT count(*) AS n FROM graft_gen(77)")
      .collect().head.getLong(0) === 77L)
    intercept[Exception] { spark.sql("SELECT * FROM graft_gen('x')").collect() }
  }

  test("registered queries run and the pushdown query scans half the ids") {
    val pd = GenQueries.genPushdown(spark, sf)
    val n = pd.agg(sum($"n")).collect().head.getLong(0)
    assert(n === GenQueries.RangeHi - GenQueries.RangeLo)
    assert(GenQueries.genSegments(spark, sf).count() === GenSource.SegMod)
  }
}

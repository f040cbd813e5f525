package graft

import graft.functions.SkewJoin
import org.apache.spark.sql.functions._

/** Scale-path variants: approximate distinct aggregation (the 100 TB
  * substitute for exact COUNT DISTINCT) and the salted skew-join utility —
  * both checked against their exact twins.
  */
class ScaleVariantsSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct tracks the exact distinct counts within 5%") {
    val fact = warehouse.Warehouse.forDir(spark, sf).factEncounters
    val Array(exactP, exactE) = fact.agg(
      countDistinct($"patient_key"), countDistinct($"encounter_key"))
      .head().toSeq.map(_.asInstanceOf[Long].toDouble).toArray
    // rsd 1% (the knob a 100 TB deployment tunes against sketch memory)
    val Array(apxP, apxE) = fact.agg(
      approx_count_distinct($"patient_key", 0.01),
      approx_count_distinct($"encounter_key", 0.01))
      .head().toSeq.map(_.asInstanceOf[Long].toDouble).toArray
    assert(math.abs(apxP - exactP) / exactP < 0.04, s"$apxP vs $exactP")
    assert(math.abs(apxE - exactE) / exactE < 0.04, s"$apxE vs $exactE")
  }

  test("simhash 16-bit chunks: candidates subset of 8-bit, pigeonhole radius kept") {
    val c8rows = graft.dedup.SimHash.nearDuplicates(spark, sf).collect()
    val c8 = c8rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val c16rows = graft.dedup.SimHash.nearDuplicates(spark, sf, chunkBits = 16)
      .collect()
    val c16 = c16rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // a shared 16-bit chunk is two shared 8-bit chunks → strictly coarser
    assert(c16.subsetOf(c8), s"16-bit candidates must nest: ${c16 -- c8}")
    // pigeonhole guarantee: with 4 chunks every pair at d <= 3 shares one
    val d3 = c8rows.filter(_.getInt(2) <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d3.subsetOf(c16), s"16-bit chunks missed d<=3 pairs: ${d3 -- c16}")
    // shared pairs agree on the hamming distance (same fingerprints)
    val h8 = c8rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    c16rows.foreach(r =>
      assert(h8((r.getLong(0), r.getLong(1))) == r.getInt(2)))
  }

  test("df-capped jaccard: subset of the uncapped join, exact at high cap") {
    val exact = graft.dedup.Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // cap far above any df on this corpus → identical output
    val uncapped = graft.dedup.Dedup
      .ngramJaccardCapped(spark, sf, dfCap = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(uncapped == exact)
    // aggressive cap: candidates shrink but every surviving pair carries the
    // exact (full-shingle-set) jaccard of the uncapped join
    val capped = graft.dedup.Dedup
      .ngramJaccardCapped(spark, sf, dfCap = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.keySet.subsetOf(exact.keySet))
    capped.foreach { case (k, j) => assert(j == exact(k)) }
  }

  test("df-capped ngram overlap: subset with exact counts; default cap exact here") {
    // cap far above any gram df on this corpus → the capped candidate join
    // loses nothing and every count is the full-set collision count
    val uncapped = text.Curate.ngramOverlap(spark, sf, dfCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val default = text.Curate.ngramOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(default == uncapped,
      "OverlapDfCap must not bind on this corpus (max gram df ≪ cap)")
    // binding cap: pairs may drop (only those whose every shared gram is
    // ubiquitous), but any surviving pair reports the EXACT full-set count
    val capped = text.Curate.ngramOverlap(spark, sf, dfCap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, n) => assert(n == uncapped(k)) }
  }

  test("prefix-filtered jaccard: identical pairs from a smaller candidate set") {
    val tau = dedup.Dedup.PrefixTau
    val full = dedup.Dedup.ngramJaccard(spark, sf, tau).collect().map(_.toString)
    val pref = dedup.Dedup.ngramJaccardPrefix(spark, sf, tau)
      .collect().map(_.toString)
    assert(pref.sameElements(full),
      "prefix filtering must lose no pair (exact algorithm)")
    val nPref = dedup.Dedup.prefixCandidates(spark, sf, tau).count()
    val inv = dedup.DocIndex.forDir(spark, sf)
      .select($"doc_id", explode($"sh").as("shingle"))
    val nFull = inv.as("a")
      .join(inv.as("b"), col("a.shingle") === col("b.shingle")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(nPref < nFull,
      s"prefix index should prune the candidate set: $nPref vs $nFull")
    assert(nPref >= full.length.toLong, "candidates must cover all true pairs")
    // float-boundary regression: 0.28·25 = 7.000000000000001 in IEEE, so a
    // double `ceil` would cut one prefix token too many and open a recall
    // hole; the exact-rational prefix length must keep parity at ANY τ
    val tau2 = 0.28
    val full2 = dedup.Dedup.ngramJaccard(spark, sf, tau2).collect().map(_.toString)
    val pref2 = dedup.Dedup.ngramJaccardPrefix(spark, sf, tau2)
      .collect().map(_.toString)
    assert(pref2.sameElements(full2),
      s"prefix join must stay exact at boundary τ=$tau2")
  }

  test("bucket pruning: a point lookup on the bucket key reads one bucket") {
    warehouse.Bucketing.writeBucketed(
      Tables.orders(spark, sf), "orders_bkt_point", "o_orderkey", 4)
    val key = spark.table("orders_bkt_point")
      .selectExpr("min(o_orderkey)").head().getLong(0)
    // autoBucketedScan would drop the bucketed layout for a bare filter (no
    // exchange to elide); pruning needs the scan to stay bucket-aware
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val q = spark.table("orders_bkt_point").filter($"o_orderkey" === key)
      // the reference's B-tree point lookup maps to bucket pruning: the scan
      // must touch 1 of the 4 buckets, not the table
      val s = q.queryExecution.executedPlan.toString
      assert(s.contains("SelectedBucketsCount: 1 out of 4"),
        s"expected single-bucket scan:\n${s.take(600)}")
      assert(q.count() >= 1)
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("z-order layout localizes BOTH columns; single-column sort only one") {
    import java.nio.file.Files
    val src = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    val zDir = Files.createTempDirectory("zorder").toString
    val linDir = Files.createTempDirectory("linear").toString
    warehouse.Bucketing.writeZordered(src, "l_orderkey", "l_partkey", zDir)
    src.repartitionByRange(16, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(linDir)
    // per-file min/max envelope width — what parquet/Delta skipping prunes on
    def meanSpread(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("s"))
        .agg(avg($"s")).head().getDouble(0)
    // the linear layout localizes its own sort key...
    assert(meanSpread(linDir, "l_orderkey") < meanSpread(zDir, "l_orderkey"),
      "a dedicated sort should beat z-order on its own key")
    // ...but leaves the other column's per-file range at ~the full domain;
    // z-order halves it (16 files → 4×4 grid → ~1/4 per axis)
    val zSpread = meanSpread(zDir, "l_partkey")
    val linSpread = meanSpread(linDir, "l_partkey")
    assert(zSpread < linSpread * 0.5,
      s"z-order should localize l_partkey: z=$zSpread linear=$linSpread")
  }

  test("file manifest: footer stats exact; range read skips files, same rows") {
    import java.nio.file.Files
    val src = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
    val dir = Files.createTempDirectory("manifest").toString
    warehouse.Bucketing.writeZordered(src, "l_orderkey", "l_partkey", dir)
    val m = warehouse.FileManifest
      .build(spark, dir, Seq("l_orderkey", "l_partkey")).cache()
    // footer envelopes must equal a full data-scan cross-check, per file
    val byFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"l_orderkey").as("lo"), max($"l_orderkey").as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val mrows = m.filter($"column" === "l_orderkey").collect()
    assert(mrows.length == byFile.size && mrows.nonEmpty)
    mrows.foreach { r =>
      val (lo, hi, n) = byFile(r.getString(0))
      assert(r.getLong(2) == lo && r.getLong(3) == hi && r.getLong(4) == n,
        s"footer stats diverge for ${r.getString(0)}")
    }
    // a narrow partkey range must open a strict subset of files yet return
    // exactly the full scan's rows (skipping is sound AND useful)
    val b = src.agg(min($"l_partkey"), max($"l_partkey")).head()
    val lo = b.getLong(0); val hi = lo + (b.getLong(1) - lo) / 10
    val keep = warehouse.FileManifest.filesForRange(m, "l_partkey", lo, hi)
    val nFiles = m.select($"file").distinct().count()
    assert(keep.nonEmpty && keep.size < nFiles,
      s"expected pruning: ${keep.size} of $nFiles files")
    val pruned = spark.read.parquet(keep.map(f => s"$dir/$f"): _*)
      .filter($"l_partkey".between(lo, hi))
    val full = spark.read.parquet(dir).filter($"l_partkey".between(lo, hi))
    assert(pruned.exceptAll(full).count() == 0 &&
      full.exceptAll(pruned).count() == 0)
    m.unpersist()
  }

  test("bucketed accumulating snapshot: join AND milestone agg, zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val core = warehouse.SnapshotFacts.bucketedSnapshotCore(spark, sf)
      val rows = core.collect()
      assert(collectAll(core.queryExecution.executedPlan) {
          case s: ShuffleExchangeExec => s }.isEmpty,
        "both the order-key join and the (o_orderkey, order_date) aggregate " +
          s"must ride the bucketed layout:\n${core.queryExecution.executedPlan}")
      // identical rows to the flat-table entry
      val flat = warehouse.SnapshotFacts.accumulatingSnapshot(spark, sf)
      assert(rows.length.toLong == flat.count())
      assert(core.except(flat).isEmpty && flat.except(core).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("bucketed ingest: the order-key join runs with zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the non-broadcast path: the point is big-big shuffle elimination
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      warehouse.Bucketing.writeBucketed(
        Tables.orders(spark, sf), "orders_bkt", "o_orderkey", 4)
      warehouse.Bucketing.writeBucketed(
        Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"),
        "lineitem_bkt", "l_orderkey", 4)
      val joined = warehouse.Bucketing.coLocatedOrderJoin(
        spark, "orders_bkt", "lineitem_bkt")
      val rows = joined.collect()
      // through collectAll: after collect() every exchange sits inside a
      // query stage, which a walk that stops at stages never sees
      assert(collectAll(joined.queryExecution.executedPlan) {
          case s: ShuffleExchangeExec => s }.isEmpty,
        s"bucketed join must not exchange:\n${joined.queryExecution.executedPlan}")
      // identical result to the plain (shuffling) join
      val plain = Tables.orders(spark, sf).join(
          Tables.lineitem(spark, sf).groupBy($"l_orderkey")
            .agg(count(lit(1)).as("num_procedures"),
              sum($"l_quantity".cast("decimal(12,2)")).cast("double")
                .as("total_quantity")),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          $"num_procedures", $"total_quantity")
      assert(rows.length == plain.count())
      assert(joined.except(plain).isEmpty && plain.except(joined).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("AQE skew handling splits the hot partition of a sort-merge join") {
    // the runtime complement to explicit salting: AQE detects the oversized
    // shuffle partition AFTER the map stage and splits it, no code change.
    // Child session so the lowered detection thresholds (tuned to test-scale
    // bytes) cannot leak into other suites.
    val s2 = spark.newSession()
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      // test-scale bytes: the hot partition is a few KB compressed, so the
      // detection floor and split advisory must sit well below it
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "512",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      .foreach { case (k, v) => s2.conf.set(k, v) }
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s2, sf)
    // 80% of rows share one key — the salting fixture's shape, worse
    val keyed = ev.select($"event_id",
      when($"event_id" % 10 < 8, "hot")
        .otherwise(concat(lit("k"), ($"event_id" % 10).cast("string")))
        .as("k"))
      // ≥2 map tasks feeding the join shuffle: AQE splits a skewed reduce
      // partition along MAP-output boundaries, so a single-mapper stage
      // (one tiny parquet file) is unsplittable no matter how skewed
      .repartition(8)
    // literal dim (not distinct(): a final aggregate between the sort and
    // the shuffle stage breaks OptimizeSkewedJoin's SMJ(sort+shuffle,
    // sort+shuffle) pattern and silently disables the split)
    import s2.implicits._
    val dim = (Seq("hot") ++ (8 to 9).map(i => s"k$i"))
      .toDF("k").withColumn("w", lit(1.0))
    val joined = keyed.join(dim, "k")
    // execute joined's OWN plan (count() would plan a different query and
    // leave this one un-finalized under AQE)
    val n = joined.queryExecution.executedPlan.execute().count()
    assert(n == ev.count(), "skew split must not change rows")
    val s = joined.queryExecution.executedPlan.toString
    assert(s.contains("skewed"),
      s"expected an AQEShuffleRead with skew splits:\n${s.take(900)}")
  }

  test("salted inner join equals the plain join on a skewed key") {
    // skewed left: 90% of lineitem assigned one hot supplier bucket
    val left = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber",
        when(pmod($"l_orderkey", lit(10)) < 9, 0)
          .otherwise(pmod($"l_orderkey", lit(5))).cast("int").as("bucket"))
    val right = Seq((0, "hot"), (1, "a"), (2, "b"), (3, "c"), (4, "d"))
      .toDF("bucket", "label")
    val plain = left.join(right, Seq("bucket"), "inner")
      .select($"l_orderkey", $"l_linenumber", $"bucket", $"label")
    val salted = SkewJoin.saltedInnerJoin(left, right, "bucket", "l_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"bucket", $"label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0)
    assert(plain.except(salted).count() == 0)
  }

  test("edit verify: wider blocks are a subset with identical distances") {
    // blocking width is the recall knob: every pair surviving the wide
    // (default) blocks must exist under narrower blocks with the SAME
    // exact distance — narrowing only ADDS candidates, never changes a
    // verified pair
    val narrow = graft.dedup.SegmentDedup.editVerify(spark, sf,
      blockTokens = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val wide = graft.dedup.SegmentDedup.editVerify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(wide.keySet.subsetOf(narrow.keySet))
    wide.foreach { case (k, d) => assert(d == narrow(k)) }
    // and the planted full copies survive ANY width (identical prefixes)
    val planted = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) === 0)
      .count()
    assert(wide.keys.count { case (a, b) => b == a + 1000000L } == planted)
  }
}

package graft.warehouse

import graft.Tables
import graft.plans.{ChildSession, FileSkipIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end file-skipping evidence: a Z-ordered lineitem layout with a
  * [[graft.plans.FileSkipIndex]] stats sidecar, read through the pruning
  * rule by three oracle-checked queries.
  *
  * This is the execution-path completion of the skipping story the
  * manifest entries only REPORT on: [[FileManifest]] proves the envelope
  * math, [[BloomManifest]] proves the per-file Bloom math, and
  * [[ZOrderLayout]] proves the curve keeps both dimensions' envelopes
  * tight — here the layout is actually LANDED as files
  * ([[ZOrderLayout.layout]]), the index built from its footers + one
  * Bloom pass, and the rule prunes the EXECUTED scan's file list at plan
  * time. Queries:
  *
  *  - `wh_fileskip_xrange` / `wh_fileskip_yrange`: range predicates on
  *    the two Z-order dimensions (`l_partkey`, `l_suppkey`) — each prunes
  *    via min/max envelopes, and BOTH prune on the same layout, which is
  *    the Z-order claim a single-column sort cannot make;
  *  - `wh_fileskip_point`: a point lookup on the UNCLUSTERED
  *    `l_orderkey`, where every envelope spans ~the full key range and
  *    only the per-file Bloom filter can prune — the reference's B-tree
  *    point-read (`/root/reference/sql/01_schema.sql:19-34`) re-expressed
  *    as layout + sidecar + plan-time skipping.
  *
  * The DuckDB oracles run the same predicates over raw `lineitem`: the
  * layout holds exactly lineitem's rows, so a hash match proves pruning
  * changed WHICH FILES are read and nothing else. FileSkipSpec pins the
  * executed scan's file count and the cleared-registry fresh-session
  * path; the bench `file_skip` ledger prices files/bytes on vs off.
  */
object FileSkip {

  /** Files in the landed layout (one z-contiguous range each). */
  val NFiles = 32

  /** Bloom words per file (63 usable bits each): 151,200 bits ≈ 8–32
    * bits/key at sf 0.1–0.01 per-file distinct-orderkey counts, so the
    * false-positive rate stays ≪ 1% with the family's K=3 hashes.
    */
  val BloomWords = 2400

  /** Range probes (inclusive; one definition, both engines) — sized to be
    * non-empty from sf 0.01 up and each a minority slab of its dimension.
    */
  val XLo = 150L;  val XHi = 450L   // l_partkey
  val YLo = 8L;    val YHi = 40L    // l_suppkey

  /** Point probe: an orderkey present at every scale factor (TPC-H keys
    * 1..7 always exist).
    */
  val PointKey = 7L

  /** Land the z-ordered layout once per (application, corpus), build +
    * persist its stats index, and return the layout root.
    */
  private[graft] def layoutPath(spark: SparkSession, dir: String): String =
    graft.Scratch.memo(spark, "graft-fileskip", dir) { p =>
      ZOrderLayout.layout(Tables.lineitem(spark, dir),
        xCol = "l_partkey", yCol = "l_suppkey", files = NFiles, outPath = p)
      FileSkipIndex.index(spark, p,
        rangeCols = Seq("l_partkey", "l_suppkey", "l_orderkey"),
        bloomCol = Some("l_orderkey"), words = BloomWords)
      p
    }

  /** The layout read through the rule in a child session. */
  private def pruned(spark0: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(spark0, dir)
    val spark = ChildSession(spark0, FileSkipIndex.EnabledKey -> "true")
    spark.read.parquet(path)
  }

  private def rangeReport(df: DataFrame): DataFrame = df
    .groupBy(col("l_returnflag"))
    .agg(count(lit(1)).as("n_rows"),
      sum(col("l_quantity")).as("sum_qty"),
      min(col("l_orderkey")).as("min_orderkey"),
      max(col("l_orderkey")).as("max_orderkey"))
    .orderBy(col("l_returnflag"))

  /** Range on the X dimension — envelope-pruned. */
  def xRange(spark: SparkSession, dir: String): DataFrame =
    rangeReport(pruned(spark, dir)
      .filter(col("l_partkey") >= XLo && col("l_partkey") <= XHi))

  /** Range on the Y dimension — envelope-pruned, SAME layout. */
  def yRange(spark: SparkSession, dir: String): DataFrame =
    rangeReport(pruned(spark, dir)
      .filter(col("l_suppkey") >= YLo && col("l_suppkey") <= YHi))

  /** Point lookup on the unclustered key — Bloom-pruned. */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    pruned(spark, dir)
      .filter(col("l_orderkey") === PointKey)
      .select(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
      .orderBy(col("l_linenumber"))

  // =====================================================================
  // Time-clustered append layout: TIMESTAMP envelopes + incremental index
  // =====================================================================

  /** Files per landed batch of the ship-date layout (two batches). */
  val ShipBatchFiles = 16

  /** The append split (batch 1 strictly before, batch 2 from here) and
    * the probe range — one set of literals, both engines. The probe sits
    * inside batch 2 so the pruned scan must cut through APPENDED files
    * whose stats arrived via the incremental [[FileSkipIndex.indexAppend]]
    * path, not the initial build.
    */
  val ShipSplit = "1996-01-01 00:00:00"
  val ShipLo = "1996-03-01 00:00:00"
  val ShipHi = "1996-07-01 00:00:00" // exclusive

  /** Land the time-clustered layout in TWO batches once per (application,
    * corpus): batch 1 (pre-split) is range-partitioned by `l_shipdate`
    * and indexed; batch 2 (post-split) is APPENDED the same way and the
    * index extended incrementally — the append-only time-series ingest
    * shape, where each day's landing manifests only its own files.
    */
  private[graft] def shipLayoutPath(spark: SparkSession, dir: String): String =
    graft.Scratch.memo(spark, "graft-fileskip-ship", dir) { p =>
      val li = Tables.lineitem(spark, dir)
      def land(batch: org.apache.spark.sql.DataFrame, mode: String): Unit =
        batch.repartitionByRange(ShipBatchFiles, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode(mode).parquet(p)
      land(li.filter(expr(s"l_shipdate < TIMESTAMP '$ShipSplit'")), "overwrite")
      FileSkipIndex.index(spark, p, rangeCols = Seq("l_shipdate"),
        bloomCol = None, words = 0)
      land(li.filter(expr(s"l_shipdate >= TIMESTAMP '$ShipSplit'")), "append")
      FileSkipIndex.indexAppend(spark, p, rangeCols = Seq("l_shipdate"),
        bloomCol = None, words = 0)
      p
    }

  /** Ship-date range inside batch 2 — TIMESTAMP-envelope-pruned through
    * files the INCREMENTAL index pass manifested.
    */
  def shipRange(spark0: SparkSession, dir: String): DataFrame = {
    val path = shipLayoutPath(spark0, dir)
    val spark = ChildSession(spark0, FileSkipIndex.EnabledKey -> "true")
    rangeReport(spark.read.parquet(path)
      .filter(expr(s"l_shipdate >= TIMESTAMP '$ShipLo'") &&
        expr(s"l_shipdate < TIMESTAMP '$ShipHi'")))
  }

  private[graft] def shipRangeOff(spark0: SparkSession, dir: String): DataFrame = {
    val path = shipLayoutPath(spark0, dir)
    val spark = ChildSession(spark0)
    rangeReport(spark.read.parquet(path)
      .filter(expr(s"l_shipdate >= TIMESTAMP '$ShipLo'") &&
        expr(s"l_shipdate < TIMESTAMP '$ShipHi'")))
  }

  // =====================================================================
  // Layered pruning: derived PARTITION cut + file-envelope cut, one scan
  // =====================================================================

  /** Range tasks across the ~7-year corpus → ~8 date-contiguous files per
    * year directory.
    */
  val YearFiles = 56

  /** Probe range (inclusive yyyyMMdd ints) — deliberately inside ONE year
    * and spanning a ~2-month slice of it, so exactness needs the original
    * predicate, the directory cut needs the derived-partition rule, and
    * the within-directory cut needs the file envelopes.
    */
  val LayerLo = 19960215
  val LayerHi = 19960410

  /** Land the year-partitioned, date-clustered layout once per
    * (application, corpus): `year_key=yyyy/` directories whose files each
    * cover a contiguous `date_key` slice, with BOTH write-time metadata
    * artifacts — the derived-partition invariant (`year_key = date_key
    * div 10000`) and the per-file stats sidecar.
    */
  private[graft] def yearLayoutPath(spark: SparkSession, dir: String): String =
    graft.Scratch.memo(spark, "graft-fileskip-year", dir) { p =>
      Tables.lineitem(spark, dir)
        .select(
          (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
            dayofmonth(col("l_shipdate"))).cast("int").as("date_key"),
          col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
        .withColumn("year_key", (col("date_key") / 10000).cast("int"))
        .repartitionByRange(YearFiles, col("date_key"))
        .sortWithinPartitions("date_key")
        .write.mode("overwrite").partitionBy("year_key").parquet(p)
      graft.plans.DerivedPartitionFilter.register(
        p, dataCol = "date_key", partCol = "year_key", divisor = 10000L)
      graft.plans.DerivedPartitionFilter.persist(spark, p)
      FileSkipIndex.index(spark, p, rangeCols = Seq("date_key"),
        bloomCol = None, words = 0)
      p
    }

  /** Date-ranged report over the layered layout with BOTH pruning rules:
    * the derived invariant cuts to the one `year_key=1996/` DIRECTORY
    * before listing, and the file envelopes cut that directory's ~8
    * date-contiguous files to the ~2 covering the slice — the full
    * metadata ladder (partition → file) a 100 TB time-ranged dashboard
    * descends before reading a byte. Neither cut touches the predicate,
    * so exactness is layout-independent (the bench `file_skip` ledger's
    * three arms price each rung; FileSkipSpec pins files read off >
    * dpf-only > layered).
    */
  def layeredScan(spark0: SparkSession, dir: String): DataFrame = {
    val path = yearLayoutPath(spark0, dir)
    val spark = ChildSession(spark0,
      graft.plans.DerivedPartitionFilter.EnabledKey -> "true",
      FileSkipIndex.EnabledKey -> "true")
    rangeReport(spark.read.parquet(path)
      .filter(col("date_key") >= LayerLo && col("date_key") <= LayerHi))
  }

  /** Directory cut only (ledger mid arm). */
  private[graft] def layeredScanDpfOnly(spark0: SparkSession, dir: String): DataFrame = {
    val path = yearLayoutPath(spark0, dir)
    val spark = ChildSession(spark0,
      graft.plans.DerivedPartitionFilter.EnabledKey -> "true")
    rangeReport(spark.read.parquet(path)
      .filter(col("date_key") >= LayerLo && col("date_key") <= LayerHi))
  }

  /** No metadata at all (ledger off arm). */
  private[graft] def layeredScanOff(spark0: SparkSession, dir: String): DataFrame = {
    val path = yearLayoutPath(spark0, dir)
    val spark = ChildSession(spark0)
    rangeReport(spark.read.parquet(path)
      .filter(col("date_key") >= LayerLo && col("date_key") <= LayerHi))
  }

  /** Customer whose orders drive the drill-down semi-join (exists with
    * orders at every scale factor) and the fail-loud bound on the
    * collected key set.
    */
  val DrillCustKey = 1L
  val MaxDrillKeys = 1000

  /** Customer drill-down through the fact: all line items of one
    * customer's orders — the semi-join whose inner side a broadcast join
    * would ship anyway, here COLLECTED at plan build (bounded,
    * [[MaxDrillKeys]]) and folded into an IN predicate so the file-skip
    * rule can cut the fact's FILE LIST through the Bloom page before a
    * single fact task launches. This is file-level dynamic pruning: row-
    * level runtime filters (Spark's InjectRuntimeFilter) drop rows AFTER
    * a file is opened; at 100k files the win is never scheduling the
    * files that contain none of the ~10 probed keys. The kept-file count
    * is bounded by the probed keys' ROW LOCATIONS (~36 lineitems here —
    * 23 of 32 files at sf0.1, a modest cut), not by the layout size, so
    * the cut RATIO grows with the layout: the same drill over a 100k-file
    * corpus still opens ≤ ~36 files.
    */
  def custDrill(spark0: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(spark0, dir)
    val spark = ChildSession(spark0, FileSkipIndex.EnabledKey -> "true")
    import spark.implicits._
    val keys = Tables.orders(spark, dir)
      .filter(col("o_custkey") === DrillCustKey)
      .select(col("o_orderkey")).as[Long].collect().sorted
    require(keys.nonEmpty && keys.length <= MaxDrillKeys,
      s"drill key set must be (0, $MaxDrillKeys], got ${keys.length}")
    spark.read.parquet(path)
      .filter(col("l_orderkey").isin(keys.map(Long.box): _*))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  private[graft] def custDrillOff(spark0: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(spark0, dir)
    val spark = ChildSession(spark0)
    import spark.implicits._
    val keys = Tables.orders(spark, dir)
      .filter(col("o_custkey") === DrillCustKey)
      .select(col("o_orderkey")).as[Long].collect().sorted
    spark.read.parquet(path)
      .filter(col("l_orderkey").isin(keys.map(Long.box): _*))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_orderkey"))
  }

  /** Rule-off twins (bench ledger only — same rows, full file list). */
  private[graft] def xRangeOff(spark0: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(spark0, dir)
    val spark = ChildSession(spark0)
    rangeReport(spark.read.parquet(path)
      .filter(col("l_partkey") >= XLo && col("l_partkey") <= XHi))
  }

  private[graft] def pointLookupOff(spark0: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(spark0, dir)
    val spark = ChildSession(spark0)
    spark.read.parquet(path)
      .filter(col("l_orderkey") === PointKey)
      .select(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
      .orderBy(col("l_linenumber"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_fileskip_xrange" -> (xRange _),
    "wh_fileskip_yrange" -> (yRange _),
    "wh_fileskip_point" -> (pointLookup _),
    "wh_fileskip_shiprange" -> (shipRange _),
    "wh_fileskip_custdrill" -> (custDrill _),
    "wh_fileskip_layered" -> (layeredScan _))

  private def rangeSql(where: String) =
    s"""SELECT l_returnflag, count(*)::BIGINT AS n_rows,
       |       sum(l_quantity) AS sum_qty,
       |       min(l_orderkey) AS min_orderkey,
       |       max(l_orderkey) AS max_orderkey
       |FROM lineitem WHERE $where
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val oracle: Map[String, String] = Map(
    "wh_fileskip_xrange" -> rangeSql(s"l_partkey BETWEEN $XLo AND $XHi"),
    "wh_fileskip_yrange" -> rangeSql(s"l_suppkey BETWEEN $YLo AND $YHi"),
    "wh_fileskip_point" ->
      s"""SELECT l_linenumber, l_partkey, l_suppkey, l_quantity
         |FROM lineitem WHERE l_orderkey = $PointKey
         |ORDER BY l_linenumber""".stripMargin,
    "wh_fileskip_shiprange" -> rangeSql(
      s"l_shipdate >= TIMESTAMP '$ShipLo' AND l_shipdate < TIMESTAMP '$ShipHi'"),
    "wh_fileskip_custdrill" ->
      s"""SELECT l_orderkey, count(*)::BIGINT AS n_items,
         |       sum(l_quantity) AS sum_qty
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
         |                     WHERE o_custkey = $DrillCustKey)
         |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "wh_fileskip_layered" -> rangeSql(
      s"(year(l_shipdate) * 10000 + month(l_shipdate) * 100 + " +
        s"day(l_shipdate)) BETWEEN $LayerLo AND $LayerHi"))
}

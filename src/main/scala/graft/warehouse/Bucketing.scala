package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table ingest — the shuffle-elimination layout the warehouse
  * scale notes promise ("at 1000 executors both sides would be bucketed by
  * order key at ingest time so this join is co-located",
  * [[Warehouse.build]]).
  *
  * Writing both sides of a recurring big-big join bucketed (and sorted) on
  * the join key means every later join/aggregation on that key runs with NO
  * exchange: each task reads bucket i of both tables and merges. At 100 TB
  * this converts the fact-build's largest shuffle (orders ⋈ lineitem, both
  * huge) into a scan-side property paid once at ingest — the Spark-native
  * equivalent of the reference's clustered B-tree primary keys.
  *
  * Buckets are session-catalog parquet tables (`bucketBy` requires
  * `saveAsTable`; works with the in-memory catalog — no Hive metastore
  * needed). Bucket count is the parallelism knob: at scale, pick
  * ~(table size / target partition size), keep it equal on both sides.
  *
  * PlanSpec-style assertion lives in ScaleVariantsSpec: the bucketed join
  * plan contains zero ShuffleExchange operators and returns rows identical
  * to the plain (shuffling) join.
  */
object Bucketing {

  /** Land `df` as a bucketed + in-bucket-sorted catalog table. The table
    * is external, its files in this application's [[graft.Scratch]]
    * directory: processes sharing a working directory never share a table
    * location, and the files go when the application ends.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    writeBucketedSorted(df, table, key, buckets, Seq(key))

  /** [[writeBucketed]] with an explicit in-bucket sort order — the layout
    * that feeds order-sensitive merges (the as-of exec's `(key, time)`
    * requirement) exchange-free: bucket pruning satisfies the key
    * clustering, the per-bucket sort satisfies the child ordering.
    */
  def writeBucketedSorted(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String]): Unit = {
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", graft.Scratch.path(df.sparkSession, "graft-bucketed", table))
      .format("parquet").saveAsTable(table)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * size-targeted files. Streaming ingest appends one file set per
    * micro-batch — at 100 TB that accretes into millions of small files,
    * and scan cost becomes dominated by per-file open/footer overhead and
    * tiny row groups rather than bytes. Compaction is the periodic
    * maintenance job that restores the layout: count once, rewrite into
    * ceil(n / targetRowsPerFile) even files. The rewrite is a round-robin
    * repartition (no key, no sort — pure file-count control, the cheapest
    * shuffle) into an overwrite of a NEW directory so a failed compaction
    * never corrupts the live one; callers swap directories on success.
    */
  def compact(spark: SparkSession, srcDir: String, outDir: String,
      targetRowsPerFile: Long = 1000000L): Long = {
    val df = spark.read.parquet(srcDir)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
    df.repartition(files.toInt).write.mode("overwrite").parquet(outDir)
    files
  }

  /** Partition-preserving compaction — [[compact]] for a hive-partitioned
    * directory (`dir/part=v/…`), the layout streaming ingest actually
    * accretes small files into. One distributed pass, no per-partition
    * driver loop: per-partition-value row counts (one tiny aggregate)
    * broadcast back onto the rows to derive each row's target file index
    * `pmod(hash(uniqueCol), ceil(count/target))`, then ONE shuffle on
    * (partition, fileIdx) and a `partitionBy` overwrite of the new root.
    * Each partition value ends with between 1 and ceil(count/target) files
    * (hash collisions can only merge target files, never split them), so a
    * partition's file count never exceeds its size-derived bound.
    *
    * Returns the per-partition (value, rows, target file bound) ledger —
    * the maintenance job's audit record.
    */
  def compactPartitioned(spark: SparkSession, srcDir: String, outDir: String,
      partCol: String, uniqueCol: String,
      targetRowsPerFile: Long = 1000000L): DataFrame = {
    val df = spark.read.parquet(srcDir)
    // the ledger is one row per partition VALUE — collect it once instead
    // of re-running the source aggregate for the total, the join, and the
    // returned frame (three full scans of the directory being compacted).
    // Rows keep the partition column's ORIGINAL type (and nulls — the
    // __HIVE_DEFAULT_PARTITION__ value reads back as null): stringifying
    // would silently retype the returned ledger and NPE on null.
    val agg = df.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("n_files",
        ceil(col("n_rows").cast("double") / lit(targetRowsPerFile.toDouble))
          .cast("int"))
    val rows = agg.collect()
    val total = rows.map(_.getInt(2).toLong).sum.toInt
    val ledgerDf = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), agg.schema)
    df.join(broadcast(ledgerDf.select(col(partCol), col("n_files"))), partCol)
      .withColumn("__f", pmod(xxhash64(col(uniqueCol)), col("n_files")))
      .repartition(math.max(total, 1), col(partCol), col("__f"))
      .drop("__f", "n_files")
      .write.mode("overwrite").partitionBy(partCol).parquet(outDir)
    ledgerDf.orderBy(col(partCol))
  }

  /** Bits per dimension in the Morton (Z-order) value. 16 bits × 2 dims
    * fit a long with room to spare; resolution beyond file count is wasted,
    * so 65k cells per axis covers any practical file layout.
    */
  val ZBits = 16

  /** Morton / Z-order value over two columns: each value is min-max scaled
    * to [[ZBits]] bits and the bits are interleaved, so rows close in the
    * Z-value are close in BOTH dimensions. Sorting a write by this one
    * value gives every output file a tight min/max envelope on EITHER
    * column — parquet/Delta-style data skipping then prunes files for
    * predicates on either (a single-column sort localizes only itself;
    * the second column's per-file range stays the full domain).
    * Bounds arrive as plan-time literals: at scale they come from ingest
    * metadata, not a data pass.
    */
  def zValue(a: Column, b: Column, aMin: Long, aMax: Long,
      bMin: Long, bMax: Long): Column = {
    val top = (1L << ZBits) - 1
    def scaled(c: Column, lo: Long, hi: Long): Column =
      floor((c - lit(lo)).cast("double") * lit(top.toDouble)
        / lit(math.max(hi - lo, 1L).toDouble)).cast("long")
    val (sa, sb) = (scaled(a, aMin, aMax), scaled(b, bMin, bMax))
    (0 until ZBits).map { i =>
      val bitA = shiftleft(shiftright(sa, i).bitwiseAND(lit(1L)), 2 * i + 1)
      val bitB = shiftleft(shiftright(sb, i).bitwiseAND(lit(1L)), 2 * i)
      bitA.bitwiseOR(bitB)
    }.reduce(_ bitwiseOR _)
  }

  /** Land `df` Z-ordered on `(colA, colB)` into `nFiles` range-partitioned,
    * internally sorted files. ScaleVariantsSpec asserts the skipping
    * property: per-file spread shrinks on BOTH columns vs a single-column
    * sort of the same data.
    */
  def writeZordered(df: DataFrame, colA: String, colB: String,
      outDir: String, nFiles: Int = 16): Unit = {
    val bounds = df.agg(
      min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB))).head()
    val z = zValue(col(colA), col(colB),
      bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** The fact-build join shape over pre-bucketed sides: orders ⋈ per-order
    * lineitem rollup, joined on the bucket key with no exchange.
    */
  def coLocatedOrderJoin(spark: SparkSession, ordersTable: String,
      lineitemTable: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // quantity sums run in DECIMAL so the result hash-compares no matter
    // how partials merge (float sums never cross a shuffle — repo rule)
    val counts = spark.table(lineitemTable)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("num_procedures"),
        sum($"l_quantity".cast("decimal(12,2)")).cast("double")
          .as("total_quantity"))
    spark.table(ordersTable)
      .join(counts, $"o_orderkey" === $"l_orderkey")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        $"num_procedures", $"total_quantity")
  }

  /** Land orders + lineitem as bucketed catalog tables once per
    * (application, corpus) and return the table names. The bucketed layout
    * is write-once state exactly like the dedup signature / IVF index
    * memos — at scale it IS the ingest layout, paid once, and every
    * recurring order-key join after it runs exchange-free.
    */
  def bucketedOrderTables(spark: SparkSession, dir: String): (String, String) =
    graft.Scratch.memo(spark, "graft-bucketed", dir) { _ =>
      val tag = graft.functions.Md5Hash.md5Int(dir).toHexString
      val (ot, lt) = (s"graft_orders_bkt_$tag", s"graft_lineitem_bkt_$tag")
      writeBucketed(graft.Tables.orders(spark, dir), ot, "o_orderkey", 8)
      // carry the columns EVERY recurring order-key consumer needs (the
      // fact-build rollup reads quantity, the accumulating snapshot reads
      // ship dates) — the bucketed layout is the shared ingest artifact,
      // not a per-query extract
      writeBucketed(graft.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate")),
        lt, "l_orderkey", 8)
      (ot, lt)
    }

  /** Query entry over the bucketed layout: the fact-build join shape
    * reading the pre-bucketed tables (ScaleVariantsSpec asserts the plan
    * has ZERO shuffle exchanges under a disabled broadcast threshold —
    * this entry puts a DuckDB-checked correctness row on the same path).
    * The trailing total order is for the oracle compare only.
    */
  def bucketedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = bucketedOrderTables(spark, dir)
    coLocatedOrderJoin(spark, ot, lt).orderBy(col("o_orderkey"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_bucketed_join" -> (bucketedJoinQuery _))

  val oracle: Map[String, String] = Map(
    "wh_bucketed_join" -> """SELECT
  o.o_orderkey, o.o_custkey, o.o_totalprice,
  l.num_procedures, l.total_quantity
FROM orders o
JOIN (
  SELECT l_orderkey, count(*)::BIGINT AS num_procedures,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
           AS total_quantity
  FROM lineitem GROUP BY 1) l
  ON o.o_orderkey = l.l_orderkey
ORDER BY o.o_orderkey""")
}

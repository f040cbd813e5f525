package graft.warehouse

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level statistics manifest — Delta/Iceberg-style data skipping,
  * assembled from parquet FOOTERS only.
  *
  * The reference leans on B-tree indexes for selective scans
  * (`/root/reference/sql/01_schema.sql:19-34`); the columnar-lake analog is
  * a manifest of per-file min/max envelopes consulted before the scan, so a
  * selective predicate opens only the files whose envelope intersects it.
  * Spark's reader already does this per row group *inside* each file it
  * opens; the manifest lifts the same pruning to the file LIST, which is
  * what matters when the table is 100k files on object storage — the
  * planner then never even requests the pruned files.
  *
  * `build` reads footers, not data: the file list is parallelized across
  * executors and each task opens only the ~KB parquet footer of its files
  * (metadata I/O, no row decode). Rebuilding the manifest for a 100 TB
  * table therefore costs minutes, and an incremental ingest appends just
  * its new files' rows.
  *
  * Columns are restricted to integral types (the layout keys this engine
  * Z-orders / buckets on); extending to other orderable parquet stats types
  * is mechanical.
  */
object FileManifest {

  /** One manifest row per (file, column): min/max envelope + row count.
    * Long form rather than wide so the schema is column-set independent
    * (the consumer pivots if it wants wide). Row groups without usable
    * stats for a column are skipped; a column with NO stats in a file
    * fails loudly (a silent absence would read as "file prunable"). An
    * empty directory yields an empty manifest, not a crash.
    */
  def build(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq.sorted
    buildFiles(spark, files, cols)
  }

  /** [[build]] over an explicit file list — the incremental-index path:
    * an append-only layout manifests just its NEW files' footers. `label`
    * names each output row's file (default: last path segment, as
    * [[build]] always did; a partitioned layout passes the full path,
    * since part-file names repeat across `k=v/` directories).
    */
  def buildFiles(spark: SparkSession, files: Seq[String],
      cols: Seq[String],
      label: String => String = _.split('/').last): DataFrame = {
    import spark.implicits._
    if (files.isEmpty)
      return spark.emptyDataset[(String, String, Long, Long, Long)]
        .toDF("file", "column", "min_value", "max_value", "n_rows")
    val colList = cols
    // the SESSION's Hadoop conf must reach the executor-side footer reads
    // (s3a credentials/endpoints etc. live there; a blank Configuration()
    // only works on a local filesystem). Hadoop Configuration is not
    // serializable — ship its entries and rebuild.
    val confEntries: Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq
    }
    spark.createDataset(files)
      .repartition(math.min(files.size, 32))
      .flatMap { f =>
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), conf))
        try {
          val blocks = reader.getFooter.getBlocks
          import scala.jdk.CollectionConverters._
          val nRows = blocks.asScala.map(_.getRowCount).sum
          colList.map { c =>
            // fold row-group stats into one per-file envelope. EVERY row
            // group must carry usable stats: silently skipping a stats-less
            // group would produce an envelope that doesn't cover all rows,
            // and pruning on it would silently drop matches — the one
            // failure mode a skipping index must never have.
            val chunks = blocks.asScala.flatMap(_.getColumns.asScala)
              .filter(_.getPath.toDotString == c).toSeq
            val envelopes = chunks.map(_.getStatistics).map { s =>
              if (s == null || s.isEmpty
                  || s.genericGetMin == null || s.genericGetMax == null)
                sys.error(s"row group without usable stats for '$c' in $f — " +
                  "a partial envelope must not read as prunable")
              val lo = s.genericGetMin match {
                case l: java.lang.Long => l.longValue
                case i: java.lang.Integer => i.longValue
                case o => sys.error(s"non-integral stats for $c: ${o.getClass}")
              }
              (lo, s.genericGetMax.asInstanceOf[Number].longValue)
            }
            if (envelopes.isEmpty)
              sys.error(s"column '$c' absent from $f — " +
                "a missing envelope must not read as prunable")
            (label(f), c, envelopes.map(_._1).min,
              envelopes.map(_._2).max, nRows)
          }
        } finally reader.close()
      }
      .toDF("file", "column", "min_value", "max_value", "n_rows")
  }

  /** The files a closed-range predicate `lo <= col <= hi` must read: those
    * whose envelope intersects the range. Everything else is skipped without
    * being opened.
    */
  def filesForRange(manifest: DataFrame, column: String,
      lo: Long, hi: Long): Seq[String] = {
    import manifest.sparkSession.implicits._
    manifest.filter($"column" === column &&
        !($"max_value" < lo || $"min_value" > hi))
      .select($"file").as[String].collect().toSeq.sorted
  }

  /** Pruning-demo probe range (inclusive) on `o_date_int`: calendar 1994.
    * One pair of values, both engines.
    */
  val ProbeLo = 19940101L
  val ProbeHi = 19941231L

  /** Columns manifested in [[manifestEntry]]. */
  val ManifestCols: Seq[String] = Seq("o_date_int", "o_orderkey")

  /** Oracle-checked end-to-end manifest demo (`wh_file_manifest`): land
    * `orders` as one flat parquet file PER CALENDAR YEAR under
    * deterministic names (`y1994.parquet` …), [[build]] the manifest from
    * footers alone, and mark which files a calendar-1994 probe
    * ([[ProbeLo]]..[[ProbeHi]] on the derived `o_date_int`) must open via
    * [[filesForRange]]. Because the layout key IS the year, the DuckDB twin
    * replays every emitted number from the data itself — per-year min/max/
    * count per column and the envelope-intersection rule — so the footer
    * reader, the envelope fold, AND the skipping predicate are all
    * hash-verified. Expected shape: exactly one selected file per manifested
    * corpus year containing 1994 (date envelopes partition by year;
    * `o_orderkey` envelopes overlap across files — the classic
    * clustered-vs-unclustered contrast in one table).
    *
    * Scale shape: the per-year landing is the demo's fixture (bounded
    * driver loop over ~7 calendar years, memoized write-once); production
    * manifests run [[build]] directly over whatever layout exists — the
    * footer scan is the distributed part and the only part that grows.
    */
  def manifestEntry(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.memo(spark, "graft-manifest", dir, perRun = true) { base =>
      import spark.implicits._
      val o = graft.Tables.orders(spark, dir)
        .withColumn("o_date_int",
          (year($"o_orderdate") * 10000 + month($"o_orderdate") * 100 +
            dayofmonth($"o_orderdate")).cast("long"))
      // bounded: one flat file per calendar year (~7 for TPC-H), landed in
      // ONE parallel job: repartition($"y") puts each year's rows in
      // exactly one task (hash on the year value — two years may share a
      // task, but a year never splits), and partitionBy writes one file
      // per distinct year per task, so every year lands as a single part
      // file. The previous form ran one filter+coalesce(1) job PER year —
      // 7 sequential scans of orders for a 7-file layout (r13 fresh
      // profile ~2 s, about half of it those serialized driver-loop jobs).
      // The manifest is footer min/max/count per file, so in-file row
      // order is irrelevant to every emitted number.
      val fs = new Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val flat = new Path(s"$base/flat")
      fs.mkdirs(flat)
      val tmp = s"$base/tmp_years"
      o.withColumn("y", year($"o_orderdate"))
        .repartition($"y")
        .write.mode("overwrite").partitionBy("y").parquet(tmp)
      fs.listStatus(new Path(tmp))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("y="))
        .foreach { d =>
          val y = d.getPath.getName.stripPrefix("y=").toInt
          val part = fs.listStatus(d.getPath)
            .find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file landed for year $y"))
          // deterministic flat name — the property that lets the oracle
          // name the same files from the data alone
          fs.rename(part.getPath, new Path(flat, s"y$y.parquet"))
        }
      fs.delete(new Path(tmp), true)
      val m = build(spark, s"$base/flat", ManifestCols)
      val selected = filesForRange(m, "o_date_int", ProbeLo, ProbeHi)
      m.withColumnRenamed("column", "col_name")
        .withColumn("selected", $"file".isin(selected: _*))
        .orderBy($"file", $"col_name")
    }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_file_manifest" -> (manifestEntry _))

  val oracle: Map[String, String] = Map(
    "wh_file_manifest" -> s"""WITH o AS (
  SELECT (year(o_orderdate) * 10000 + month(o_orderdate) * 100
          + day(o_orderdate))::BIGINT AS o_date_int,
         o_orderkey, year(o_orderdate)::INT AS y
  FROM orders),
env AS (
  SELECT 'y' || y::VARCHAR || '.parquet' AS file,
         'o_date_int' AS col_name,
         min(o_date_int)::BIGINT AS min_value,
         max(o_date_int)::BIGINT AS max_value,
         count(*)::BIGINT AS n_rows
  FROM o GROUP BY y
  UNION ALL
  SELECT 'y' || y::VARCHAR || '.parquet',
         'o_orderkey',
         min(o_orderkey)::BIGINT, max(o_orderkey)::BIGINT,
         count(*)::BIGINT
  FROM o GROUP BY y),
sel AS (
  SELECT file FROM env
  WHERE col_name = 'o_date_int'
    AND NOT (max_value < $ProbeLo OR min_value > $ProbeHi))
SELECT e.file, e.col_name, e.min_value, e.max_value, e.n_rows,
       (e.file IN (SELECT file FROM sel)) AS selected
FROM env e
ORDER BY e.file, e.col_name""")
}

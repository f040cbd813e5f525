package graft.sources.v2

import graft.plans.ChildSession
import graft.streaming.StreamRun
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered queries over the [[GenSource]] DSv2 connector. The source is
  * deterministic integer arithmetic, so DuckDB regenerates the identical
  * table from `range(n)` — the oracle checks the whole connector stack
  * (planning, pushdown, partition readers) end-to-end, not just the query.
  */
object GenQueries {

  /** ONE definition of the scan shape, interpolated into the oracle. */
  val Rows = 1000000L
  val RangeLo = 250000L
  val RangeHi = 750000L

  /** Range-restricted aggregate: the id predicates push into the source
    * (bounds consumed exactly — no residual Filter node), the projection
    * prunes the string column, and the tightened range plans fewer input
    * partitions. The query does not touch sfDir: the source IS the data.
    */
  def genPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-gen")
      .option("rows", Rows).option("slices", 32).load()
      .filter($"id" >= RangeLo && $"id" < RangeHi)
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"))
      .orderBy($"k")
  }

  /** Segment rollup over the full range — exercises the string column
    * generator and a second grouping shape.
    */
  def genSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-gen")
      .option("rows", Rows).option("slices", 32).load()
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), min($"v").as("min_v"), max($"v").as("max_v"))
      .orderBy($"seg")
  }

  /** Stream-drain shape: 100k ids in 30k-row admission-limited batches —
    * 4 micro-batches (30/30/30/10), each committing sink + offset
    * atomically. ONE definition each, interpolated into the oracle.
    */
  val StreamRows = 100000L
  val StreamBatch = 30000L

  /** The connector's MICRO_BATCH_READ path driven end-to-end: readStream
    * over the generator (rate-limited by rowsPerBatch), AvailableNow drain
    * into a parquet sink, then a batch rollup of the landed rows — the
    * oracle recomputes the same rollup from `range(n)`, so offset
    * bookkeeping (no id lost, none doubled across batch boundaries) is what
    * the hash actually checks.
    */
  def genStreamIngest(spark: SparkSession, dir: String): DataFrame = {
    val run = StreamRun(spark, "graft-stream-gen", dir) { (ss, r) =>
      StreamRun.parquet(ss.readStream.format("graft-gen")
        .option("rows", StreamRows)
        .option("slices", 8)
        .option("rowsPerBatch", StreamBatch)
        .load(), r.out, r.ckpt)
    }
    import spark.implicits._
    spark.read.parquet(run.out)
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"))
      .orderBy($"k")
  }

  /** The DSv2 WRITE path driven end-to-end: events flow through the
    * graft-audit sink (task tallies → commit messages → one atomically
    * published manifest), and the entry returns the manifest. The oracle
    * recomputes (rows, checksum) from the same table in DuckDB, so the
    * hash compare checks the COMMIT PROTOCOL — every row tallied exactly
    * once across partitions — not row content.
    */
  def auditSink(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.memo(spark, "graft-audit-sink", dir, perRun = true) { out =>
      graft.Tables.events(spark, dir)
        .write.format("graft-audit")
        .option("path", out).option("keyCol", "event_id")
        .mode("append").save()
      import spark.implicits._
      spark.read.json(s"$out/manifest.json")
        .select($"rows".as("n_rows"), $"checksum")
    }

  /** Second table size for the storage-partitioned join — a DIFFERENT row
    * count on purpose: partition compatibility comes from the reported key
    * values, not from equal data volumes.
    */
  val SpjRowsB = 300000L

  /** Storage-partitioned join: both sides read `graft-gen` in key-grouped
    * mode ([[GenSource]] `keyGrouped=true` — one input partition per
    * residue class of `k`, reported as `KeyGroupedPartitioning`), so under
    * `spark.sql.sources.v2.bucketing.enabled` BOTH per-key aggregates AND
    * the join plan with ZERO shuffle exchanges: the DSv2 co-located join
    * that Iceberg-style tables run at 100 TB, demonstrated end-to-end and
    * hash-checked against DuckDB regenerating the same arithmetic. Runs on
    * a child session (broadcast denied — the at-scale premise; config
    * cannot leak). GenSourceSpec pins the zero-exchange plan.
    */
  def spjJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    import spark.implicits._
    def keyed(n: Long) = spark.read.format("graft-gen")
      .option("rows", n).option("keyGrouped", "true").load()
    val a = keyed(Rows).groupBy($"k")
      .agg(count(lit(1)).as("n_a"), sum($"v").as("sum_v"))
    val b = keyed(SpjRowsB).groupBy($"k").agg(max($"v").as("max_v"))
    a.join(b, "k")
      .select($"k", $"n_a", $"sum_v", $"max_v")
      .orderBy($"k")
  }

  /** [[spjJoin]]'s comparison partner for the Bench `spj` ledger: the
    * identical rollup+join over PLAIN range-sliced scans (no key grouping,
    * broadcast equally denied), so the two profiles price exactly the
    * exchanges the reported partitioning removes.
    */
  def spjJoinOff(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    import spark.implicits._
    def plain(n: Long) = spark.read.format("graft-gen")
      .option("rows", n).load()
    val a = plain(Rows).groupBy($"k")
      .agg(count(lit(1)).as("n_a"), sum($"v").as("sum_v"))
    val b = plain(SpjRowsB).groupBy($"k").agg(max($"v").as("max_v"))
    a.join(b, "k")
      .select($"k", $"n_a", $"sum_v", $"max_v")
      .orderBy($"k")
  }

  /** Complete aggregate pushdown: count/min/max over a filtered id range
    * answered from the scan bounds alone (one pre-aggregated row, zero
    * generated rows — GenSourceSpec proves it at a trillion rows). The
    * oracle recomputes the same three numbers by actually aggregating.
    */
  def genAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-gen")
      .option("rows", Rows).option("slices", 32).load()
      .filter($"id" >= RangeLo && $"id" < RangeHi)
      .agg(count(lit(1)).as("n"), min($"id").as("min_id"),
        max($"id").as("max_id"))
  }

  /** The TVF surface: same generator as SQL `FROM graft_gen(n)` — the plan
    * expands to Project-over-Range, so the whole query runs in one
    * whole-stage-codegen'd pass with Range's native splits.
    */
  def genTvfRollup(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(s"""SELECT seg, count(*) AS n, sum(v) AS sum_v
FROM graft_gen($Rows)
WHERE id % 2 = 0
GROUP BY seg ORDER BY seg""")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_gen_pushdown" -> (genPushdown _),
    "src_gen_segments" -> (genSegments _),
    "src_gen_agg_pushdown" -> (genAggPushdown _),
    "src_gen_tvf" -> (genTvfRollup _),
    "stream_gen_ingest" -> (genStreamIngest _),
    "src_v2sink_manifest" -> (auditSink _),
    "src_gen_spj_join" -> (spjJoin _))

  import GenSource._
  private val genSql =
    s"""(SELECT range AS id, range % $KMod AS k,
       (range * $LehmerA) % $LehmerM AS v,
       's' || (range % $SegMod)::VARCHAR AS seg
FROM range($Rows))"""

  val oracle: Map[String, String] = Map(
    "src_gen_pushdown" -> s"""SELECT k, count(*)::BIGINT AS n,
       sum(v)::BIGINT AS sum_v
FROM $genSql g
WHERE id >= $RangeLo AND id < $RangeHi
GROUP BY k ORDER BY k""",

    "src_gen_segments" -> s"""SELECT seg, count(*)::BIGINT AS n,
       min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v
FROM $genSql g
GROUP BY seg ORDER BY seg""",

    "stream_gen_ingest" -> s"""SELECT range % $KMod AS k,
       count(*)::BIGINT AS n,
       sum((range * $LehmerA) % $LehmerM)::BIGINT AS sum_v
FROM range($StreamRows)
GROUP BY 1 ORDER BY 1""",

    "src_v2sink_manifest" -> s"""SELECT count(*)::BIGINT AS n_rows,
       sum(((event_id % $LehmerM) * $LehmerA) % $LehmerM)::BIGINT AS checksum
FROM events""",

    "src_gen_agg_pushdown" -> s"""SELECT count(*)::BIGINT AS n,
       min(id)::BIGINT AS min_id, max(id)::BIGINT AS max_id
FROM (SELECT range AS id FROM range($Rows))
WHERE id >= $RangeLo AND id < $RangeHi""",

    "src_gen_tvf" -> s"""SELECT seg, count(*)::BIGINT AS n,
       sum(v)::BIGINT AS sum_v
FROM $genSql g
WHERE id % 2 = 0
GROUP BY seg ORDER BY seg""",

    "src_gen_spj_join" -> s"""WITH a AS (
  SELECT range % $KMod AS k, count(*)::BIGINT AS n_a,
         sum((range * $LehmerA) % $LehmerM)::BIGINT AS sum_v
  FROM range($Rows) GROUP BY 1),
b AS (
  SELECT range % $KMod AS k,
         max((range * $LehmerA) % $LehmerM)::BIGINT AS max_v
  FROM range($SpjRowsB) GROUP BY 1)
SELECT a.k, a.n_a, a.sum_v, b.max_v
FROM a JOIN b USING (k)
ORDER BY a.k""")
}

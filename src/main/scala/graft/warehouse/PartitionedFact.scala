package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Month-partitioned fact materialization as a QUERYABLE surface — the
  * cluster-scale fact layout [[Warehouse.materialize]] promises
  * (`partitionFact = true`), promoted from a spec-only construct to an
  * oracle-checked entry. The fact lands once per (application, corpus)
  * under `month_key=yyyyMM/` directories; every date-ranged consumer then
  * reads ONLY its months' partitions — at 100 TB this is the difference
  * between scanning 6 months and scanning 7 years, and it composes with
  * the row-group min/max pruning inside each partition. PlanSpec asserts
  * the executed scan of [[monthPrunedScan]] carries non-empty
  * `partitionFilters` (static pruning, no full-layout listing).
  */
object PartitionedFact {

  /** Month range of the pruned report (yyyyMM, inclusive) — one definition
    * interpolated into the Spark filter and the DuckDB oracle.
    */
  val MonthLo = 199601
  val MonthHi = 199606

  /** The month layout's path — consumers that must read it in a CHILD
    * session (the derived-pruning query enables a rule there) re-open the
    * path instead of borrowing [[factByMonth]]'s parent-bound DataFrame.
    */
  private[graft] def monthLayoutPath(spark: SparkSession, dir: String): String =
    monthLayout(spark, dir)._1

  /** Land the month layout once per (application, corpus): its path and a
    * read of it.
    */
  private def monthLayout(spark: SparkSession, dir: String): (String, DataFrame) =
    graft.Scratch.memo(spark, "graft-fact-month", dir) { p =>
      Warehouse.forDir(spark, dir).factEncounters
        .withColumn("month_key", (col("date_key") / 100).cast("int"))
        .write.mode("overwrite").partitionBy("month_key").parquet(p)
      // the write-time invariants this layout just created, declared for
      // the derived-pruning rule (generated-column DDL's moral equivalent):
      // month_key is derivable from BOTH the int date_key (div 100) and
      // the DateType encounter_date (yyyyMM) — two invariants, one layout
      graft.plans.DerivedPartitionFilter.register(
        p, dataCol = "date_key", partCol = "month_key", divisor = 100L)
      graft.plans.DerivedPartitionFilter.registerDateMonth(
        p, dataCol = "encounter_date", partCol = "month_key")
      // …and PERSISTED with the layout (sidecar JSON under the root), so a
      // fresh session — every real reader at 100 TB — prunes without this
      // JVM's registry (DerivedPartitionSpec's cleared-registry gate)
      graft.plans.DerivedPartitionFilter.persist(spark, p)
      (p, spark.read.parquet(p))
    }

  /** The fact table re-landed partitioned by `month_key` (yyyyMM of the
    * encounter date), written once per (application, corpus) from the
    * already-materialized warehouse fact. Write-once layout cost; every
    * downstream month-ranged query amortizes it.
    */
  def factByMonth(spark: SparkSession, dir: String): DataFrame =
    monthLayout(spark, dir)._2

  /** Month-ranged activity report off the partitioned layout: the filter is
    * on the PARTITION column, so the scan prunes to the
    * [[MonthLo]]..[[MonthHi]] directories before reading a byte of data —
    * the plan shape every incremental load and backfill at scale relies on.
    */
  def monthPrunedScan(spark: SparkSession, dir: String): DataFrame =
    factByMonth(spark, dir)
      .filter(col("month_key") >= MonthLo && col("month_key") <= MonthHi)
      .groupBy(col("month_key"))
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct(col("patient_key")).as("n_patients"),
        sum(col("num_procedures")).as("total_procedures"),
        sum(when(col("has_report"), 1L).otherwise(0L)).as("n_with_report"))
      .orderBy(col("month_key"))

  /** Day range of the DERIVED-pruning report (yyyyMMdd, inclusive) —
    * deliberately month-UNALIGNED (mid-January to mid-April) so the
    * entry's exactness depends on the original predicate surviving the
    * rewrite, and deliberately on the DATA column so no stock rule can
    * prune the scan. One pair, both engines.
    */
  val DateLo = 19960115
  val DateHi = 19960410

  /** Date-ranged report whose filter names only `date_key`, served with
    * [[graft.plans.DerivedPartitionFilter]] enabled: the registered
    * layout invariant (`month_key = date_key div 100`) lets the rule
    * append `month_key BETWEEN 199601 AND 199604`, and the scan prunes to
    * 4 of ~84 month directories — the generated-column pruning every
    * date-filtered dashboard over a 100 TB derived-key layout needs
    * (DerivedPartitionSpec pins the executed PartitionFilters and row
    * parity; the bench `derived_dpp` ledger prices the scan cut).
    */
  def derivedPruneScan(spark0: SparkSession, dir: String): DataFrame = {
    val path = monthLayoutPath(spark0, dir)
    val spark = graft.plans.ChildSession(spark0,
      graft.plans.DerivedPartitionFilter.EnabledKey -> "true")
    spark.read.parquet(path)
      .filter(col("date_key") >= DateLo && col("date_key") <= DateHi)
      .groupBy(col("month_key"))
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct(col("patient_key")).as("n_patients"),
        sum(col("num_procedures")).as("total_procedures"))
      .orderBy(col("month_key"))
  }

  /** Date range of the DATE-typed derived-pruning report (inclusive) —
    * month-unaligned like [[DateLo]]/[[DateHi]] and over DIFFERENT months
    * (Feb–May 1997) so the two derived entries exercise different
    * partitions. One pair, both engines.
    */
  val DateLitLo = "1997-02-10"
  val DateLitHi = "1997-05-20"

  /** Date-ranged report whose filter names only the DateType
    * `encounter_date` column, served with the rule's `yyyymm` derivation
    * (`month_key = year*100 + month` — the monotone date→int map
    * registered by [[monthLayoutPath]]): the scan prunes to the 4 implied
    * month directories (199702..199705) although the query never names
    * `month_key`. This is the shape the reference's consumers actually
    * write — they filter on dates, not on synthetic int keys
    * (`/root/reference/sql/analytics_queries.sql:79` reaches months
    * through dim_time dates) — and the int-keyed
    * [[derivedPruneScan]]'s sibling on the DATE lattice
    * (DerivedPartitionSpec pins the executed PartitionFilters).
    */
  def datePruneScan(spark0: SparkSession, dir: String): DataFrame = {
    val path = monthLayoutPath(spark0, dir)
    val spark = graft.plans.ChildSession(spark0,
      graft.plans.DerivedPartitionFilter.EnabledKey -> "true")
    spark.read.parquet(path)
      .filter(col("encounter_date") >= lit(java.sql.Date.valueOf(DateLitLo)) &&
        col("encounter_date") <= lit(java.sql.Date.valueOf(DateLitHi)))
      .groupBy(col("month_key"))
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct(col("patient_key")).as("n_patients"),
        sum(col("num_procedures")).as("total_procedures"))
      .orderBy(col("month_key"))
  }

  /** The rule-off twin (bench ledger only — same rows, full-layout scan). */
  private[graft] def derivedPruneScanOff(spark0: SparkSession, dir: String): DataFrame = {
    val path = monthLayoutPath(spark0, dir)
    val spark = graft.plans.ChildSession(spark0)
    spark.read.parquet(path)
      .filter(col("date_key") >= DateLo && col("date_key") <= DateHi)
      .groupBy(col("month_key"))
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct(col("patient_key")).as("n_patients"),
        sum(col("num_procedures")).as("total_procedures"))
      .orderBy(col("month_key"))
  }

  /** Dim slice selecting the dynamically-pruned months (year, quarter) —
    * one pair of values, both engines. Distinct from [[MonthLo]]/[[MonthHi]]
    * so the static and dynamic pruning entries exercise different months.
    */
  val DppYear = 1997
  val DppQuarter = 2

  /** DYNAMIC partition pruning over the month layout — the runtime sibling
    * of [[monthPrunedScan]]'s static pruning, and the plan shape that makes
    * star joins against a partitioned fact affordable at 100 TB: the filter
    * here is on DIM ATTRIBUTES (`year`, `quarter`), not on the partition
    * column, so no static rule can prune the fact scan. Catalyst's dynamic
    * partition pruning instead evaluates the broadcast dim side first and
    * injects its distinct `month_key` set into the fact scan's
    * PartitionFilters at runtime — the fact reads 3 month directories out
    * of ~80 without the query ever naming a month. PlanSpec asserts the
    * executed fact scan carries a `dynamicpruning` partition filter, the
    * same gate the IVF cell probes pass.
    *
    * One broadcast (month-grain dim, ≤ ~100 rows), one pruned fact scan,
    * one keyed aggregate — no shuffle beyond the aggregate's.
    */
  def dppQuarterScan(spark: SparkSession, dir: String): DataFrame = {
    val months = Warehouse.forDir(spark, dir).dimTime
      .select((col("date_key") / 100).cast("int").as("month_key"),
        col("year"), col("quarter"))
      .distinct()
      .filter(col("year") === DppYear && col("quarter") === DppQuarter)
    factByMonth(spark, dir)
      .join(broadcast(months), "month_key")
      .groupBy(col("month_key"))
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct(col("patient_key")).as("n_patients"),
        sum(col("num_procedures")).as("total_procedures"))
      .orderBy(col("month_key"))
  }

  /** Per-partition reconciliation fingerprints over the month layout: row
    * count, an order-independent key checksum (sum of md5-h32 over the
    * natural key, accumulated in exact DECIMAL then reduced mod 2^31−1 so
    * it never overflows at any partition size), and the date_key envelope.
    * This is the ledger a 100 TB migration / backfill diffs against the
    * source system per partition — two runs disagree exactly where their
    * checksum rows disagree, without moving any data. One partial-
    * aggregated shuffle on the partition key.
    */
  def partitionChecksums(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Md5Hash
    factByMonth(spark, dir)
      .groupBy(col("month_key"))
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(Md5Hash.h32(concat(lit("ck:"), col("encounter_key")
          .cast("string"))).cast("decimal(38,0)")) % Md5Hash.P)
          .cast("bigint").as("key_checksum"),
        min(col("date_key")).as("min_date_key"),
        max(col("date_key")).as("max_date_key"))
      .orderBy(col("month_key"))
  }

  /** Join-key skew report over the fact table — the measurement that
    * decides WHEN the salting / AQE-skew-join machinery
    * ([[graft.functions.SkewJoin]]) is worth its replication cost: for
    * each shuffle key the fact actually joins on, the key cardinality,
    * the heaviest key's row count and share, and the average rows per
    * key. A hot key's share is the fraction of a shuffle stage that
    * serializes onto one reducer, so `max_share ≫ 1/n_keys` is the
    * trigger. One count-aggregate per key column (map-side partial) + a
    * 1-row rollup each; doubles derive from exact longs, so the report
    * hash-compares.
    */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val fact = Warehouse.forDir(spark, dir).factEncounters
    val keys = Seq("patient_key", "facility_key", "date_key")
    keys.map { k =>
      fact.groupBy(col(k).as("key_value"))
        .agg(count(lit(1)).as("rows_per_key"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("rows_per_key")).as("total_rows"),
          max(col("rows_per_key")).as("max_rows"))
        .select(
          lit(k).as("join_key"),
          col("n_keys"), col("total_rows"), col("max_rows"),
          (col("total_rows") * lit(1.0) / col("n_keys")).as("avg_rows"),
          (col("max_rows") * lit(1.0) / col("total_rows")).as("max_share"))
    }.reduce(_ unionByName _)
      .orderBy(col("join_key"))
  }

  /** Compaction file-size target at test scale (rows per file) — small
    * enough that months genuinely split into multiple files. One value,
    * both engines.
    */
  val CompactTarget = 1000L

  /** The small-files maintenance job over the month layout, as a queryable
    * ledger: [[Bucketing.compactPartitioned]] rewrites each `month_key=`
    * directory into ceil(rows/[[CompactTarget]]) files (one distributed
    * pass — per-partition counts broadcast back onto rows, one shuffle on
    * (partition, target-file)), and this entry emits its audit ledger.
    * SourcesSpec pins the file-count bound on the actual output directory;
    * the DuckDB row checks the ledger arithmetic itself.
    *
    * Bench note: the compaction REWRITE deliberately stays inside the timed
    * entry — the write IS the operator — so this entry's first run carries
    * a full read+rewrite of the month layout and is expected to dominate
    * contended-round timings (driver rounds have shown 3-6× swings on this
    * box; a quiet re-run is the comparable number). Subsequent calls are
    * memoized.
    */
  def compactionLedger(spark: SparkSession, dir: String): DataFrame =
    // perRun: the rewrite IS the timed operator, so a Bench second sample
    // must re-compact into a fresh out dir, not read the memo; the
    // month-layout INPUT stays generation-independent — it is pre-warmed
    // setup
    graft.Scratch.memo(spark, "graft-fact-compact", dir, perRun = true) { out =>
      Bucketing.compactPartitioned(spark, monthLayoutPath(spark, dir), out,
          "month_key", "encounter_key", CompactTarget)
        .orderBy(col("month_key"))
    }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_month_pruned_scan" -> (monthPrunedScan _),
    "wh_derived_prune_scan" -> (derivedPruneScan _),
    "wh_date_prune_scan" -> (datePruneScan _),
    "wh_dpp_quarter_scan" -> (dppQuarterScan _),
    "wh_partition_checksums" -> (partitionChecksums _),
    "wh_compaction_ledger" -> (compactionLedger _),
    "wh_skew_report" -> (skewReport _))

  val oracle: Map[String, String] = Map(
    "wh_month_pruned_scan" -> s"""${graft.analytics.OracleSql.prelude}
SELECT (date_key // 100)::INT AS month_key,
       count(*)::BIGINT AS n_encounters,
       count(DISTINCT patient_key)::BIGINT AS n_patients,
       sum(num_procedures)::BIGINT AS total_procedures,
       sum(CASE WHEN has_report THEN 1 ELSE 0 END)::BIGINT AS n_with_report
FROM fact_encounters
WHERE date_key // 100 BETWEEN $MonthLo AND $MonthHi
GROUP BY 1
ORDER BY 1""",

    "wh_derived_prune_scan" -> s"""${graft.analytics.OracleSql.prelude}
SELECT (date_key // 100)::INT AS month_key,
       count(*)::BIGINT AS n_encounters,
       count(DISTINCT patient_key)::BIGINT AS n_patients,
       sum(num_procedures)::BIGINT AS total_procedures
FROM fact_encounters
WHERE date_key BETWEEN $DateLo AND $DateHi
GROUP BY 1
ORDER BY 1""",

    "wh_date_prune_scan" -> s"""${graft.analytics.OracleSql.prelude}
SELECT (date_key // 100)::INT AS month_key,
       count(*)::BIGINT AS n_encounters,
       count(DISTINCT patient_key)::BIGINT AS n_patients,
       sum(num_procedures)::BIGINT AS total_procedures
FROM fact_encounters
WHERE encounter_date BETWEEN DATE '$DateLitLo' AND DATE '$DateLitHi'
GROUP BY 1
ORDER BY 1""",

    "wh_dpp_quarter_scan" -> s"""${graft.analytics.OracleSql.prelude}
SELECT (date_key // 100)::INT AS month_key,
       count(*)::BIGINT AS n_encounters,
       count(DISTINCT patient_key)::BIGINT AS n_patients,
       sum(num_procedures)::BIGINT AS total_procedures
FROM fact_encounters
WHERE date_key // 100 IN (
  SELECT DISTINCT date_key // 100 FROM dim_time
  WHERE year = $DppYear AND quarter = $DppQuarter)
GROUP BY 1
ORDER BY 1""",

    "wh_partition_checksums" -> s"""${graft.analytics.OracleSql.prelude}
SELECT (date_key // 100)::INT AS month_key,
       count(*)::BIGINT AS n_rows,
       (sum((${graft.functions.Md5Hash
      .h32Sql("'ck:' || CAST(encounter_key AS VARCHAR)")})::HUGEINT)
        % ${graft.functions.Md5Hash.P})::BIGINT AS key_checksum,
       min(date_key)::INT AS min_date_key,
       max(date_key)::INT AS max_date_key
FROM fact_encounters
GROUP BY 1
ORDER BY 1""",

    "wh_compaction_ledger" -> s"""${graft.analytics.OracleSql.prelude}
SELECT (date_key // 100)::INT AS month_key,
       count(*)::BIGINT AS n_rows,
       ceil(count(*) / $CompactTarget.0)::INT AS n_files
FROM fact_encounters
GROUP BY 1
ORDER BY 1""",

    "wh_skew_report" -> s"""${graft.analytics.OracleSql.prelude}
, per AS (
  SELECT 'patient_key' AS join_key, patient_key AS key_value, count(*) AS r
  FROM fact_encounters GROUP BY 1, 2
  UNION ALL
  SELECT 'facility_key', facility_key, count(*)
  FROM fact_encounters GROUP BY 1, 2
  UNION ALL
  SELECT 'date_key', date_key, count(*)
  FROM fact_encounters GROUP BY 1, 2)
SELECT join_key,
       count(*)::BIGINT AS n_keys,
       sum(r)::BIGINT AS total_rows,
       max(r)::BIGINT AS max_rows,
       sum(r)::BIGINT * 1.0 / count(*) AS avg_rows,
       max(r)::BIGINT * 1.0 / sum(r)::BIGINT AS max_share
FROM per
GROUP BY join_key
ORDER BY join_key""")
}

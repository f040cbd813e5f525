package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-schema warehouse — the Spark-native re-expression of the reference's
  * `sql/03_warehouse.sql` + `src/populate_warehouse.py`.
  *
  * The reference populates 5 dimensions, one fact and two bridge tables with
  * `INSERT ... SELECT` statements plus three correlated-subquery `UPDATE`s
  * (`src/populate_warehouse.py:137-185`). Here the whole build is a single
  * declarative DataFrame DAG: the correlated scalar subqueries
  * (num_procedures / num_diagnoses, `populate_warehouse.py:157-175`) are
  * decorrelated into group-count + left join, and the correlated `EXISTS`
  * (has_report, `:178-185`) becomes a left join against a distinct key set —
  * exactly the rewrites Catalyst itself would apply to the SQL forms.
  *
  * Entity mapping (SURVEY.md §7.1): customer→patients, nation⋈region→
  * facilities, part→procedure/diagnosis catalogs, orders→encounters,
  * lineitem→procedure/diagnosis events, documents→reports.
  *
  * Surrogate keys: the reference uses `SERIAL` columns; a distributed engine
  * must not serialize key generation through a sequence, so we use the
  * deterministic natural keys (`o_orderkey`, `c_custkey`, `p_partkey`,
  * `n_nationkey`) directly — stable across retries and cluster sizes, and
  * reproducible by the DuckDB oracle.
  *
  * Materialization: like the reference, the warehouse IS a set of tables —
  * [[materialize]] writes each dim/fact/bridge (and the three matviews) as
  * parquet once and every query reads the parquet back. That is the
  * 100 TB-correct shape (a cluster-shared, partition-prunable columnar table
  * rebuilt by the warehouse job; `.persist()` caches die with the job and
  * Spark's in-memory columnar cache re-encodes row-by-row — measurably slower
  * than the vectorized parquet round-trip even at sf0.1). At scale the fact
  * write would be partitioned by date_key prefix (month) and bucketed by
  * encounter_key; single parquet files suffice for the test SFs.
  *
  * Scale notes (100 TB): dims here are small by construction (≤ |part|) and
  * are broadcast at every use site. The fact build shuffles `orders` and
  * `lineitem` once each on the order key; at 1000 executors both sides would
  * be bucketed by order key at ingest time so this join is co-located. The
  * group-counts are partial-aggregated map-side before the shuffle
  * (HashAggregate partial → exchange → final), so the shuffle volume is
  * ~|orders|, not ~|lineitem|.
  */
final case class Warehouse(
    dimPatient: DataFrame,
    dimFacility: DataFrame,
    dimProcedure: DataFrame,
    dimDiagnosis: DataFrame,
    dimTime: DataFrame,
    factEncounters: DataFrame,
    bridgeProcedure: DataFrame,
    bridgeDiagnosis: DataFrame,
    mvMonthlyEncounters: DataFrame,
    mvDiagnosisByAgeGroup: DataFrame,
    mvProcedureVolume: DataFrame)

object Warehouse {

  /** age_group bucketing — the model's signature derived column
    * (`src/populate_warehouse.py:68-74`): CASE over a numeric attribute into
    * five labeled buckets incl. an 'Unknown' fallback. Patients' `age` maps
    * to customers' `c_acctbal` (SURVEY §7.1).
    * Oracle-SQL twin in [[graft.analytics.OracleSql.prelude]].
    */
  private[graft] def ageGroup(bal: org.apache.spark.sql.Column) =
    when(bal < 0, "Unknown")
      .when(bal < 2500, "18-30")
      .when(bal < 5000, "31-50")
      .when(bal < 7500, "51-70")
      .otherwise("71+")

  /** The warehouse build DAG, unmaterialized. */
  def build(spark: SparkSession, dir: String): Warehouse = {
    import spark.implicits._

    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)
    val region   = Tables.region(spark, dir)
    val part     = Tables.part(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val documents = Tables.documents(spark, dir)

    // dim_patient (sql/03_warehouse.sql:5-13; src/populate_warehouse.py:56-81)
    val dimPatient =
      customer
        .join(broadcast(nation.select($"n_nationkey", $"n_name")),
          $"c_nationkey" === $"n_nationkey", "left")
        .select(
          $"c_custkey".as("patient_key"),
          $"c_custkey".as("patient_id"),
          ageGroup($"c_acctbal").as("age_group"),
          $"c_mktsegment".as("sex"),
          $"n_name".as("location"))

    // dim_facility (sql/03_warehouse.sql:19-26): small dim from nation ⋈ region.
    val dimFacility =
      nation
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .select(
          $"n_nationkey".as("facility_key"),
          $"n_name".as("facility_name"),
          $"r_name".as("facility_type"),
          $"r_name".as("location"))

    // dim_procedure (sql/03_warehouse.sql:31-38)
    val dimProcedure =
      part.select(
        $"p_partkey".as("procedure_key"),
        $"p_name".as("procedure_name"),
        $"p_type".as("modality"),
        $"p_brand".as("projection"))

    // dim_diagnosis (sql/03_warehouse.sql:44-51): description is functionally
    // dependent on code, like the reference's ICD-10 catalog (src/config.py:32-43).
    val dimDiagnosis =
      part.select(
        $"p_partkey".as("diagnosis_key"),
        $"p_brand".as("code"),
        concat(lit("Diagnosis "), $"p_brand").as("description"),
        lit("TPCH").as("code_system"))

    // dim_time (sql/03_warehouse.sql:57-70; src/populate_warehouse.py:15-54):
    // the reference emits one row per day from a procedural while-loop (S10);
    // here a declarative sequence() + explode over the orders date span.
    // day_of_week is ISO (1=Mon..7=Sun) like the reference's
    // `isoweekday()` (src/populate_warehouse.py:34); Spark's dayofweek() is
    // Sun=1 so we use weekday()+1.
    val span = orders.agg(
      min(to_date($"o_orderdate")).as("lo"),
      max(to_date($"o_orderdate")).as("hi"))
    val dimTime =
      span
        .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("full_date"))
        .select(
          date_format($"full_date", "yyyyMMdd").cast("int").as("date_key"),
          $"full_date",
          year($"full_date").as("year"),
          quarter($"full_date").as("quarter"),
          month($"full_date").as("month"),
          date_format($"full_date", "MMMM").as("month_name"),
          weekofyear($"full_date").as("week"),
          dayofmonth($"full_date").as("day_of_month"),
          (weekday($"full_date") + 1).as("day_of_week"),
          date_format($"full_date", "EEEE").as("day_name"),
          (weekday($"full_date") >= 5).as("is_weekend"))

    // bridge_encounter_procedure (sql/03_warehouse.sql:95-100): PK(enc,proc)
    // → dedup by group; procedure_date = earliest line ship date.
    val bridgeProcedure =
      lineitem
        .groupBy($"l_orderkey".as("encounter_key"), $"l_partkey".as("procedure_key"))
        .agg(min($"l_shipdate").as("procedure_date"))

    // bridge_encounter_diagnosis (sql/03_warehouse.sql:103-109): is_primary =
    // first line carries the code (≈ diagnoses.is_primary,
    // src/generate_synthetic_data.py:146).
    val bridgeDiagnosis =
      lineitem
        .groupBy($"l_orderkey".as("encounter_key"), $"l_partkey".as("diagnosis_key"))
        .agg(
          (min($"l_linenumber") === 1).as("is_primary"),
          to_date(min($"l_shipdate")).as("diagnosis_date"))

    // fact_encounters (sql/03_warehouse.sql:76-88; src/populate_warehouse.py:131-188).
    // J4 key-resolution join (customer → facility), decorrelated J7 counts,
    // J6 EXISTS flag. `customer` and the documents key set are broadcast; the
    // two count joins co-shuffle on the order key.
    val numProc = lineitem
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("num_procedures"))
    val numDiag = bridgeDiagnosis
      .groupBy($"encounter_key".as("nd_key"))
      .agg(count(lit(1)).as("num_diagnoses"))
    val docKeys = documents.select($"doc_id").distinct()

    val factEncounters =
      orders
        .join(broadcast(customer.select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey", "left")
        .join(numProc, $"o_orderkey" === $"l_orderkey", "left")
        .join(numDiag, $"o_orderkey" === $"nd_key", "left")
        .join(broadcast(docKeys), $"o_orderkey" === $"doc_id", "left")
        .select(
          $"o_orderkey".as("encounter_key"),
          $"o_orderkey".as("encounter_id"),
          $"o_custkey".as("patient_key"),
          $"c_nationkey".as("facility_key"),
          date_format($"o_orderdate", "yyyyMMdd").cast("int").as("date_key"),
          to_date($"o_orderdate").as("encounter_date"),
          $"o_orderstatus".as("encounter_type"),
          coalesce($"num_procedures", lit(0L)).as("num_procedures"),
          coalesce($"num_diagnoses", lit(0L)).as("num_diagnoses"),
          $"doc_id".isNotNull.as("has_report"))

    val wh0 = Warehouse(dimPatient, dimFacility, dimProcedure, dimDiagnosis,
      dimTime, factEncounters, bridgeProcedure, bridgeDiagnosis,
      null, null, null)
    wh0.copy(
      mvMonthlyEncounters = MatViews.monthlyEncounters(wh0),
      mvDiagnosisByAgeGroup = MatViews.diagnosisByAgeGroup(wh0),
      mvProcedureVolume = MatViews.procedureVolume(wh0))
  }

  /** Write every warehouse table (incl. matviews) as parquet under `workDir`
    * and return a Warehouse reading them back — the analog of the reference's
    * `populate_warehouse.py` + `refresh_all_warehouse_views()` run
    * (recompute = call again; `overwrite` makes it idempotent, the parquet
    * analog of `ON CONFLICT DO NOTHING` re-runs).
    *
    * `partitionFact = true` is the cluster-scale fact layout the scale note
    * above promises: the fact lands partitioned by `month_key` (yyyyMM of
    * the encounter date), so date-ranged queries and incremental loads touch
    * only their months' partitions (WarehouseSpec asserts the pruning). Off
    * by default at test SFs, where a single parquet file beats many tiny
    * partition files — partition granularity is itself a scale knob.
    */
  def materialize(spark: SparkSession, dir: String, workDir: String,
      partitionFact: Boolean = false): Warehouse = {
    val wh = build(spark, dir)
    def mat(name: String, df: DataFrame): DataFrame = {
      val p = s"$workDir/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def matFact(): DataFrame =
      if (!partitionFact) mat("fact_encounters", wh.factEncounters)
      else {
        val p = s"$workDir/fact_encounters"
        wh.factEncounters
          .withColumn("month_key", (col("date_key") / 100).cast("int"))
          .write.mode("overwrite").partitionBy("month_key").parquet(p)
        spark.read.parquet(p)
      }
    // Base tables first; the matviews are then rebuilt FROM the materialized
    // parquet (not the build DAG), so the fact join pipeline runs exactly once
    // — same dependency order as the reference's populate → refresh sequence.
    val base = Warehouse(
      dimPatient = mat("dim_patient", wh.dimPatient),
      dimFacility = mat("dim_facility", wh.dimFacility),
      dimProcedure = mat("dim_procedure", wh.dimProcedure),
      dimDiagnosis = mat("dim_diagnosis", wh.dimDiagnosis),
      dimTime = mat("dim_time", wh.dimTime),
      factEncounters = matFact(),
      bridgeProcedure = mat("bridge_encounter_procedure", wh.bridgeProcedure),
      bridgeDiagnosis = mat("bridge_encounter_diagnosis", wh.bridgeDiagnosis),
      mvMonthlyEncounters = null, mvDiagnosisByAgeGroup = null,
      mvProcedureVolume = null)
    // mv_monthly is partitioned by year: the refresh unit. A 100 TB matview
    // is never rebuilt whole — see [[refreshMonthlyYears]].
    val mvMonthlyPath = s"$workDir/mv_monthly_encounters"
    MatViews.monthlyEncounters(base).write.mode("overwrite")
      .partitionBy("year").parquet(mvMonthlyPath)
    base.copy(
      mvMonthlyEncounters = spark.read.parquet(mvMonthlyPath),
      mvDiagnosisByAgeGroup =
        mat("mv_diagnosis_by_age_group", MatViews.diagnosisByAgeGroup(base)),
      mvProcedureVolume =
        mat("mv_procedure_volume", MatViews.procedureVolume(base)))
  }

  /** Incremental matview refresh: recompute mv_monthly_encounters for the
    * given years only and overwrite just those partitions (dynamic partition
    * overwrite). This is the scale path for `refresh_all_warehouse_views()`
    * — late or corrected facts touch a few date partitions, so only those
    * matview partitions rebuild; the full-recompute `materialize` remains
    * the bootstrap.
    */
  def refreshMonthlyYears(spark: SparkSession, dir: String, workDir: String,
      years: Seq[Int]): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val base = build(spark, dir)
      MatViews.monthlyEncounters(base)
        .filter(col("year").isin(years: _*))
        .write.mode("overwrite").partitionBy("year")
        .parquet(s"$workDir/mv_monthly_encounters")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  // One materialized warehouse per (application, data dir): queries called
  // repeatedly by Verify/Bench share the parquet tables instead of
  // re-deriving them.
  def forDir(spark: SparkSession, dir: String): Warehouse =
    graft.Scratch.memo(spark, "graft-wh", dir)(materialize(spark, dir, _))

  /** Re-read the materialized warehouse with THIS session. [[forDir]]'s
    * memoized DataFrames are bound to whichever session materialized first;
    * a CHILD session carrying its own optimizer rules (the MvRewrite proof
    * queries) needs plans owned by itself, so this ensures materialization
    * and hands back fresh parquet reads — no rebuild, just reads.
    */
  def reread(spark: SparkSession, dir: String): Warehouse = {
    forDir(spark, dir)
    val work = graft.Scratch.path(spark, "graft-wh", dir)
    def rd(n: String) = spark.read.parquet(s"$work/$n")
    Warehouse(
      dimPatient = rd("dim_patient"),
      dimFacility = rd("dim_facility"),
      dimProcedure = rd("dim_procedure"),
      dimDiagnosis = rd("dim_diagnosis"),
      dimTime = rd("dim_time"),
      factEncounters = rd("fact_encounters"),
      bridgeProcedure = rd("bridge_encounter_procedure"),
      bridgeDiagnosis = rd("bridge_encounter_diagnosis"),
      mvMonthlyEncounters = rd("mv_monthly_encounters"),
      mvDiagnosisByAgeGroup = rd("mv_diagnosis_by_age_group"),
      mvProcedureVolume = rd("mv_procedure_volume"))
  }
}

package graft.analytics

import graft.functions.GraftFunctions.{pct, round2}
import graft.warehouse.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's 12-query analytics surface
  * (`/root/reference/sql/analytics_queries.sql`), re-expressed as DataFrame
  * plans over [[graft.warehouse.Warehouse]].
  *
  * Determinism: the driver hash-compares rows against a DuckDB oracle, so
  * every ORDER BY is made a *total* order — wherever the reference sorts on a
  * non-unique measure (Q2 rank ties, Q3/Q7/Q8/Q9/Q12 count ties) we append
  * the group keys as tiebreakers, mirrored exactly in
  * [[OracleSql]]. Window `row_number` orderings get the same treatment
  * (SURVEY §7.4 "ties in top-k").
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def wh(spark: SparkSession, dir: String): Warehouse =
    Warehouse.forDir(spark, dir)

  /** Query 1: Monthly Encounter Trends (`analytics_queries.sql:8-17`). */
  def q01MonthlyTrends(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvMonthlyEncounters
      .orderBy(col("year").desc, col("month").desc)
      .limit(12)
      .select(
        col("year"), col("month_name"), col("total_encounters"),
        col("unique_patients"),
        round2(col("avg_procedures_per_encounter")).as("avg_procedures"),
        col("total_procedures"))

  /** Query 2: Top Diagnoses by Age Group (`analytics_queries.sql:23-41`) —
    * CTE + ROW_NUMBER ranking window + top-k-per-group filter (W1/O3).
    */
  def q02TopDiagnosesByAgeGroup(spark: SparkSession, dir: String): DataFrame = {
    val ranked = wh(spark, dir).mvDiagnosisByAgeGroup
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("age_group"))
          .orderBy(col("diagnosis_count").desc, col("code"), col("description"))))
    ranked
      .filter(col("rank") <= 5)
      .orderBy(col("age_group"), col("rank"))
      .select(col("age_group"), col("code"), col("description"),
        col("diagnosis_count"), col("unique_patients"))
  }

  /** Query 3: Procedure Volume by Modality (`analytics_queries.sql:47-54`). */
  def q03ProcedureVolume(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvProcedureVolume
      .select(
        col("modality"), col("procedure_count"), col("unique_patients"),
        col("facilities_performed"),
        round2(col("procedure_count") * lit(1.0) / col("unique_patients"))
          .as("procedures_per_patient"))
      .orderBy(col("procedure_count").desc, col("modality"))

  /** Query 4: Average Procedures per Patient (`analytics_queries.sql:60-66`)
    * — grand-total aggregate (A4) with multiple exact COUNT(DISTINCT) (A2)
    * and a ratio-of-aggregates in the same pass (A9).
    */
  def q04PatientUtilization(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).factEncounters.agg(
      countDistinct(col("patient_key")).as("total_patients"),
      countDistinct(col("encounter_key")).as("total_encounters"),
      round2(avg(col("num_procedures"))).as("avg_procedures_per_encounter"),
      round2(avg(col("num_diagnoses"))).as("avg_diagnoses_per_encounter"),
      round2(countDistinct(col("encounter_key")) * lit(1.0)
        / countDistinct(col("patient_key"))).as("avg_encounters_per_patient"))

  /** Query 5: Weekend vs Weekday Activity (`analytics_queries.sql:72-81`). */
  def q05WeekendVsWeekday(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimTime.select(col("date_key"), col("is_weekend"))), "date_key")
      .groupBy(col("is_weekend"))
      .agg(
        countDistinct(col("encounter_key")).as("total_encounters"),
        avg(col("num_procedures")).as("avg_procedures"),
        countDistinct(col("patient_key")).as("unique_patients"))
      .select(
        col("is_weekend"),
        when(col("is_weekend"), "Weekend").otherwise("Weekday").as("day_type"),
        col("total_encounters"), col("avg_procedures"), col("unique_patients"))
      .orderBy(col("is_weekend"))
  }

  /** Query 6: Patient Demographics Summary (`analytics_queries.sql:87-94`) —
    * percent-of-total via an empty-frame window SUM over the aggregate (W3).
    */
  def q06Demographics(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).dimPatient
      .groupBy(col("age_group"), col("sex"))
      .agg(count(lit(1)).as("patient_count"))
      .select(
        col("age_group"), col("sex"), col("patient_count"),
        round2(pct(col("patient_count"),
          sum(col("patient_count")).over(Window.partitionBy())))
          .as("percentage"))
      .orderBy(col("age_group"), col("sex"))

  /** Query 7: Facility Performance Comparison (`analytics_queries.sql:100-110`). */
  def q07FacilityPerformance(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimFacility), "facility_key")
      .groupBy(col("facility_name"), col("facility_type"))
      .agg(
        countDistinct(col("encounter_key")).as("total_encounters"),
        countDistinct(col("patient_key")).as("unique_patients"),
        sum(col("num_procedures")).as("total_procedures"),
        round2(avg(col("num_procedures"))).as("avg_procedures_per_encounter"))
      .orderBy(col("total_encounters").desc, col("facility_name"))
  }

  /** Query 8: High Utilization Patients (`analytics_queries.sql:116-128`) —
    * HAVING threshold (A6/P5), distinct conditional aggregate (A8), top-k.
    */
  def q08HighUtilization(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimPatient.select(col("patient_key"), col("age_group"),
        col("sex"))), "patient_key")
      .groupBy(col("patient_key"), col("age_group"), col("sex"))
      .agg(
        countDistinct(col("encounter_key")).as("encounter_count"),
        sum(col("num_procedures")).as("total_procedures"),
        countDistinct(when(col("has_report"), col("encounter_key")))
          .as("encounters_with_reports"))
      .filter(col("encounter_count") >= 5)
      .orderBy(col("encounter_count").desc, col("patient_key"))
      .limit(20)
  }

  /** Query 9: Diagnosis Co-occurrence (`analytics_queries.sql:134-149`) — the
    * theta self-join J5: equi on encounter_key keeps it a hash join, the `<`
    * predicate dedups unordered pairs.
    */
  def q09DiagnosisCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    val bd = w.bridgeDiagnosis.select(col("encounter_key"), col("diagnosis_key"))
    val pairs = bd.as("a")
      .join(bd.as("b"),
        col("a.encounter_key") === col("b.encounter_key")
          && col("a.diagnosis_key") < col("b.diagnosis_key"))
    val d1 = w.dimDiagnosis.select(col("diagnosis_key").as("dk1"),
      col("code").as("diagnosis_1"), col("description").as("description_1"))
    val d2 = w.dimDiagnosis.select(col("diagnosis_key").as("dk2"),
      col("code").as("diagnosis_2"), col("description").as("description_2"))
    pairs
      .join(broadcast(d1), col("a.diagnosis_key") === col("dk1"))
      .join(broadcast(d2), col("b.diagnosis_key") === col("dk2"))
      .groupBy(col("diagnosis_1"), col("description_1"),
        col("diagnosis_2"), col("description_2"))
      .agg(count(lit(1)).as("co_occurrence_count"))
      .filter(col("co_occurrence_count") >= 10)
      .orderBy(col("co_occurrence_count").desc,
        col("diagnosis_1"), col("diagnosis_2"))
      .limit(10)
  }

  /** Query 10: Quarterly Growth (`analytics_queries.sql:155-171`) — LAG over
    * an aggregate with NULLIF-guarded growth arithmetic (W2/F9). The window
    * is global but post-aggregation cardinality is tiny (#quarters).
    */
  def q10QuarterlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    val byQuarter = w.factEncounters
      .join(broadcast(w.dimTime.select(col("date_key"), col("year"),
        col("quarter"))), "date_key")
      .groupBy(col("year"), col("quarter"))
      .agg(
        countDistinct(col("encounter_key")).as("encounters"),
        countDistinct(col("patient_key")).as("unique_patients"),
        sum(col("num_procedures")).as("total_procedures"))
    val lagW = Window.orderBy(col("year"), col("quarter"))
    byQuarter
      .withColumn("previous_quarter_encounters",
        lag(col("encounters"), 1).over(lagW))
      .withColumn("growth_percentage",
        round2((col("encounters") - col("previous_quarter_encounters"))
          * lit(100.0)
          / nullif(col("previous_quarter_encounters"), lit(0L))))
      .orderBy(col("year").desc, col("quarter").desc)
  }

  /** Query 11: Reports Coverage (`analytics_queries.sql:177-190`) —
    * conditional aggregate (A7) + completion-rate percentage.
    */
  def q11ReportsCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimTime.select(col("date_key"), col("year"),
        col("month"), col("month_name"))), "date_key")
      .groupBy(col("year"), col("month_name"), col("month"))
      .agg(
        count(lit(1)).as("total_encounters"),
        sum(when(col("has_report"), 1).otherwise(0)).as("encounters_with_reports"))
      .orderBy(col("year").desc, col("month").desc)
      .limit(12)
      .select(
        col("year"), col("month_name"), col("total_encounters"),
        col("encounters_with_reports"),
        round2(pct(col("encounters_with_reports"), col("total_encounters")))
          .as("report_completion_rate"))
  }

  /** Query 12: Emergency vs Scheduled (`analytics_queries.sql:196-205`). */
  def q12EncounterTypes(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).factEncounters
      .groupBy(col("encounter_type"))
      .agg(
        count(lit(1)).as("encounter_count"),
        countDistinct(col("patient_key")).as("unique_patients"),
        round2(avg(col("num_procedures"))).as("avg_procedures"),
        round2(avg(col("num_diagnoses"))).as("avg_diagnoses"),
        sum(when(col("has_report"), 1).otherwise(0)).as("encounters_with_reports"))
      .orderBy(col("encounter_count").desc, col("encounter_type"))

  /** Report variant of Q2 (`src/run_analytics.py:53-60`): top-**3** per age
    * group, without the unique_patients column — the literal query the
    * reference's report runner executes.
    */
  def q02Top3Report(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvDiagnosisByAgeGroup
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("age_group"))
          .orderBy(col("diagnosis_count").desc, col("code"), col("description"))))
      .filter(col("rank") <= 3)
      .orderBy(col("age_group"), col("rank"))
      .select(col("age_group"), col("code"), col("description"),
        col("diagnosis_count"))

  /** Report variant of Q7 (`src/run_analytics.py:134-143`): top-**5**
    * facilities with the report's narrower column set.
    */
  def q07Top5Report(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimFacility), "facility_key")
      .groupBy(col("facility_name"), col("facility_type"))
      .agg(
        countDistinct(col("encounter_key")).as("total_encounters"),
        sum(col("num_procedures")).as("total_procedures"))
      .orderBy(col("total_encounters").desc, col("facility_name"),
        col("facility_type"))
      .limit(5)
  }

  /** Report variant of Q8 (`src/run_analytics.py:148-162`): top-**10** high
    * utilizers without the report-count column or the patient key in the
    * output. The limit boundary is still made deterministic by ordering on
    * the (grouped, unselected) patient_key before the projection.
    */
  def q08Top10Report(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimPatient.select(col("patient_key"), col("age_group"),
        col("sex"))), "patient_key")
      .groupBy(col("patient_key"), col("age_group"), col("sex"))
      .agg(
        countDistinct(col("encounter_key")).as("encounter_count"),
        sum(col("num_procedures")).as("total_procedures"))
      .filter(col("encounter_count") >= 5)
      .orderBy(col("encounter_count").desc, col("patient_key"))
      .limit(10)
      .select(col("age_group"), col("sex"), col("encounter_count"),
        col("total_procedures"))
  }

  /** The matviews themselves, dumped with the reference's own ORDER BY
    * (`sql/03_warehouse.sql:124,141,156`) made total.
    */
  def mvMonthly(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvMonthlyEncounters
      .orderBy(col("year"), col("month"))

  def mvDiagnosisAge(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvDiagnosisByAgeGroup
      .orderBy(col("age_group"), col("diagnosis_count").desc, col("code"),
        col("description"))

  def mvProcedureVol(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvProcedureVolume
      .orderBy(col("procedure_count").desc, col("modality"))

  /** README "Testing Your Setup" record-count probe (`README.md:358-363`) —
    * the reference's UNION ALL smoke query (U1), over our entity analogs.
    */
  def readmeRecordCounts(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    def cnt(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("record_count")).select(lit(name).as("table_name"),
        col("record_count"))
    cnt(w.dimPatient, "patients")
      .unionByName(cnt(w.factEncounters, "encounters"))
      .unionByName(cnt(w.bridgeProcedure, "procedures"))
      .unionByName(cnt(w.bridgeDiagnosis, "diagnoses"))
      .orderBy(col("table_name"))
  }

  /** README sample Query 1 (`README.md:250-254`): monthly matview dump. */
  def readmeQ1Monthly(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvMonthlyEncounters
      .select(col("year"), col("month"), col("month_name"),
        col("total_encounters"), col("unique_patients"))
      .orderBy(col("year").desc, col("month").desc)

  /** README sample Query 2 (`README.md:256-263`): top diagnoses within one
    * age group — the P3 dim-attribute equality filter.
    */
  def readmeQ2TopDiagnoses5170(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).mvDiagnosisByAgeGroup
      .filter(col("age_group") === "51-70")
      .select(col("age_group"), col("code"), col("description"),
        col("diagnosis_count"))
      .orderBy(col("diagnosis_count").desc, col("code"), col("description"))
      .limit(10)

  /** README sample Query 3 (`README.md:265-271`): grand-total utilization. */
  def readmeQ3AvgProcedures(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).factEncounters.agg(
      countDistinct(col("patient_key")).as("total_patients"),
      round2(avg(col("num_procedures"))).as("avg_procedures_per_encounter"))

  /** README sample Query 4 (`README.md:273-281`): high-volume patients
    * (chronic-care candidates) — plain-count HAVING variant of Q8.
    */
  def readmeQ4HighVolume(spark: SparkSession, dir: String): DataFrame = {
    val w = wh(spark, dir)
    w.factEncounters
      .join(broadcast(w.dimPatient.select(col("patient_key"), col("age_group"))),
        "patient_key")
      .groupBy(col("patient_key"), col("age_group"))
      .agg(count(lit(1)).as("total_visits"))
      .filter(col("total_visits") >= 5)
      .orderBy(col("total_visits").desc, col("patient_key"))
  }

  /** README "Verify Warehouse" probe (`README.md:365-374`): age-group
    * distribution.
    */
  def readmeAgeDistribution(spark: SparkSession, dir: String): DataFrame =
    wh(spark, dir).dimPatient
      .groupBy(col("age_group"))
      .agg(countDistinct(col("patient_key")).as("patient_count"))
      .orderBy(col("age_group"))

  val all: Map[String, Q] = Map(
    "readme_q1_monthly" -> (readmeQ1Monthly _),
    "readme_q2_top_diagnoses_51_70" -> (readmeQ2TopDiagnoses5170 _),
    "readme_q3_avg_procedures" -> (readmeQ3AvgProcedures _),
    "readme_q4_high_volume" -> (readmeQ4HighVolume _),
    "readme_age_distribution" -> (readmeAgeDistribution _),
    "q01_monthly_trends" -> (q01MonthlyTrends _),
    "q02_top_diagnoses_by_age_group" -> (q02TopDiagnosesByAgeGroup _),
    "q03_procedure_volume" -> (q03ProcedureVolume _),
    "q04_patient_utilization" -> (q04PatientUtilization _),
    "q05_weekend_vs_weekday" -> (q05WeekendVsWeekday _),
    "q06_demographics" -> (q06Demographics _),
    "q07_facility_performance" -> (q07FacilityPerformance _),
    "q08_high_utilization" -> (q08HighUtilization _),
    "q02_top3_report" -> (q02Top3Report _),
    "q07_top5_report" -> (q07Top5Report _),
    "q08_top10_report" -> (q08Top10Report _),
    "q09_diagnosis_cooccurrence" -> (q09DiagnosisCooccurrence _),
    "q10_quarterly_growth" -> (q10QuarterlyGrowth _),
    "q11_reports_coverage" -> (q11ReportsCoverage _),
    "q12_encounter_types" -> (q12EncounterTypes _),
    "mv_monthly_encounters" -> (mvMonthly _),
    "mv_diagnosis_by_age_group" -> (mvDiagnosisAge _),
    "mv_procedure_volume" -> (mvProcedureVol _),
    "readme_record_counts" -> (readmeRecordCounts _))

  val oracle: Map[String, String] = OracleSql.all
}

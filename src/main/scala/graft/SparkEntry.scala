package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps every registered query name to its DataFrame builder and
  * `oracleSql` maps each hash-checked query to its DuckDB twin. Both are
  * [[Registry]]'s merge of every query module's `all` and `oracle` maps,
  * built once per JVM: a new module is registered by compiling it.
  */
object SparkEntry {

  /** Flagship: Q2 (top diagnoses per age group) — window ranking over a
    * 4-way star join, the richest single reference query.
    */
  def entry(spark: SparkSession): DataFrame =
    analytics.Queries.q02TopDiagnosesByAgeGroup(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  def oracleSql: Map[String, String] = Registry.oracles
}

package graft.observability

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runtime query profile — the per-operator metrics ledger behind the bench
  * loop's "measure, don't guess" rule.
  *
  * The reference reads its health from PostgreSQL's `pg_stat_*` views and
  * `EXPLAIN ANALYZE`; the Spark-native analog is the SQL metrics every
  * physical operator already accumulates (rows produced, bytes read, shuffle
  * bytes written/read, spill). `profile` runs the query once and returns
  * that ledger as data — one row per (operator, metric) — so a pipeline can
  * assert its own IO contract ("this stage must not spill", "the scan must
  * read < X bytes", "shuffle volume grew 10× since yesterday") the same way
  * it asserts row counts.
  *
  * Metric accumulators are merged on the driver as part of task completion,
  * so reading them AFTER the action returns is race-free (no listener-bus
  * asynchrony). AQE wraps finished stages in `QueryStageExec`, whose
  * subplans a plain `collect` won't descend into — [[PlanWalk]] follows
  * them, the same walk the PlanSpec gates use.
  *
  * Most of the ledger is SPEC-ONLY: operator names, shuffle bytes, spill
  * counters are values that exist only in this engine's runtime — DuckDB
  * has no corresponding quantity, so an oracle row would pin Spark
  * internals as magic literals. The executable contract for those lives in
  * PlanSpec/ScaleVariantsSpec (shuffle/spill bounds). The slice that IS
  * engine-invariant — the profiled query's own output cardinality and the
  * unfiltered scan's row count — is promoted to the oracle-checked
  * `obs_query_profile` entry below: it proves the accumulator-walk
  * machinery reads the right numbers, using quantities any engine can
  * recompute.
  */
object QueryMetrics {

  /** Totals a scale assertion usually wants. `scanRows` covers every file
    * source and DataSource V2 (`BatchScan`) leaf, `scanBytes`/`scanFiles`
    * every file source leaf; shuffle totals cover every exchange in the
    * final adaptive plan. `expandRows` is the rows PRODUCED by every Expand
    * operator — the axis multi-grain rewrites move: a stock G-set rollup's
    * Expand emits G×|input| rows into the partial aggregate, while the
    * re-rolled plan's Expand emits G×|leaf groups| (the wall/shuffle columns
    * alone can't see that saving at small SF, where the extra leaf exchange
    * dominates — the r9 verdict's `reroll` ledger finding).
    */
  case class Profile(outputRows: Long, scanRows: Long, scanBytes: Long,
      scanFiles: Long, shuffleWriteBytes: Long, shuffleRecordsWritten: Long,
      spillBytes: Long, wallMs: Long, expandRows: Long)

  /** Execute `df` (count action) and return the full (operator, metric,
    * value) ledger as a local DataFrame plus the headline totals.
    */
  def profile(df: DataFrame): (DataFrame, Profile) = {
    val spark = df.sparkSession
    import spark.implicits._
    val t0 = System.nanoTime()
    // execute df's OWN plan (df.count() would plan a different query whose
    // metrics belong to that query, not this one) and read its accumulators
    val outputRows = df.queryExecution.executedPlan.execute().count()
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val nodes = PlanWalk.collect(df.queryExecution.executedPlan) { case n => n }
    val ledger = nodes.zipWithIndex.flatMap { case (n, i) =>
      n.metrics.toSeq.map { case (key, m) =>
        (i, n.nodeName, key, m.name.getOrElse(key), m.value)
      }
    }
    def total(pred: (String, String) => Boolean): Long =
      ledger.collect { case (_, node, key, name, v)
        if pred(s"$node/$key", name) && v > 0 => v }.sum
    val prof = Profile(
      outputRows = outputRows,
      scanRows = ledger.collect { case (_, node, key, _, v)
        if (node.startsWith("Scan") || node.startsWith("BatchScan")) &&
          key == "numOutputRows" => v }.sum,
      scanBytes = total((_, name) => name.contains("size of files read")),
      scanFiles = total((_, name) => name.contains("number of files read")),
      shuffleWriteBytes = total((_, name) => name.contains("shuffle bytes written")),
      shuffleRecordsWritten = total((_, name) =>
        name.contains("shuffle records written")),
      spillBytes = total((_, name) => name.contains("spill size")),
      wallMs = wallMs,
      expandRows = ledger.collect { case (_, node, key, _, v)
        if node.startsWith("Expand") && key == "numOutputRows" => v }.sum)
    val ledgerDf = ledger
      .toDF("op_id", "operator", "metric_key", "metric", "value")
    (ledgerDf, prof)
  }

  /** Oracle-checkable profile: run the canonical event-type rollup through
    * [[profile]] and report the engine-invariant slice of its ledger —
    * the query's output cardinality and the rows the (unfiltered,
    * full-table) scan produced. Both are data facts, not engine facts, so
    * DuckDB recomputes them as `count(DISTINCT event_type)` and
    * `count(*)`; a wrong accumulator walk (missed AQE stage, double-counted
    * scan leaf) shows up as a value mismatch here.
    */
  def queryProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = graft.Tables.events(spark, dir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val (_, prof) = profile(q)
    Seq(("output_rows", prof.outputRows), ("scan_rows", prof.scanRows))
      .toDF("metric", "value")
      .orderBy($"metric")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "obs_query_profile" -> (queryProfile _))

  val oracle: Map[String, String] = Map(
    "obs_query_profile" -> """SELECT metric, value FROM (
  SELECT 'output_rows' AS metric,
         (SELECT count(DISTINCT event_type) FROM events)::BIGINT AS value
  UNION ALL
  SELECT 'scan_rows' AS metric,
         (SELECT count(*) FROM events)::BIGINT AS value)
ORDER BY metric""")
}

package graft.observability

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Column-level lineage — which source (table, column) pairs feed each
  * output column, read off the analyzed [[LogicalPlan]].
  *
  * The reference's platform concern here is audit: its `audit_log` table
  * records which operational values changed (`sql/01_schema.sql:123-134`);
  * the warehouse-side twin of that question is "which upstream columns
  * does this published column depend on?" — the impact-analysis /
  * data-protection query every governed warehouse needs (drop a column,
  * re-consent a field, trace a bad value). In Spark the answer is already
  * encoded in the plan's attribute graph; this walks it once, bottom-up,
  * and returns the edges as data.
  *
  * Two dependency kinds, reported in one relation:
  *
  *  - `value`: the source column's values flow into the output column's
  *    values (through projections, aggregates, window functions,
  *    generators). Scope = that output column's name.
  *  - `predicate`: the source column decides WHICH rows exist — filter
  *    predicates and join conditions. Row membership is a property of the
  *    whole result, so these rows carry scope `*`.
  *
  * The walk is a single pass building `ExprId → Set[(table, column)]`
  * maps per node; attributes born from literals (rank numbers, constants)
  * have no source edge, matching the semantic answer. Lineage of a FIXED
  * query is an engine-invariant fact derivable from the query text alone,
  * so the oracle for the registered entry pins the hand-derived edge set
  * as literals — a wrong walk (missed Window refs, dropped Generate
  * output, lost join-condition edge) diverges from it.
  */
object ColumnLineage {

  type Src = (String, String) // (table, column)

  /** Lineage edges of `df`: (scope, src_table, src_column, dep_kind),
    * deduplicated and deterministically ordered. Scope is an output column
    * name for `value` edges, `*` for result-level `predicate` edges.
    */
  def lineage(df: DataFrame): Seq[(String, String, String, String)] = {
    val plan = df.queryExecution.analyzed

    // bottom-up: per node, the value-provenance of every live attribute
    def walk(p: LogicalPlan): (Map[ExprId, Set[Src]], Set[Src]) = p match {
      case r: LogicalRelation =>
        val table = r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.headOption.map(tableName).getOrElse("?")
          case _ => "?"
        }
        (r.output.map(a => a.exprId -> Set((table, a.name))).toMap, Set.empty)
      case l: LocalRelation =>
        (l.output.map(a => a.exprId -> Set.empty[Src]).toMap, Set.empty)
      case j: Join =>
        val (lm, lp) = walk(j.left); val (rm, rp) = walk(j.right)
        val m = lm ++ rm
        val condSrc = j.condition.toSeq
          .flatMap(_.references.toSeq).flatMap(a => m.getOrElse(a.exprId, Set.empty))
        (m, lp ++ rp ++ condSrc)
      case f: Filter =>
        val (m, pr) = walk(f.child)
        val condSrc = f.condition.references.toSeq
          .flatMap(a => m.getOrElse(a.exprId, Set.empty))
        (m, pr ++ condSrc)
      case pj: Project =>
        val (m, pr) = walk(pj.child)
        (m ++ named(pj.projectList, m), pr)
      case a: Aggregate =>
        val (m, pr) = walk(a.child)
        (m ++ named(a.aggregateExpressions, m), pr)
      case w: Window =>
        val (m, pr) = walk(w.child)
        (m ++ named(w.windowExpressions, m), pr)
      case g: Generate =>
        val (m, pr) = walk(g.child)
        val genSrc = g.generator.references.toSeq
          .flatMap(a => m.getOrElse(a.exprId, Set.empty)).toSet
        (m ++ g.generatorOutput.map(a => a.exprId -> genSrc).toMap, pr)
      case u: Union =>
        val walked = u.children.map(walk)
        val preds = walked.flatMap(_._2).toSet
        val merged = u.output.zipWithIndex.map { case (out, i) =>
          out.exprId -> u.children.zip(walked).map { case (c, (m, _)) =>
            m.getOrElse(c.output(i).exprId, Set.empty[Src])
          }.reduce(_ ++ _)
        }.toMap
        (walked.flatMap(_._1).toMap ++ merged, preds)
      case d: Deduplicate =>
        val (m, pr) = walk(d.child)
        // key columns decide which rows survive — predicate-kind edges
        (m, pr ++ d.keys.flatMap(a => m.getOrElse(a.exprId, Set.empty)))
      case e: Expand =>
        // rollup/cube/grouping-sets/pivot lower to Expand, which mints
        // FRESH exprIds for its outputs (one projection row per grouping
        // set). Without this case the UnaryNode pass-through loses every
        // downstream edge — each output traces to the union of its
        // column's sources across all projection rows (null'd grouping
        // slots contribute nothing; spark_grouping_id is literal-born).
        val (m, pr) = walk(e.child)
        val merged = e.output.zipWithIndex.map { case (out, i) =>
          out.exprId -> e.projections.flatMap(_(i).references.toSeq
            .flatMap(r => m.getOrElse(r.exprId, Set.empty[Src]))).toSet
        }.toMap
        (m ++ merged, pr)
      case s: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        // streaming sources carry lineage too (the audit question "which
        // stream feeds this column" is the same question); the table name
        // is the source kind — the concrete path is a runtime detail
        val src = s.sourceName.takeWhile(_ != '[')
        (s.output.map(a => a.exprId -> Set((s"stream:$src", a.name))).toMap,
          Set.empty[Src])
      case u: UnaryNode => // Sort, Limit, SubqueryAlias, Repartition, ...
        walk(u.child)
      case other =>
        // unknown multi-child shape: merge children, no new value edges —
        // conservative but never wrong about the edges it does emit
        val walked = other.children.map(walk)
        (walked.flatMap(_._1).toMap, walked.flatMap(_._2).toSet)
    }

    def named(exprs: Seq[NamedExpression],
        m: Map[ExprId, Set[Src]]): Map[ExprId, Set[Src]] =
      exprs.map {
        case a: Attribute => a.exprId -> m.getOrElse(a.exprId, Set.empty)
        case al: Alias =>
          al.exprId -> al.child.references.toSeq
            .flatMap(r => m.getOrElse(r.exprId, Set.empty)).toSet
        case ne =>
          ne.exprId -> ne.references.toSeq
            .flatMap(r => m.getOrElse(r.exprId, Set.empty)).toSet
      }.toMap

    val (m, preds) = walk(plan)
    val valueEdges = plan.output.flatMap { out =>
      m.getOrElse(out.exprId, Set.empty)
        .map { case (t, c) => (out.name, t, c, "value") }
    }
    val predEdges = preds.toSeq.map { case (t, c) => ("*", t, c, "predicate") }
    (valueEdges ++ predEdges).distinct
      .sortBy(e => (e._1, e._2, e._3, e._4))
  }

  private def tableName(path: org.apache.hadoop.fs.Path): String = {
    val base = path.getName
    if (base.endsWith(".parquet")) base.stripSuffix(".parquet") else base
  }

  /** Oracle-checked entry: the lineage of a fixed, representative query
    * (join + filter + aggregate + window rank) as data. The expected edges
    * are hand-derived from the query text — engine-invariant semantics, so
    * the DuckDB twin pins them as literals.
    */
  def queryLineage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val q = o.join(c, o("o_custkey") === c("c_custkey"))
      .filter($"c_mktsegment" === "BUILDING")
      .groupBy($"o_orderpriority")
      .agg(sum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      .withColumn("rk", row_number().over(W.orderBy($"revenue".desc)))
    lineage(q).toDF("scope", "src_table", "src_column", "dep_kind")
      .orderBy($"scope", $"src_table", $"src_column", $"dep_kind")
  }

  /** Lineage through an [[Expand]]-lowered plan (CUBE): the round-7 walk
    * fell through to the UnaryNode pass-through and silently reported NO
    * edges for every cube output — the wrong direction for an audit tool.
    * Fixed query mirroring `agg_cube`; the oracle pins the hand-derived
    * edges (y→o_orderdate, status→o_orderstatus; count and the
    * grouping-flag columns are literal-born, no predicate edges).
    */
  def cubeLineage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val q = Tables.orders(spark, dir)
      .select(year($"o_orderdate").as("y"), $"o_orderstatus".as("status"))
      .cube($"y", $"status")
      .agg(count(lit(1)).as("n"),
        grouping($"y").cast("int").as("g_y"),
        grouping($"status").cast("int").as("g_s"))
    lineage(q).toDF("scope", "src_table", "src_column", "dep_kind")
      .orderBy($"scope", $"src_table", $"src_column", $"dep_kind")
  }

  /** Lineage of a published matview (mv_procedure_volume) back to the
    * MATERIALIZED warehouse tables — the impact-analysis query a governed
    * warehouse runs before dropping/re-consenting a column ("which
    * published aggregates read fact_encounters.facility_key?"). Edges are
    * hand-derived from the matview definition
    * (`sql/03_warehouse.sql:146-156`): the two bridge/fact/dim join keys
    * are predicate edges; modality and the two distinct-counts are value
    * edges; procedure_count is count(1), literal-born.
    */
  def matviewLineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = graft.warehouse.Warehouse.forDir(spark, dir)
    val q = graft.warehouse.MatViews.procedureVolume(wh)
    lineage(q).toDF("scope", "src_table", "src_column", "dep_kind")
      .orderBy($"scope", $"src_table", $"src_column", $"dep_kind")
  }

  /** Lineage of a STREAMING plan — same walk, the source is a
    * [[org.apache.spark.sql.execution.streaming.runtime.StreamingRelation]]
    * reported as `stream:<sourceKind>`. No query runs: lineage is a plan
    * property, which is exactly why the audit works on a stream you cannot
    * replay. Hand-derived oracle: doubled/event_id trace to the stream's
    * columns, the filter contributes the predicate edge, ts is unread.
    */
  def streamLineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one empty source dir per application: the entry runs many times per
    // harness pass (Verify, PropertySpec twice, CatalogSpec)
    val src = graft.Scratch.memo(spark, "graft-lineage-stream", "src") { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)).toString
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, value DOUBLE"))
      .parquet(src)
      .filter($"value" > 0)
      .select($"event_id", ($"value" * 2).as("doubled"))
    lineage(stream).toDF("scope", "src_table", "src_column", "dep_kind")
      .orderBy($"scope", $"src_table", $"src_column", $"dep_kind")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "obs_column_lineage" -> (queryLineage _),
    "obs_lineage_cube" -> (cubeLineage _),
    "obs_lineage_matview" -> (matviewLineage _),
    "obs_lineage_stream" -> (streamLineage _))

  val oracle: Map[String, String] = Map(
    // hand-derived from the fixed query above: o_orderpriority and the two
    // aggregates trace to orders columns (count(1) has no value source);
    // rk derives from revenue's source via the window ORDER BY; the join
    // condition and the segment filter contribute the predicate edges.
    "obs_column_lineage" -> """SELECT * FROM (VALUES
  ('*', 'customer', 'c_custkey',    'predicate'),
  ('*', 'customer', 'c_mktsegment', 'predicate'),
  ('*', 'orders',   'o_custkey',    'predicate'),
  ('o_orderpriority', 'orders', 'o_orderpriority', 'value'),
  ('revenue',         'orders', 'o_totalprice',    'value'),
  ('rk',              'orders', 'o_totalprice',    'value'))
 AS t(scope, src_table, src_column, dep_kind)
ORDER BY scope, src_table, src_column, dep_kind""",

    // hand-derived: both cube outputs trace through Expand to their orders
    // source column; n/g_y/g_s are literal-born (count(1), grouping bits of
    // the minted spark_grouping_id) and a cube has no filter/join, so no
    // predicate rows exist.
    "obs_lineage_cube" -> """SELECT * FROM (VALUES
  ('status', 'orders', 'o_orderstatus', 'value'),
  ('y',      'orders', 'o_orderdate',   'value'))
 AS t(scope, src_table, src_column, dep_kind)
ORDER BY scope, src_table, src_column, dep_kind""",

    // hand-derived from sql/03_warehouse.sql:146-156 over the MATERIALIZED
    // table names: join keys (bridge⋈fact on encounter_key, bridge⋈dim on
    // procedure_key) are predicate edges; modality + the two
    // count-distinct columns are value edges; procedure_count = count(1).
    "obs_lineage_matview" -> """SELECT * FROM (VALUES
  ('*', 'bridge_encounter_procedure', 'encounter_key', 'predicate'),
  ('*', 'bridge_encounter_procedure', 'procedure_key', 'predicate'),
  ('*', 'dim_procedure',              'procedure_key', 'predicate'),
  ('*', 'fact_encounters',            'encounter_key', 'predicate'),
  ('facilities_performed', 'fact_encounters', 'facility_key', 'value'),
  ('modality',             'dim_procedure',   'modality',     'value'),
  ('unique_patients',      'fact_encounters', 'patient_key',  'value'))
 AS t(scope, src_table, src_column, dep_kind)
ORDER BY scope, src_table, src_column, dep_kind""",

    // hand-derived from the fixed streaming plan in streamLineage: both
    // selected outputs trace to the FileSource stream's columns, the
    // filter contributes the predicate edge, ts is never read.
    "obs_lineage_stream" -> """SELECT * FROM (VALUES
  ('*',        'stream:FileSource', 'value',    'predicate'),
  ('doubled',  'stream:FileSource', 'value',    'value'),
  ('event_id', 'stream:FileSource', 'event_id', 'value'))
 AS t(scope, src_table, src_column, dep_kind)
ORDER BY scope, src_table, src_column, dep_kind""")
}

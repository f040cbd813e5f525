package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, ArrayAggregate, ArrayDistinct, Attribute, Cast, Coalesce, Divide, EqualTo, Expression, Flatten, If, KnownNotNull, LambdaFunction, Literal, NamedExpression, NamedLambdaVariable, Size}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, CollectList, CollectSet, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, LongType}

/** Materialized-view query rewriting: answer an aggregate query from a
  * registered pre-aggregate instead of the raw table.
  *
  * The reference maintains three matviews and REWRITES ITS QUERIES BY HAND
  * to read them (`sql/03_warehouse.sql:112-156` + the analytics queries
  * that select from `mv_*`). The warehouse-engine version of that contract
  * is automatic: consumers keep writing queries against the RAW tables,
  * and the optimizer substitutes a registered matview whenever it can
  * prove the query derivable from it — the classic aggregate-navigator /
  * summary-table rewrite.
  *
  * Two match paths, tried in order:
  *
  * 1. CHILD-EQUIVALENCE (the reference-matview path): the query Aggregate's
  *    child is plan-equivalent (`sameResult`) to the registered defining
  *    Aggregate's child, the grains are semantically equal, and every query
  *    aggregate equals a stored view column — then the whole Aggregate
  *    collapses to a Project over the view scan. Because equivalence is
  *    whole-subtree, this path serves definings of ANY shape: star JOINS
  *    below the aggregate, and the Expand form `RewriteDistinctAggregates`
  *    leaves behind for multi-COUNT(DISTINCT) views (the reference's
  *    `mv_monthly_encounters` / `mv_procedure_volume` are exactly that —
  *    fact⋈dim joins with two distinct counts each). The price of the
  *    generality: the query must aggregate at the view's own grain with the
  *    view's own aggregate list (computed post-expressions, reorderings and
  *    Project merges on TOP are fine; a coarser grain or a different
  *    distinct-aggregate ORDER is not — the Expand internals encode the
  *    original order, so `sameResult` refuses, soundly).
  *
  * 2. STRUCTURED single-relation matching: the query node is
  *    `Aggregate(G_q, R_q, C_q)` where `C_q` is a chain of deterministic
  *    Project / SubqueryAlias / (query-side) Filter nodes over ONE parquet
  *    `LogicalRelation`, and the MV's defining plan has the same shape.
  *    Bases match iff they scan the same parquet root paths with the same
  *    schema; columns then correspond by position. Two grain modes:
  *      EXACT grain: every aggregate — ANY deterministic function, count
  *      distinct / avg / FILTER clauses included — must equal a view column
  *      verbatim, and the whole Aggregate collapses to a Project.
  *      COARSER grain: every aggregate is a non-distinct, unfiltered
  *      Sum / Count / Min / Max / Average whose flattened input matches MV
  *      partials: Sum merges by Sum (cast back to the original result type
  *      — decimal sums widen per level), Count by `coalesce(sum, 0)`,
  *      Min/Max by themselves, and Average by merged-Sum / merged-Count
  *      (both partials must be stored; the division replicates Average's
  *      own operand types — sum cast back to Average's internal sum type,
  *      count to DECIMAL(20,0) for decimal inputs, both to DOUBLE
  *      otherwise — so the merged value is bit-identical to the direct
  *      aggregate for decimal/integral inputs; float/double inputs merge
  *      with the same re-association latitude Spark's own partial
  *      aggregation takes). DISTINCT aggregates are NOT derivable from any
  *      scalar partial, but COUNT/SUM/AVG(DISTINCT x) all merge EXACTLY
  *      when the view stores a `collect_set(x)` partial — the distinct
  *      values of a coarse group are the union of its leaf groups' sets
  *      (`array_distinct(flatten(collect_list(set)))`), so count = size,
  *      sum = an order-insensitive fold, and avg = fold / size divided in
  *      Average's own operand types; only distinct values ever shuffle,
  *      never fact rows. Float/double-bearing children refuse (the direct
  *      path normalizes -0.0/0.0 before deduplication; set union across
  *      leaf groups cannot), and other distinct aggregates bail.
  *
  * Every rewrite splices a FRESH instance of the view scan (new exprIds per
  * match site — a self-join/union of two view-servable aggregates must not
  * put duplicate ids in one tree), preserves every output `exprId` and data
  * type, restores non-nullability the scan's parquet read would otherwise
  * lose (non-nullable original outputs are wrapped in [[KnownNotNull]] —
  * stored counts are never null), and refuses itself if any reference fails
  * to map — the residual-reference check is the safety net behind the whole
  * match.
  *
  * FRESHNESS is the registrant's contract, not the rule's: [[register]]
  * binds the defining plan to the parquet snapshot that was just written;
  * if the base table changes, re-materialize and re-register (exactly the
  * reference's `refresh_all_warehouse_views()` discipline —
  * [[graft.warehouse.IvmJoin]]'s incremental refresh re-registers through
  * the same door). The rule is installed session-wide
  * ([[graft.GraftExtensions]]) but fires only when a view is registered AND
  * the session sets [[EnabledKey]] — see the key's doc for why the default
  * is off.
  *
  * At 100 TB this is the difference between a dashboard query scanning a
  * fact partition tree and it scanning kilobytes: the bench `mv_rewrite`
  * ledger prices exactly that substitution (scan rows on vs off).
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** Session opt-in (default OFF, like [[RerollExpandAggregate]]): the
    * catalog object is JVM-global, and a 385-query shared verification
    * session must not have unrelated aggregates silently re-routed
    * through a view another query registered — sound, but it would
    * invalidate every other query's plan gates. The mv queries enable it
    * in child sessions.
    */
  val EnabledKey = "spark.sql.graft.mvRewrite.enabled"

  /** The structured (single-relation) matcher's pre-digested facts. */
  private final case class Structured(
      baseKey: String,                    // parquet roots + schema identity
      baseOutput: Seq[Attribute],         // defining-side base columns
      groupFlat: Seq[Expression],         // flattened grouping exprs (defining base space)
      groupPos: Map[Int, Int],            // grouping index -> defining output position
      partials: Seq[(AggregateExpression, Int)], // mergeable partials -> defining output position
      aggCols: Seq[(AggregateExpression, Int)])  // ALL aggregate columns (exact path)

  /** One registered matview: everything needed to recognize and replace.
    * `scanAligned(i)` = position in `scan.output` of defining output column
    * i (a partitioned view write moves its partition columns to the end of
    * the read-back schema, so defining order and scan order can differ).
    */
  private final case class Entry(
      name: String,
      wholePlan: LogicalPlan,             // OPTIMIZED defining plan (any shape)
      scan: LogicalPlan,                  // analyzed read of the materialized parquet
      scanAligned: Seq[Int],
      structured: Option[Structured])

  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** Flatten Project/SubqueryAlias chains: a rewriter taking expressions
    * over `plan`'s output to expressions over the BASE relation's output,
    * plus the base itself. None if the chain contains anything else or a
    * non-deterministic projection.
    */
  private def flatten(plan: LogicalPlan): Option[(Expression => Expression, LogicalPlan)] =
    plan match {
      case p: Project if p.projectList.forall(_.deterministic) =>
        flatten(p.child).map { case (f, base) =>
          val m: Map[Long, Expression] = p.projectList.map {
            case al: Alias    => al.exprId.id -> al.child
            case a: Attribute => a.exprId.id -> (a: Expression)
          }.toMap
          ((e: Expression) => f(e.transformUp {
            case a: Attribute if m.contains(a.exprId.id) => m(a.exprId.id)
          }), base)
        }
      case s: SubqueryAlias => flatten(s.child)
      case other => Some((identity[Expression] _, other))
    }

  /** Query-side flatten: like [[flatten]] but also accepts deterministic
    * [[Filter]] nodes, returning their predicates flattened to base-column
    * form. A filter is DERIVABLE from the view iff its predicate is a
    * function of the view's grouping expressions (checked later, per
    * entry): such a predicate is constant within each leaf group, so
    * filtering base rows and filtering view rows are the same operation —
    * the standard dashboard shape, grain + predicate. The DEFINING side
    * keeps the strict no-filter [[flatten]].
    */
  private[plans] def flattenQ(plan: LogicalPlan):
      Option[(Expression => Expression, Seq[Expression], LogicalPlan)] =
    plan match {
      case p: Project if p.projectList.forall(_.deterministic) =>
        flattenQ(p.child).map { case (f, preds, base) =>
          val m: Map[Long, Expression] = p.projectList.map {
            case al: Alias    => al.exprId.id -> al.child
            case a: Attribute => a.exprId.id -> (a: Expression)
          }.toMap
          (((e: Expression) => f(e.transformUp {
            case a: Attribute if m.contains(a.exprId.id) => m(a.exprId.id)
          })), preds, base)
        }
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter
          if fl.condition.deterministic =>
        // the predicate references the plan BELOW the filter: flatten it
        // with that chain's rewriter; projections above cannot affect it
        flattenQ(fl.child).map { case (f, preds, base) =>
          (f, preds :+ f(fl.condition), base)
        }
      case s: SubqueryAlias => flattenQ(s.child)
      case other => Some((identity[Expression] _, Nil, other))
    }

  /** Identity of a parquet scan: sorted root paths + read schema. */
  private def baseKey(plan: LogicalPlan): Option[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some(fs.location.rootPaths.map(_.toString).sorted.mkString(",") +
        "|" + fs.schema.catalogString)
    case _ => None
  }

  /** Register a matview: `defining` is the aggregate pipeline the view was
    * computed FROM (raw-table space), `scan` reads the parquet it was
    * just materialized TO. Scan columns are matched to defining outputs by
    * NAME when both sides' names are unique (partitioned writes reorder
    * columns), positionally otherwise. Returns false (and registers
    * nothing) if the alignment or types fail, or — for a defining whose
    * optimized top is not an Aggregate — the child-equivalence path could
    * never fire either. Structured (single-relation) matching facts are
    * pre-digested when the defining has that shape; join/distinct-expanded
    * definings register for the child-equivalence path alone.
    */
  /** Optimize `df` with this rule force-disabled in its session: a
    * defining plan being registered must never be rewritten against an
    * already-registered entry mid-registration (an IVM re-registration of
    * the same name would otherwise match its own previous generation and
    * store a Project instead of an Aggregate).
    */
  private def optimizedWithRuleOff(df: DataFrame): LogicalPlan = {
    val sess = df.sparkSession
    val prev = sess.conf.getOption(EnabledKey)
    sess.conf.set(EnabledKey, "false")
    try df.queryExecution.optimizedPlan
    finally prev match {
      case Some(v) => sess.conf.set(EnabledKey, v)
      case None    => sess.conf.unset(EnabledKey)
    }
  }

  /** The defining plan's PRE-EXPANSION normal form. Matching must run on
    * the same normal form the query has when the rule sees it. A rule
    * injected via [[graft.GraftExtensions]] runs in the operator-
    * optimization fixed point, BEFORE `RewriteDistinctAggregates` — so a
    * multi-distinct query still looks like a plain Aggregate there. The
    * stored twin therefore must be "fully operator-optimized but not
    * distinct-expanded", which a plain `optimizedPlan` cannot produce for
    * a ≥2-distinct-group defining (and the expansion's gid numbering is
    * hash-order-dependent, so even expanded-vs-expanded comparison is
    * unstable). Trick: strip the isDistinct flags (same shapes, same
    * types), optimize fully (no multi-distinct left → no expansion), then
    * restore the flags positionally. Optimizer rules in the operator
    * batches treat aggregate-function children identically with or
    * without the flag, so the restored plan IS the query-side normal
    * form. Any restore-count mismatch falls back to the plain optimized
    * plan (registration still succeeds; the entry just can't serve
    * multi-distinct consumers).
    */
  private def preExpansionForm(defining: DataFrame): LogicalPlan = {
    defining.queryExecution.analyzed match {
      case agg: Aggregate =>
        val flags: Seq[Seq[Boolean]] = agg.aggregateExpressions.map(
          _.collect { case ae: AggregateExpression => ae.isDistinct })
        if (!flags.exists(_.contains(true))) return optimizedWithRuleOff(defining)
        val stripped = agg.copy(aggregateExpressions =
          agg.aggregateExpressions.map(_.transformUp {
            case ae: AggregateExpression if ae.isDistinct =>
              ae.copy(isDistinct = false)
          }.asInstanceOf[NamedExpression]))
        val strippedDf = org.apache.spark.sql.graft.PlanDF.ofRows(
          defining.sparkSession, stripped)
        optimizedWithRuleOff(strippedDf) match {
          case oa: Aggregate if oa.aggregateExpressions.size == flags.size =>
            var bad = false
            val restored = oa.aggregateExpressions.zip(flags).map {
              case (ne, fs) =>
                var k = -1
                val t = ne.transformUp {
                  case ae: AggregateExpression =>
                    k += 1
                    if (k < fs.size && fs(k)) ae.copy(isDistinct = true) else ae
                }
                if (k + 1 != fs.size) bad = true
                t.asInstanceOf[NamedExpression]
            }
            if (bad) optimizedWithRuleOff(defining)
            else oa.copy(aggregateExpressions = restored)
          case _ => optimizedWithRuleOff(defining)
        }
      case _ => optimizedWithRuleOff(defining)
    }
  }

  def register(name: String, defining: DataFrame, scan: DataFrame): Boolean = {
    def rdbg(msg: => String): Unit = if (sys.env.contains("GRAFT_MV_DEBUG"))
      System.err.println(s"MVDBG[register:$name] $msg")
    // the defining plan in the optimizer's NORMAL FORM, not the analyzed
    // one: matching runs inside the optimizer's fixed point, where the
    // query's expressions have already been simplified (SimplifyCasts
    // strips the redundant int cast off year(date), etc.) — the stored
    // twin must be in the same normal form or plan equality can never
    // hold. See [[preExpansionForm]] for the multi-distinct subtlety.
    val opt = preExpansionForm(defining)
    val scanPlan = scan.queryExecution.analyzed
    val sOut = scanPlan.output
    val dOut = opt.output
    if (dOut.size != sOut.size) { rdbg(s"arity ${dOut.size} vs ${sOut.size}"); return false }
    val aligned: Seq[Int] =
      if (dOut.map(_.name).distinct.size == dOut.size &&
          sOut.map(_.name).distinct.size == sOut.size &&
          dOut.forall(o => sOut.exists(_.name == o.name)))
        dOut.map(o => sOut.indexWhere(_.name == o.name))
      else dOut.indices
    // container nullability is allowed to WIDEN across the parquet
    // round-trip (collect_set's containsNull=false arrays read back
    // nullable) — the value set is identical, and the output-preservation
    // check still demands exact dataType equality anywhere a scan column
    // reaches a query output
    if (!dOut.zip(aligned).forall { case (o, p) =>
        org.apache.spark.sql.types.DataType.equalsStructurally(
          sOut(p).dataType, o.dataType, ignoreNullability = true) }) {
      rdbg(s"dtype mismatch: ${dOut.zip(aligned).collect { case (o, p) if sOut(p).dataType != o.dataType => s"${o.name}: ${o.dataType} vs ${sOut(p).dataType}" }.mkString("; ")}")
      return false
    }

    val structured: Option[Structured] = opt match {
      case Aggregate(g, r, child, _) =>
        for {
          (f, base) <- flatten(child)
          key <- baseKey(base)
          groupFlat = g.map(f)
          if groupFlat.forall(_.deterministic)
          // defining output position of each grouping: the result column
          // that is exactly that grouping expression
          groupPos = g.indices.flatMap { i =>
            r.indexWhere {
              case al: Alias    => al.child.semanticEquals(g(i))
              case a: Attribute => a.semanticEquals(g(i))
              case _            => false
            } match {
              case -1  => None
              case pos => Some(i -> pos)
            }
          }.toMap
          if groupPos.size == g.size
          // every deterministic aggregate column (distinct / avg / filtered
          // included) — usable by the EXACT-grain projection path. A
          // collect_set partial rides along DESPITE Collect's
          // deterministic=false: its VALUE is a deterministic set, only the
          // array order floats, and the one consumer below (the distinct-
          // count merge) is order-insensitive. The exact path still refuses
          // to serve a query's own non-deterministic aggregates (exactCol
          // gates on the QUERY side).
          aggCols = r.zipWithIndex.flatMap {
            case (al: Alias, pos) => al.child match {
              case ae: AggregateExpression
                  if ae.deterministic ||
                    (!ae.isDistinct && ae.filter.isEmpty &&
                      ae.aggregateFunction.isInstanceOf[CollectSet]) =>
                Some((f(ae).asInstanceOf[AggregateExpression], pos))
              case _ => None
            }
            case _ => None
          }
          // the MERGEABLE subset — usable by the coarser-grain re-aggregate
          partials = aggCols.filter { case (ae, _) =>
            !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
              case _: Sum | _: Count | _: Min | _: Max => true
              case _: CollectSet                       => true // distinct-count partial
              case _                                   => false
            })
          }
        } yield Structured(key, base.output, groupFlat, groupPos, partials, aggCols)
      case _ => None
    }
    // the child-equivalence path needs an Aggregate top; without either
    // path the entry could never fire — refuse so callers notice
    if (structured.isEmpty && !opt.isInstanceOf[Aggregate]) {
      rdbg(s"no structured digest and non-Aggregate top:\n${opt.treeString}")
      return false
    }
    catalog.put(name, Entry(name, opt, scanPlan, aligned, structured))
    true
  }

  def deregister(name: String): Unit = catalog.remove(name)
  def clear(): Unit = catalog.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (catalog.isEmpty ||
        !conf.getConfString(EnabledKey, "false").toBoolean) plan
    else plan.transformUp {
      case agg @ Aggregate(_, _, _, _) =>
        rewrite(agg).getOrElse(agg)
    }

  /** Grain arity of an entry's defining: grouping-expression count of its
    * optimized top Aggregate (structured entries read it off the
    * pre-digested facts). Coarser-than-Aggregate shapes rank 0.
    */
  private def grainArity(e: Entry): Int = e.wholePlan match {
    case a: Aggregate => a.groupingExpressions.size
    case _            => e.structured.map(_.groupFlat.size).getOrElse(0)
  }

  /** DETERMINISTIC candidate order — which view serves a consumer must
    * never be a hash-iteration accident (two equally-servable views over
    * one base would otherwise flip between runs, and with them every
    * downstream plan gate). Policy: COARSEST grain first, then name order
    * as the total tie-break. The coarsest view that can serve at all is
    * the one nearest the query's own grain: when it matches exactly the
    * rewrite degenerates to a pure projection (zero aggregates — the
    * plan shape MvRewriteSpec pins for the exact-grain path), and when it
    * rolls up it scans the fewest view rows. Finest-first — the obvious
    * alternative — was tried and measurably worse: it re-routed the
    * exact-grain avg consumer through a FINER sibling's sum/count
    * partials, re-aggregating 3-key-grain rows where a 2-key exact match
    * projects, and broke the pure-Project guarantee. A view that cannot
    * serve is simply skipped, so first-success in this order IS the
    * coarsest-serving view.
    */
  private def orderedEntries: Seq[Entry] = {
    import scala.jdk.CollectionConverters._
    catalog.values.asScala.toSeq.sortBy(e => (grainArity(e), e.name))
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val entries = orderedEntries
    // pass 1: child-equivalence — the only path that can serve join-based
    // and multi-distinct (Expand-form) definings
    val it1 = entries.iterator
    while (it1.hasNext) {
      tryChildEquiv(agg, it1.next()) match {
        case some @ Some(_) => return some
        case None           => ()
      }
    }
    // pass 2: structured single-relation matching
    val (fq, preds, baseQ) = flattenQ(agg.child).getOrElse(return None)
    val keyQ = baseKey(baseQ).getOrElse(return None)
    val it2 = entries.iterator
    while (it2.hasNext) {
      val e = it2.next()
      e.structured match {
        case Some(s) if s.baseKey == keyQ =>
          tryEntry(agg, fq, preds, baseQ, e, s) match {
            case some @ Some(_) => return some
            case None           => ()
          }
        case _ => ()
      }
    }
    None
  }

  /** A fresh instance of the entry's scan for THIS match site: new output
    * exprIds (a query whose tree matches the same view twice — self-join
    * or union of two servable rollups — must not receive duplicate ids),
    * returned as (plan, defining-output-aligned columns).
    */
  private def freshScan(e: Entry): Option[(LogicalPlan, Seq[Attribute])] = {
    val fresh = e.scan.transform {
      case r: LogicalRelation => r.newInstance()
    }
    if (fresh.output.size != e.scan.output.size) return None
    Some((fresh, e.scanAligned.map(fresh.output)))
  }

  /** Restore the nullability the parquet round-trip lost: a non-nullable
    * original output (count, grouping key of a non-null column) replaced
    * by a nullable view column gets a [[KnownNotNull]] wrapper — the
    * stored value genuinely never is null (it was computed by the same
    * non-nullable expression), and parents keep the metadata they resolved
    * against. The opposite flip (nullable original, non-nullable scan) is
    * a safe narrowing and needs nothing.
    */
  private def fit(col: Expression, like: Expression): Expression =
    if (!like.nullable && col.nullable) KnownNotNull(col) else col

  /** Output-preservation contract shared by both paths: every exprId and
    * dataType unchanged, and no output goes non-nullable → nullable.
    */
  private def preserves(rewritten: LogicalPlan, original: LogicalPlan): Boolean =
    rewritten.output.map(a => (a.exprId, a.dataType)) ==
      original.output.map(a => (a.exprId, a.dataType)) &&
    rewritten.output.zip(original.output).forall { case (n, o) =>
      o.nullable || !n.nullable
    }

  // =====================================================================
  // Path 1: child-equivalence
  // =====================================================================

  /** Query `Aggregate(G_q, R_q, C_q)` matches entry `Aggregate(G_s, R_s,
    * C_s)` when `C_q.sameResult(C_s)` (whole-subtree plan equivalence —
    * joins, Expands, everything), the grains are semantically equal sets,
    * and every aggregate inside R_q equals some stored result column.
    * Result expressions may reorder, drop, or post-compute over the view
    * columns (a merged `Project` ratio like the reference's Q3 per-patient
    * rate rewrites fine); the whole node collapses to a Project over a
    * fresh view scan.
    */
  private def tryChildEquiv(agg: Aggregate, e: Entry): Option[LogicalPlan] = {
    val s = e.wholePlan match {
      case a: Aggregate => a
      case _            => return None
    }
    // cheap screens before canonicalizing anything
    def dbg(msg: String): Unit = if (sys.env.contains("GRAFT_MV_DEBUG"))
      System.err.println(s"MVDBG[${e.name}] $msg")
    if (agg.child.output.size != s.child.output.size) { dbg(s"size ${agg.child.output.size} vs ${s.child.output.size}"); return None }
    if (agg.child.output.map(_.dataType) != s.child.output.map(_.dataType))
      { dbg("dtypes differ"); return None }
    if (agg.groupingExpressions.size != s.groupingExpressions.size) { dbg("group size"); return None }
    if (!agg.child.sameResult(s.child)) { dbg(s"sameResult FALSE\nQ:${agg.child.canonicalized.treeString}\nS:${s.child.canonicalized.treeString}"); return None }
    dbg("sameResult TRUE")

    // sameResult ⇒ canonical structures equal ⇒ outputs correspond by
    // position: map stored-side attributes into query space
    val m: Map[Long, Attribute] =
      s.child.output.map(_.exprId.id).zip(agg.child.output).toMap
    def toQ(expr: Expression): Expression = expr.transformUp {
      case a: Attribute => m.getOrElse(a.exprId.id, a)
    }

    // grain equality both directions (a projection cannot re-aggregate)
    val gS = s.groupingExpressions.map(toQ)
    val gQ = agg.groupingExpressions
    if (!gQ.forall(q => gS.exists(_.semanticEquals(q))) ||
        !gS.forall(v => gQ.exists(_.semanticEquals(v)))) { dbg(s"grain gQ=$gQ gS=$gS"); return None }

    val (scanPlan, scanCols) = freshScan(e).getOrElse(return None)

    // every stored result column, alias-stripped and in query space, with
    // the scan column that holds its materialized value
    val avail: Seq[(Expression, Attribute)] =
      s.aggregateExpressions.zipWithIndex.map {
        case (al: Alias, i)   => (toQ(al.child), scanCols(i))
        case (a: Attribute, i) => (toQ(a), scanCols(i))
        case (ne, i)          => (toQ(ne), scanCols(i))
      }

    val projected: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      val t = ne.transformDown {
        case sub if avail.exists(_._1.semanticEquals(sub)) =>
          val (like, col) = avail.find(_._1.semanticEquals(sub)).get
          fit(col, like)
      }
      // anything aggregate-shaped that survived has no view column: bail
      if (t.exists(_.isInstanceOf[AggregateExpression])) { dbg(s"agg survived in $t\navail=${avail.map(_._1)}"); return None }
      if (!t.references.forall(scanPlan.outputSet.contains)) { dbg(s"refs leak in $t"); return None }
      t match {
        case al: Alias                             => al
        case a: Attribute if a.exprId == ne.exprId => a
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    val proj = Project(projected, scanPlan)
    if (!preserves(proj, agg)) { dbg(s"preserves FALSE\nproj=${proj.output.map(a => (a.name, a.exprId.id, a.dataType, a.nullable))}\nagg=${agg.output.map(a => (a.name, a.exprId.id, a.dataType, a.nullable))}"); return None }
    dbg("REWRITTEN")
    Some(proj)
  }

  // =====================================================================
  // Path 2: structured single-relation matching
  // =====================================================================

  private def tryEntry(agg: Aggregate, fq: Expression => Expression,
      preds: Seq[Expression], baseQ: LogicalPlan, e: Entry,
      st: Structured): Option[LogicalPlan] = {
    // map the entry's base attrs onto the query's (same schema, by position)
    val baseMap: Map[Long, Attribute] =
      st.baseOutput.map(_.exprId.id).zip(baseQ.output).toMap
    def toQuerySpace(expr: Expression): Expression = expr.transformUp {
      case a: Attribute => baseMap.getOrElse(a.exprId.id, a)
    }
    val mvGroupQ = st.groupFlat.map(toQuerySpace)

    val (scanPlan, scanCols) = freshScan(e).getOrElse(return None)

    // every query grouping must be one of the MV's groupings
    val matchedJs = scala.collection.mutable.Set[Int]()
    val gToScan: Seq[(Expression, Expression)] = agg.groupingExpressions.map { g =>
      if (!g.deterministic) return None
      val flat = fq(g)
      val j = mvGroupQ.indexWhere(_.semanticEquals(flat))
      if (j < 0) return None
      matchedJs += j
      g -> fit(scanCols(st.groupPos(j)), g)
    }
    // the bare (unfitted) scan attribute for grouping position j — the
    // Aggregate's groupingExpressions must stay plain attributes
    def groupAttr(j: Int): Attribute = scanCols(st.groupPos(j))

    // every filter predicate must be a function of the VIEW's grouping
    // expressions (not merely the query's — a filter on mo is derivable
    // from a yr×mo view even when the query groups by yr alone): replace
    // maximal view-grouping subexpressions with scan columns, then demand
    // nothing else remains
    val scanChild: LogicalPlan = {
      val mapped = preds.map { p =>
        val mp = p.transformDown {
          case sub if mvGroupQ.exists(_.semanticEquals(sub)) =>
            val j = mvGroupQ.indexWhere(_.semanticEquals(sub))
            fit(scanCols(st.groupPos(j)), sub)
        }
        if (!mp.references.forall(scanPlan.outputSet.contains)) return None
        mp
      }
      if (mapped.isEmpty) scanPlan
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        mapped.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)),
        scanPlan)
    }

    // ---- EXACT-grain fast path -----------------------------------------
    // When the query's grain IS the view's grain, every aggregate value —
    // including count distinct, averages, and filtered aggregates that the
    // coarser-grain merge below can never derive — is sitting verbatim in
    // a view column: the whole Aggregate collapses to a Project.
    if (matchedJs.size == mvGroupQ.size) {
      val aggColsQ = st.aggCols.map { case (ae, pos) => (toQuerySpace(ae), pos) }
      def exactCol(ae: AggregateExpression): Option[Expression] = {
        if (!ae.deterministic) return None
        val flat = fq(ae).asInstanceOf[Expression]
        aggColsQ.collectFirst {
          case (p, pos) if p.semanticEquals(flat) => fit(scanCols(pos), ae)
        }
      }
      var allExact = true
      val projected: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
        val t = ne.transformUp {
          case ae: AggregateExpression =>
            exactCol(ae) match {
              case Some(col) => col
              case None      => allExact = false; ae
            }
          case expr if gToScan.exists(_._1.semanticEquals(expr)) =>
            gToScan.find(_._1.semanticEquals(expr)).get._2
        }
        t match {
          case al: Alias    => al
          case a: Attribute if a.exprId == ne.exprId => a
          case other        => Alias(other, ne.name)(exprId = ne.exprId)
        }
      }
      if (allExact &&
          projected.flatMap(_.references).forall(scanPlan.outputSet.contains)) {
        val proj = Project(projected, scanChild)
        if (preserves(proj, agg)) return Some(proj)
      }
    }

    // every aggregate must merge from an MV partial
    val partialsQ = st.partials.map { case (ae, pos) => (toQuerySpace(ae), pos) }
    def partialCol(fn: Expression): Option[Attribute] =
      partialsQ.collectFirst {
        case (p: AggregateExpression, pos)
            if p.aggregateFunction.semanticEquals(fn) => scanCols(pos)
      }
    // ONE CollectList partial per (set column, mode), shared by every
    // distinct aggregate that merges from it: per-consumer instances carry
    // distinct resultIds, which defeat PhysicalAggregation's buffer dedup
    // and would materialize the same merged sets once per consumer — a
    // sum/avg/count(DISTINCT x) trio would triple the dominant buffer cost
    val setGather = scala.collection.mutable.Map[
      (Long, org.apache.spark.sql.catalyst.expressions.aggregate.AggregateMode),
      AggregateExpression]()
    def mergeFor(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined || !ae.deterministic) return None
      // DISTINCT aggregates at a COARSER grain — underivable from any
      // scalar partial, but COUNT/SUM/AVG(DISTINCT x) derive EXACTLY from
      // a stored `collect_set(x)`: the distinct values of x in a coarse
      // group are the union of the leaf groups' distinct-value sets
      // (array_distinct∘flatten∘collect_list), merging only DISTINCT
      // VALUES per coarse group (bounded by the group's true distinct
      // cardinality — the same bound the direct distinct expansion pays,
      // minus the fact-scan). Count is order-insensitive outright; the
      // sum/avg folds are exact for decimal/integral elements in any
      // order, so collect_set's nondeterministic array order cannot leak.
      // Empty global corner: collect_list over an empty view is an EMPTY
      // ARRAY (not null), so count = 0 and sum/avg = null (foldDistinct's
      // guard) — matching the direct aggregates' on-empty contract; the
      // KnownNotNull below is the metadata twin of that fact (count
      // distinct is never null, but flatten over parquet-read nullable
      // arrays reads as nullable).
      if (ae.isDistinct) {
        // SIGNED-ZERO GATE: the direct distinct path runs through
        // NormalizeFloatingNumbers, which unifies -0.0/0.0 (and NaN bit
        // patterns) BEFORE deduplication; collect_set and array_distinct
        // do not normalize across leaf sets, so a float-bearing element
        // type would count -0.0 and 0.0 as two distinct values where the
        // direct aggregate counts one. Refuse anything containing
        // float/double — the merge below is exact for everything else.
        def floatFree(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case FloatType | DoubleType => false
            case a: org.apache.spark.sql.types.ArrayType =>
              floatFree(a.elementType)
            case m: org.apache.spark.sql.types.MapType =>
              floatFree(m.keyType) && floatFree(m.valueType)
            case s: org.apache.spark.sql.types.StructType =>
              s.fields.forall(f => floatFree(f.dataType))
            case _ => true
          }
        // the union of the leaf groups' distinct-value sets, per coarse
        // group — ONE shared CollectList per set column (see setGather)
        def distinctValues(setCol: Attribute): Expression =
          ArrayDistinct(Flatten(setGather.getOrElseUpdate(
            (setCol.exprId.id, ae.mode),
            AggregateExpression(
              CollectList(setCol), ae.mode, isDistinct = false, None))))
        // fold the distinct values in `sumT` (the aggregate's own internal
        // sum type — same 10-digit decimal headroom Sum/Average reserve);
        // an EMPTY distinct set must yield NULL, exactly like sum/avg over
        // zero values, where a bare fold would yield the zero literal.
        // Exact in any fold order for every type the float gate admits.
        def foldDistinct(arr: Expression, elemT: org.apache.spark.sql.types.DataType,
            sumT: org.apache.spark.sql.types.DataType): Expression = {
          val acc = NamedLambdaVariable("acc", sumT, nullable = true)
          val x = NamedLambdaVariable("x", elemT, nullable = true)
          // finish must be a BOUND identity lambda (LambdaFunction.identity
          // is the unresolved-variable form, unusable post-analysis)
          val res = NamedLambdaVariable("res", sumT, nullable = true)
          val fold = ArrayAggregate(arr, Cast(Literal(0), sumT),
            LambdaFunction(Add(acc, Cast(x, sumT)), Seq(acc, x)),
            LambdaFunction(res, Seq(res)))
          If(EqualTo(Size(arr, legacySizeOfNull = false), Literal(0)),
            Literal(null, sumT), fold)
        }
        return fq(ae.aggregateFunction) match {
          case Count(Seq(child)) if floatFree(child.dataType) =>
            partialCol(CollectSet(child)).map { setCol =>
              KnownNotNull(Cast(
                Size(distinctValues(setCol), legacySizeOfNull = false),
                LongType))
            }
          case s: Sum if floatFree(s.child.dataType) =>
            partialCol(CollectSet(s.child)).map { setCol =>
              val e = foldDistinct(distinctValues(setCol), s.child.dataType, s.dataType)
              if (e.dataType == ae.dataType) e else Cast(e, ae.dataType)
            }
          // AVG(DISTINCT x) = fold(distinct values) / |distinct values|,
          // divided in Average's own operand types (the [[AvgMerge]]
          // discipline) — bit-identical to the direct aggregate for the
          // decimal/integral inputs the float gate admits
          case av: Average
              if AvgMerge.supported(av.child.dataType) &&
                floatFree(av.child.dataType) =>
            partialCol(CollectSet(av.child)).map { setCol =>
              val arr = distinctValues(setCol)
              val sumT = av.child.dataType match {
                case d: DecimalType =>
                  DecimalType(
                    math.min(DecimalType.MAX_PRECISION, d.precision + 10),
                    d.scale)
                case _ => DoubleType
              }
              val sumD = foldDistinct(arr, av.child.dataType, sumT)
              val cntD = Cast(Size(arr, legacySizeOfNull = false), LongType)
              val div = av.child.dataType match {
                case _: DecimalType =>
                  Divide(sumD, Cast(cntD, DecimalType(20, 0)))
                case _ => Divide(sumD, Cast(cntD, DoubleType))
              }
              if (div.dataType == ae.dataType) div else Cast(div, ae.dataType)
            }
          case _ => None
        }
      }
      val flat = fq(ae.aggregateFunction).asInstanceOf[Expression]
      val simple = flat match {
        case _: Average => None // handled below (needs TWO partials)
        case f => partialCol(f).flatMap { col =>
          val fn = ae.aggregateFunction match {
            case s: Sum   => Some(s.copy(child = col))
            case _: Count => Some(Sum(col)) // counts merge by summation
            case m: Min   => Some(m.copy(child = col))
            case m: Max   => Some(m.copy(child = col))
            case _        => None
          }
          fn.map { f =>
            val merged: Expression =
              AggregateExpression(f, ae.mode, isDistinct = false, None)
            val typed =
              if (merged.dataType == ae.dataType) merged
              else Cast(merged, ae.dataType)
            // a GLOBAL query over an empty base: count(*) must be 0, but
            // sum over the (empty) view is null — coalesce restores the
            // count contract (grouped queries never see the difference:
            // every group that exists has partials ≥ 1)
            ae.aggregateFunction match {
              case _: Count => Coalesce(Seq(typed, Literal(0L)))
              case _        => typed
            }
          }
        }
      }
      simple.orElse(flat match {
        // AVG from a coarser grain: avg = merged-sum / merged-count, BOTH
        // partials must be stored (count of the SAME child — count(*)
        // won't do unless the child is provably non-null, which we don't
        // attempt). The division replicates Average's own evaluate shape —
        // decimal: Divide(sum: sumType, count: DECIMAL(20,0)) then cast to
        // the avg result type (sum re-widened by the re-sum is cast BACK
        // to the view column's type first; exact, the value IS the
        // original total) — so decimal/integral merges are bit-identical
        // to the direct aggregate. Float/double inputs re-associate, the
        // latitude Spark's own partial aggregation already takes.
        case av: Average if AvgMerge.supported(av.child.dataType) =>
          for {
            sumCol <- partialCol(Sum(av.child))
            cntCol <- partialCol(Count(Seq(av.child)))
          } yield AvgMerge.merge(av, sumCol, cntCol, ae.mode)
        case _ => None
      })
    }

    // transformUp, NOT transformDown: a down-transform recurses into its
    // own replacement, so the merged AggregateExpression (which references
    // scan columns) would be fed straight back into mergeFor and bail
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      var ok = true
      val t = ne.transformUp {
        case ae: AggregateExpression =>
          mergeFor(ae) match {
            case Some(mg) => mg
            case None     => ok = false; ae
          }
        case expr if gToScan.exists(_._1.semanticEquals(expr)) =>
          gToScan.find(_._1.semanticEquals(expr)).get._2
      }
      if (!ok) return None
      t match {
        case al: Alias   => al
        case a: Attribute =>
          // a bare grouping column was replaced by the scan attribute:
          // restore the original output id for every parent operator
          Alias(a, ne.name)(exprId = ne.exprId)
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    // residual-reference safety net: everything must now live on the scan
    if (!newResult.flatMap(_.references).forall(scanPlan.outputSet.contains))
      return None

    val newGroupings: Seq[Expression] = agg.groupingExpressions.map { g =>
      val j = mvGroupQ.indexWhere(_.semanticEquals(fq(g)))
      groupAttr(j)
    }
    // splice our own pruning Project: the rule also runs post-hoc
    // (`GraftExtensions.install`), AFTER ColumnPruning is done, and
    // physical planning only narrows a parquet read through a
    // PhysicalOperation Project/Filter chain — without this, a 3-column
    // rollup would read every view column
    // (the child-equivalence and exact-grain paths already end in a
    // Project and need nothing)
    val needed = org.apache.spark.sql.catalyst.expressions.AttributeSet(
      newResult.flatMap(_.references) ++ newGroupings.flatMap(_.references))
    val aggChild =
      if (scanChild.output.forall(needed.contains)) scanChild
      else Project(scanChild.output.filter(needed.contains), scanChild)
    val rewritten = Aggregate(newGroupings, newResult, aggChild, agg.hint)
    if (!preserves(rewritten, agg)) return None
    Some(rewritten)
  }
}

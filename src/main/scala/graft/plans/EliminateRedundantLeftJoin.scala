package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** Redundant-left-join elimination.
  *
  * The warehouse idiom this library uses everywhere (the reference's
  * correlated-subquery columns, `src/populate_warehouse.py:157-175`,
  * decorrelated per SURVEY §2.4 J7) is an *enrichment left join*: a fact
  * table left-joined to a per-key aggregate (`num_procedures`,
  * `num_diagnoses`, `has_report`). A wide "enriched fact" view carries many
  * such joins so every consumer can pick the columns it needs — and any
  * consumer that does NOT read an enrichment still pays its full shuffle +
  * aggregate build; at 100 TB the unused enrichment is a full extra pass
  * over `lineitem` per query. This rule drops the join wherever soundness
  * is provable from the plan alone.
  *
  * RELATION TO THE BUILT-IN: Spark 4's own `EliminateOuterJoin` reaches the
  * same conclusion for most of these plans — but only while
  * `spark.sql.optimizer.propagateDistinctKeys.enabled` is on (the
  * `DistinctKeyVisitor` supplies its uniqueness evidence, and that
  * propagation is a real knob operators turn off on very deep plans, where
  * key-set propagation has measurable planning cost). This rule proves
  * uniqueness structurally at the join itself, so the no-unused-joins
  * guarantee holds regardless of that setting — insurance, not duplication;
  * JoinEliminationSpec pins exactly this (rule fires with propagation
  * disabled; kill-switch restores the joins). The measured value of
  * elimination — by whichever rule — is ledgered per bench run
  * ([[graft.Bench]]'s `join_rule` block: wall, shuffle bytes, scan rows of
  * the enriched consumer with ALL elimination paths on vs off).
  *
  * `a LEFT JOIN b ON a.k = b.pk` is a no-op with respect to `a`'s rows iff
  * `b.pk` is unique: every left row then appears exactly once — matched
  * rows once (unique key ⇒ no fan-out), unmatched rows once with nulls
  * (LEFT ⇒ no filtering; null/absent keys simply don't match). So the join
  * may be dropped when
  *
  *  1. the consumer above the join references ONLY left-side columns,
  *  2. the join is LEFT OUTER with a purely conjunctive equi-condition, and
  *  3. the right side is provably unique on its join keys.
  *
  * Uniqueness is proven structurally, never assumed: the right side is an
  * [[Aggregate]] whose every grouping expression a join key carries (bare
  * or aliased), a [[Deduplicate]] on covered keys, or such a plan behind
  * Filter/Project/SubqueryAlias wrappers (filters and projections preserve
  * key uniqueness). A bare table read is NOT accepted — parquet carries no
  * uniqueness constraint, and a duplicate-keyed right side would fan out
  * left rows, which is precisely the unsoundness this rule must never
  * introduce (JoinEliminationSpec pins both directions).
  *
  * Installed two ways, like the native functions: session-wide via
  * [[graft.GraftExtensions]] (`injectOptimizerRule`, the spark.sql.extensions
  * route), or lazily per-session via [[install]]
  * (`spark.experimental.extraOptimizations`) so driver-owned sessions get it
  * without configuration. Both paths bind this same object; running twice is
  * harmless (the rewrite is idempotent — once the join is gone the pattern
  * no longer matches).
  */
object EliminateRedundantLeftJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** Session kill-switch (default ON). `spark.sql.optimizer.excludedRules`
    * cannot reach extension-injected rules, so the OFF control for A/B
    * plan measurement (opt_join_baseline, the Bench on/off ledger) needs a
    * flag the rule checks itself — the standard custom-rule pattern.
    */
  val EnabledKey = "spark.sql.graft.joinElimination.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
    else plan.transformUp {
    // only Project and Aggregate genuinely BOUND the column set flowing up
    // out of the join; any other parent may forward right-side columns to
    // consumers we can't see from here, so nothing else fires the rewrite
      case p: Project   => p.withNewChildren(Seq(eliminate(p.child, p.references)))
      case a: Aggregate => a.withNewChildren(Seq(eliminate(a.child, a.references)))
    }

  /** Drop every directly-stacked redundant left join under `plan` whose
    * right side the consumer (references `consumed`) never reads. Enriched
    * views stack several enrichment joins; peeling recursively removes all
    * unused ones in a single pass. Filters in the chain just widen the
    * consumed set (their predicate must also live left-side).
    */
  private def eliminate(plan: LogicalPlan, consumed: AttributeSet): LogicalPlan =
    plan match {
      case j: Join if j.joinType == LeftOuter &&
          consumed.subsetOf(j.left.outputSet) &&
          rightSideUnique(j) =>
        eliminate(j.left, consumed)
      case f: Filter =>
        val child = eliminate(f.child, consumed ++ f.references)
        if (child eq f.child) f else f.copy(child = child)
      case other => other
    }

  /** True iff the join condition is a conjunction of left=right attribute
    * equalities AND the right side is provably unique on those right keys.
    */
  private def rightSideUnique(j: Join): Boolean = j.condition.exists { cond =>
    val keys = splitConjunctivePredicates(cond).map {
      case EqualTo(l: Attribute, r: Attribute)
          if j.left.outputSet.contains(l) && j.right.outputSet.contains(r) =>
        Some(r)
      case EqualTo(l: Attribute, r: Attribute)
          if j.right.outputSet.contains(l) && j.left.outputSet.contains(r) =>
        Some(l)
      case _ => None
    }
    keys.forall(_.isDefined) && keys.nonEmpty &&
      uniqueOn(j.right, AttributeSet(keys.flatten))
  }

  /** Structural uniqueness proof: is `plan`'s output unique on `keys`?
    * A relation unique on a key set is unique on any superset, so an
    * Aggregate proves it when the join keys COVER its grouping attributes.
    * Shared with [[EagerAggregation]], whose soundness rests on the same
    * evidence (a unique build side means no fact-row fan-out).
    */
  private[plans] def uniqueOn(plan: LogicalPlan, keys: AttributeSet): Boolean =
    plan match {
      case a: Aggregate =>
        // an Aggregate's output is unique on the output columns that carry
        // its grouping expressions — so every grouping expression needs a
        // key column emitting it, bare or under an alias. Alias removal
        // leaves `groupBy(x.as("k"))` grouping on `x` with `x AS k` in the
        // output, so the alias's child is what a key column carries.
        def bare(e: Expression) = e match {
          case Alias(child, _) => child
          case other           => other
        }
        val carried = a.aggregateExpressions
          .filter(o => keys.exists(_.exprId == o.exprId)).map(bare)
        a.groupingExpressions.nonEmpty && a.groupingExpressions.forall(g =>
          carried.exists(_.semanticEquals(bare(g))))
      case d: Deduplicate    => d.keys.forall(keys.contains)
      case f: Filter         => uniqueOn(f.child, keys) // filtering preserves uniqueness
      case s: SubqueryAlias  => uniqueOn(s.child, keys) // attrs keep exprIds through aliases
      case p: Project =>
        // map each key back through the projection: pass-through attributes
        // keep their exprId; an Alias of a bare attribute maps to it. Any
        // computed key column breaks the chain of evidence — refuse.
        val mapped = keys.toSeq.map { k =>
          p.projectList.collectFirst {
            case a: Attribute if a.exprId == k.exprId            => a
            case al @ Alias(child: Attribute, _)
                if al.exprId == k.exprId                         => child
          }
        }
        mapped.forall(_.isDefined) &&
          uniqueOn(p.child, AttributeSet(mapped.flatten))
      case _ => false // bare scans etc: no constraint metadata, never assume
    }

  /** Idempotently add the rule to a session's user-provided optimizer batch
    * (`spark.experimental.extraOptimizations`) — the no-configuration path
    * for sessions the library didn't build (mirrors Similarity.register).
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

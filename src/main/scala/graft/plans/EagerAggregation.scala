package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Cast, Coalesce, EqualTo, Expression, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Eager aggregation (group-join pushdown): partially aggregate the fact
  * side of a star join BEFORE the join, so the join and the shuffle above
  * it move one row per (join key × fact grain) instead of one row per
  * fact event — Yan & Larson's classic rewrite, which Catalyst does not
  * perform.
  *
  * Every star query in this library (and the reference's q01–q12 shape)
  * is `Aggregate(dim attrs..., aggs over fact cols, fact ⋈ dim)`: at
  * 100 TB the join ships the WHOLE fact table through an exchange, then
  * the aggregate collapses it to a handful of groups. When the rewrite
  * applies, the fact side collapses FIRST — to |join keys ∪ fact-side
  * grouping| rows — and everything downstream (join build, shuffle,
  * final aggregate) runs on pre-aggregated sketch rows.
  *
  * {{{
  *   Aggregate(G, R, Join(fact, dim, Inner, fk = pk))
  *   ==>
  *   Aggregate(G', merge(R),
  *     Join(Aggregate(fk ++ G∩fact, partials, fact), dim, Inner, fk = pk))
  * }}}
  *
  * Soundness conditions (all structural, all checked; any miss leaves the
  * plan untouched):
  *
  *  1. INNER equi-join whose condition is a conjunction of
  *     `fact-attr = dim-attr` equalities, and the dim side is PROVABLY
  *     UNIQUE on its join keys ([[EliminateRedundantLeftJoin.uniqueOn]] —
  *     an Aggregate grouped by the keys, a Deduplicate on them, or such a
  *     plan behind Filter/Project wrappers; a bare table scan never
  *     qualifies). Uniqueness means no fact row fans out, so per-group
  *     partials survive the join unchanged; inner-ness means a fact leaf
  *     group is kept or dropped AS A UNIT (all its rows share the join
  *     key), which is exactly the original row-level filtering.
  *  2. Every grouping expression lives entirely on one side of the join;
  *     fact-side grouping expressions become extra leaf keys.
  *  3. Every aggregate is a non-distinct, unfiltered, deterministic
  *     Sum / Count / Min / Max / Average over FACT columns only (count
  *     merges by `coalesce(sum, 0)` — a global aggregate over a join with
  *     no matches must still report 0, not null; avg merges via the
  *     [[AvgMerge]] two-partial derivation, bit-exact for decimal and
  *     integral inputs).
  *
  * Null fact keys: the leaf groups them like any value; the inner join
  * then drops that group whole — identical to the original dropping each
  * such row. Decimal sums widen per level and are cast back (the value is
  * the original sum, so the cast cannot overflow). Floating-point sums
  * re-associate, the latitude Spark's own partial aggregation already
  * takes.
  *
  * Like [[RerollExpandAggregate]] this is a COST-BASED choice (the win is
  * the fact-side collapse ratio; a near-unique leaf grain would pay an
  * extra shuffle for nothing), so it ships OFF behind [[EnabledKey]] —
  * and, enabled, it DECLINES when the measured collapse ratio is poor:
  * the shared [[CollapseGate]] estimates |leaf groups| / |fact rows| from
  * catalog stats when present, else from a cached key-hash-sampled
  * count+ndv probe, and bails above [[CollapseGate.MaxRatio]]; facts
  * under [[CollapseGate.MinRows]] rows skip the gate. The `_eager_` alias
  * prefix on leaf columns is the fixed-point guard.
  */
object EagerAggregation extends Rule[LogicalPlan] with PredicateHelper {

  /** Session opt-in (default OFF — see the cost note above). */
  val EnabledKey = "spark.sql.graft.eagerAggregation.enabled"

  /** The shared cost gate ([[CollapseGate]]'s doc has the estimation
    * story): stats when ANALYZEd, else a cached count+ndv probe.
    */
  private[graft] val gate =
    new CollapseGate("eager aggregation", "spark.sql.graft.eagerAggregation",
      defaultMinSavedRows = 0L, defaultMinSavedBytes = 4L << 20)

  /** Gate switch. Unset or NEGATIVE (the default): one key-hash-sampled
    * pass over the key columns when the fact has no catalog stats. 0
    * disables the gate entirely (the forced-on ledger arm); a positive
    * value is rejected. At cluster scale prefer ANALYZE'd catalog stats
    * (free); the sampled probe reads the key columns once per distinct
    * fact plan per session.
    */
  val ProbeRowsKey: String = gate.ProbeRowsKey

  /** Absolute floor on estimated rows removed from the join exchange
    * (default 0 = off — this rule's floor is [[MinSavedBytesKey]]). */
  val MinSavedRowsKey: String = gate.MinSavedRowsKey

  /** Absolute floor on estimated BYTES removed from the join exchange
    * (saved rows × the fact's row width; default 4 MiB). This rule's win
    * axis is shuffle bytes, so the floor is calibrated in bytes: the r11
    * 2M-ROW floor declined the 600:1 high-collapse fixture that its own
    * ledger measured wall-POSITIVE (forced 0.70s vs off 0.84s, shuffle
    * 44 KB vs 5.5 MB — 599k saved rows, ~10 MB saved exchange), so the
    * rule never fired anywhere it measurably won at bench scale. Under
    * 4 MiB saved the extra aggregation stage costs more than the exchange
    * it removes on any hardware this was measured on; a 100 TB fact
    * clears it by seven orders of magnitude.
    */
  val MinSavedBytesKey: String = gate.MinSavedBytesKey

  private val Tag = "_eager_"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (gate.probing || // a probe's own optimization must pass untouched
        !conf.getConfString(EnabledKey, "false").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate =>
        unwrap(agg).flatMap { case (eff, join) => push(eff, join) }
          .getOrElse(agg)
    }

  /** Peel deterministic Project / SubqueryAlias layers between the
    * Aggregate and the Join (ColumnPruning inserts one), substituting the
    * projected expressions into the groupings and results so [[push]]
    * always works directly against join-output attributes. Output
    * NamedExpressions keep their exprIds (bare attributes that resolve to
    * computed projections get re-aliased onto their original ids).
    */
  private def unwrap(agg: Aggregate): Option[(Aggregate, Join)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias}
    var groupings = agg.groupingExpressions
    var results = agg.aggregateExpressions
    var child = agg.child
    var depth = 0
    while (depth < 8) {
      child match {
        case join: Join =>
          if (join.joinType != Inner ||
            join.left.output.exists(_.name.startsWith(Tag)) ||
            join.right.output.exists(_.name.startsWith(Tag))) return None
          return Some((Aggregate(groupings, results, join, agg.hint), join))
        case p: Project if p.projectList.forall(_.deterministic) =>
          val m: Map[Long, Expression] = p.projectList.map {
            case al: Alias    => al.exprId.id -> al.child
            case a: Attribute => a.exprId.id -> (a: Expression)
          }.toMap
          def sub(e: Expression): Expression = e.transformUp {
            case a: Attribute if m.contains(a.exprId.id) => m(a.exprId.id)
          }
          groupings = groupings.map(sub)
          results = results.map { ne =>
            sub(ne) match {
              case al: Alias if al.exprId == ne.exprId => al
              case a: Attribute if a.exprId == ne.exprId => a
              case other => Alias(other, ne.name)(exprId = ne.exprId)
            }
          }
          child = p.child
        case s: SubqueryAlias => child = s.child
        case _ => return None
      }
      depth += 1
    }
    None
  }

  /** The join's equi-keys as (fact-side, dim-side) attribute pairs, or
    * None if the condition is not a pure conjunctive equi-join. `fact` is
    * whichever side the caller designates.
    */
  private def keyPairs(join: Join, fact: LogicalPlan, dim: LogicalPlan):
      Option[Seq[(Attribute, Attribute)]] = {
    val cond = join.condition.getOrElse(return None)
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(l: Attribute, r: Attribute)
          if fact.outputSet.contains(l) && dim.outputSet.contains(r) =>
        Some(l -> r)
      case EqualTo(l: Attribute, r: Attribute)
          if dim.outputSet.contains(l) && fact.outputSet.contains(r) =>
        Some(r -> l)
      case _ => None
    }
    if (pairs.forall(_.isDefined) && pairs.nonEmpty) Some(pairs.flatten)
    else None
  }

  private def push(agg: Aggregate, join: Join): Option[LogicalPlan] = {
    // try fact=left/dim=right, then the mirror
    tryOrientation(agg, join, join.left, join.right, factOnLeft = true)
      .orElse(tryOrientation(agg, join, join.right, join.left, factOnLeft = false))
  }

  private def tryOrientation(agg: Aggregate, join: Join,
      fact: LogicalPlan, dim: LogicalPlan, factOnLeft: Boolean):
      Option[LogicalPlan] = {
    val pairs = keyPairs(join, fact, dim).getOrElse(return None)
    if (!EliminateRedundantLeftJoin.uniqueOn(dim,
        AttributeSet(pairs.map(_._2)))) return None

    // grouping expressions: each entirely fact-side or entirely dim-side
    val factOut = fact.outputSet
    val dimOut = dim.outputSet
    val factGroups = scala.collection.mutable.ArrayBuffer[Expression]()
    agg.groupingExpressions.foreach { g =>
      if (!g.deterministic) return None
      if (g.references.subsetOf(factOut)) factGroups += g
      else if (g.references.subsetOf(dimOut)) ()
      else return None
    }

    // aggregates: decomposable, fact-side inputs only
    val aggExpressions = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggExpressions.isEmpty) return None
    for (ae <- aggExpressions) {
      if (ae.isDistinct || ae.filter.isDefined || !ae.deterministic) return None
      if (!ae.references.subsetOf(factOut)) return None
      ae.aggregateFunction match {
        case _: Sum | _: Count | _: Min | _: Max => ()
        // avg decomposes via the two-partial derivation ([[AvgMerge]]):
        // the leaf stores Sum(x)+Count(x), the top divides the re-sums
        case a: Average if AvgMerge.supported(a.child.dataType) => ()
        case _                                   => return None
      }
    }

    // ---- leaf: pre-aggregate the fact side --------------------------
    // keys: join keys (always) + fact-side grouping expressions (deduped)
    val leafKeyPairs: Seq[(Expression, NamedExpression)] = {
      val acc = scala.collection.mutable.ArrayBuffer[(Expression, NamedExpression)]()
      (pairs.map(_._1: Expression) ++ factGroups).foreach { k =>
        if (!acc.exists(_._1.semanticEquals(k))) {
          val named = k match {
            case a: Attribute => a
            case e            => Alias(e, s"${Tag}k${acc.size}")()
          }
          acc += ((k, named))
        }
      }
      acc.toSeq
    }
    def leafKeyAttr(k: Expression): Attribute =
      leafKeyPairs.find(_._1.semanticEquals(k)).get._2.toAttribute

    // partial pool: ONE leaf column per distinct partial FUNCTION — an
    // avg(x) alongside a sum(x) shares the Sum(x) partial; an avg needs
    // Sum(x) AND Count(x)
    val pool = scala.collection.mutable.ArrayBuffer[(AggregateFunction, NamedExpression)]()
    def partialFor(fn: AggregateFunction,
        mode: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateMode): NamedExpression =
      pool.find(_._1.semanticEquals(fn)).map(_._2).getOrElse {
        val named = Alias(
          AggregateExpression(fn, mode, isDistinct = false, None),
          s"${Tag}a${pool.size}")()
        pool += ((fn, named))
        named
      }
    aggExpressions.foreach { ae =>
      ae.aggregateFunction match {
        case a: Average =>
          partialFor(Sum(a.child), ae.mode)
          partialFor(Count(Seq(a.child)), ae.mode)
        case f => partialFor(f, ae.mode)
      }
    }
    // cost gate LAST (all structural checks passed): probe only shapes the
    // rule would otherwise rewrite
    if (!gate.ok(fact, leafKeyPairs.map(_._1))) return None

    val leaf = Aggregate(
      leafKeyPairs.map(_._1),
      leafKeyPairs.map(_._2) ++ pool.map(_._2).toSeq,
      fact, None)

    // ---- join the collapsed fact back to the dim --------------------
    val newCond = pairs.map { case (fk, pk) =>
      EqualTo(leafKeyAttr(fk), pk): Expression
    }.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
    val newJoin =
      if (factOnLeft) join.copy(left = leaf, condition = Some(newCond))
      else join.copy(right = leaf, condition = Some(newCond))

    // ---- top: merge partials, remap fact-side groupings -------------
    def merged(ae: AggregateExpression): Option[Expression] = {
      def attrOf(fn: AggregateFunction): Option[Attribute] =
        pool.find(_._1.semanticEquals(fn)).map(_._2.toAttribute)
      ae.aggregateFunction match {
        case a: Average =>
          // avg over a no-match global join: Sum partials are null, the
          // division is null — exactly the direct avg over zero rows
          for {
            sc <- attrOf(Sum(a.child))
            cc <- attrOf(Count(Seq(a.child)))
          } yield AvgMerge.merge(a, sc, cc, ae.mode)
        case f =>
          attrOf(f).map { partialAttr =>
            val mergeFn = f match {
              case s: Sum   => s.copy(child = partialAttr)
              case _: Count => Sum(partialAttr)
              case m: Min   => m.copy(child = partialAttr)
              case m: Max   => m.copy(child = partialAttr)
              case other    => other // unreachable: filtered above
            }
            val e: Expression =
              AggregateExpression(mergeFn, ae.mode, isDistinct = false, None)
            val typed = if (e.dataType == ae.dataType) e else Cast(e, ae.dataType)
            f match {
              // a GLOBAL aggregate over a join with zero matches: count must
              // come back 0; grouped aggregates never see the difference
              case _: Count => Coalesce(Seq(typed, Literal(0L)))
              case _        => typed
            }
          }
      }
    }
    val newGroupings = agg.groupingExpressions.map { g =>
      if (g.references.subsetOf(factOut)) leafKeyAttr(g) else g
    }
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      var ok = true
      val t = ne.transformUp {
        case ae: AggregateExpression =>
          // a computed fact-side grouping INSIDE an aggregate input was
          // already replaced below us, so the lookup misses: bail whole
          merged(ae) match {
            case Some(m) => m
            case None    => ok = false; ae
          }
        case e if factGroups.exists(_.semanticEquals(e)) => leafKeyAttr(e)
      }
      if (!ok) return None
      t match {
        case al: Alias    => al
        case a: Attribute if a.exprId == ne.exprId => a
        case other        => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    // residual-reference safety net: everything must resolve on the new join
    if (!newResult.flatMap(_.references).forall(newJoin.outputSet.contains))
      return None
    val rewritten = Aggregate(newGroupings, newResult, newJoin, agg.hint)
    if (rewritten.output.map(a => (a.exprId, a.dataType)) !=
        agg.output.map(a => (a.exprId, a.dataType))) return None
    Some(rewritten)
  }

  /** Idempotent no-configuration install (mirrors the other graft rules). */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

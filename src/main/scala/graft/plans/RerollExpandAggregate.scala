package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Multi-grain aggregate re-roll: push the aggregation BELOW the Expand.
  *
  * Spark plans ROLLUP / CUBE / GROUPING SETS (SURVEY §2.6 A10's subtotal
  * grains; `sql/03_warehouse.sql:115-156` materializes each grain as its
  * own view instead) as `Aggregate(keys + gid, aggs, Expand(child))`: the
  * Expand replicates EVERY input row once per grouping set, so a G-set
  * rollup feeds G·|input| rows into the partial aggregate. The partial
  * aggregate dedups that before the shuffle, but at 100 TB the G× row
  * replication is real work on the corpus scan path.
  *
  * The classic rewrite ([[graft.analytics.GroupingSets.rollupHierarchical]]
  * proves it by hand, hash-checked against the same DuckDB ROLLUP oracle)
  * aggregates ONCE at the finest grain and re-rolls the tiny leaf result.
  * This rule automates exactly that, preserving plan shape and every
  * output `exprId`:
  *
  * {{{
  *   Aggregate(keys :+ gid, aggs, Expand(proj, out, child))
  *   ==>
  *   Aggregate(keys :+ gid, merge(aggs),
  *     Expand(proj', out', Aggregate(leafKeys, partial(aggs), child)))
  * }}}
  *
  * The Expand now replicates `|leaf groups|` pre-aggregated rows instead of
  * `|input|` raw rows — the corpus is touched exactly once, structurally
  * (one Expand, one child; no union, so no reliance on exchange reuse).
  *
  * Soundness conditions (all checked; any miss leaves the plan untouched):
  *
  *  1. Every grouping expression is an `Expand`-output attribute whose
  *     per-projection cells are each either a null literal, a non-null
  *     literal (the `spark_grouping_id` column), or one consistent
  *     deterministic expression (the masked grouping value). Mixing a
  *     non-null literal with a computed cell in one column bails.
  *  2. Every aggregate is a non-distinct, unfiltered, deterministic
  *     Sum / Count / Min / Max — the self-decomposable functions where
  *     `F(A ⊎ B) = merge(F(A), F(B))` (count merges by Sum) — or an
  *     Average over a decimal/integral/float column, which decomposes via
  *     the [[AvgMerge]] two-partial derivation (the leaf stores Sum(x) and
  *     Count(x); exact for decimal/integral). First/Last, distinct
  *     aggregates, and FILTER clauses bail (so the Expand that
  *     `RewriteDistinctAggregates` builds — whose aggregate inputs are
  *     masked per projection — can never match).
  *  3. Aggregate INPUTS pass through the Expand unmasked: identical,
  *     deterministic, never-null-literal cells in every projection.
  *
  * Correctness corners the shape gets for free (RerollSpec pins each):
  *  - EMPTY input: the outer Aggregate still groups by `keys :+ gid`, so
  *    empty in → zero rows out, exactly like the original (a union-of-
  *    re-aggregates rewrite gets this wrong: its grand-total branch is a
  *    global aggregate that returns one row on empty input).
  *  - DUPLICATE grouping sets (`GROUPING SETS ((a),(a))` — legal SQL):
  *    both projections land the SAME group key, so the outer aggregate
  *    merges the leaf rows twice — precisely the double-count the original
  *    Expand form produces.
  *  - Natural NULL group values: grouped at the leaf like any value and
  *    re-grouped identically above; the gid column (untouched literals)
  *    keeps them distinguishable from masked-out nulls.
  *
  * Decimal sums widen per aggregation level (`sum(DECIMAL(14,2))` →
  * `(24,2)`, re-summed → `(34,2)`): the merged aggregate is cast back to
  * the original result type, which cannot overflow because its value IS
  * the original sum. Floating-point sums re-associate — the same latitude
  * Spark's own partial aggregation already takes.
  *
  * The rewrite is a COST-BASED win (leaf-grain cardinality must be far
  * below the input row count — true of every calendar/category rollup, not
  * of a rollup keyed by a near-unique column), and logical rules see no
  * cardinalities, so it ships OFF and is enabled per session via
  * [[EnabledKey]] — the cube-query analog of choosing bucketing. The
  * trade, priced per bench run ([[graft.Bench]]'s `reroll` ledger): the
  * rewritten plan pays ONE extra exchange of leaf-grain sketch rows
  * (bounded by grain cardinality — kilobytes) to remove (G−1)×|input|
  * rows from the map-side aggregation path. At sf0.1 (450k fact rows,
  * G=3) that is wall parity; the saved term scales with the corpus, the
  * paid term does not. The
  * `_reroll_` alias prefix on leaf columns is the fixed-point guard: a plan
  * this rule already rewrote never matches again.
  */
object RerollExpandAggregate extends Rule[LogicalPlan] {

  /** Session opt-in (default OFF — see the cost note above). */
  val EnabledKey = "spark.sql.graft.rollupReroll.enabled"

  /** The shared cost gate ([[CollapseGate]]): even opted in, the rewrite
    * declines when the LEAF GRAIN barely collapses the input — a rollup
    * keyed by a near-unique column would pay the extra leaf exchange for
    * nothing — or when the replication it avoids, `(G−1)×|input|` Expand
    * rows, is too small in absolute terms to outrun the extra exchange
    * (default floor 2M saved rows: the sf0.1 ledger measured a G=3 rollup
    * over 150k rows wall-NEGATIVE and a G=16 cube over 600k rows
    * wall-positive; 100 TB inputs clear the floor by six orders of
    * magnitude). Keys: `spark.sql.graft.rollupReroll.{probeRows,
    * minSavedRows,minSavedBytes}`, same semantics as eager aggregation's.
    */
  private[plans] val gate =
    new CollapseGate("rollup re-roll", "spark.sql.graft.rollupReroll",
      defaultMinSavedRows = 2000000L)

  /** Gate conf keys (see [[EagerAggregation]]'s twins for semantics). */
  val ProbeRowsKey: String = gate.ProbeRowsKey
  val MinSavedRowsKey: String = gate.MinSavedRowsKey

  /** Leaf-column marker; doubles as the already-rewritten guard. */
  private val Tag = "_reroll_"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (gate.probing || // a probe's own optimization must pass untouched
        !conf.getConfString(EnabledKey, "false").toBoolean) plan
    else plan.transformUp {
      case agg @ Aggregate(_, _, expand: Expand, _)
          if !expand.output.exists(_.name.startsWith(Tag)) =>
        reroll(agg, expand).getOrElse(agg)
    }

  private def isNullLit(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case _                => false
  }

  private def reroll(agg: Aggregate, expand: Expand): Option[LogicalPlan] = {
    val out = expand.output
    val projections = expand.projections
    val G = projections.size
    if (G < 2) return None
    val pos: Map[Long, Int] =
      out.map(_.exprId.id).zipWithIndex.toMap

    // -- condition 1: classify every grouping attribute ------------------
    val groupAttrs: Seq[Attribute] = agg.groupingExpressions.map {
      case a: Attribute if pos.contains(a.exprId.id) => a
      case _ => return None
    }
    if (groupAttrs.map(_.exprId).distinct.size != groupAttrs.size) return None
    def cell(i: Int, a: Attribute): Expression = projections(i)(pos(a.exprId.id))

    // base expression of a maskable grouping column (None for the literal
    // gid column, whose cells all stay verbatim in the new projections)
    val base: Map[Long, Expression] = groupAttrs.flatMap { a =>
      val cells = (0 until G).map(cell(_, a))
      val computed = cells.filter(c => !c.foldable)
      if (computed.isEmpty) None // all-literal column (gid): passes through
      else {
        // computed cells must be ONE consistent deterministic expression,
        // and the remaining cells must all be null literals (the mask)
        if (!computed.forall(c =>
            c.deterministic && c.semanticEquals(computed.head))) return None
        if (!cells.forall(c => !c.foldable || isNullLit(c))) return None
        Some(a.exprId.id -> computed.head)
      }
    }.toMap

    // -- condition 2 + 3: decomposable aggregates over pass-through inputs
    // (the partial/merge construction below is the whitelist: any function
    // outside Sum / Count / Min / Max / supported Average bails there)
    val aggExpressions = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggExpressions.isEmpty) return None
    for (ae <- aggExpressions) {
      if (ae.isDistinct || ae.filter.isDefined || !ae.deterministic) return None
    }
    // outside aggregate functions, the result expressions may reference
    // grouping columns ONLY (anything else has no well-defined value here)
    val groupSet = AttributeSet(groupAttrs)
    val outsideRefs = agg.aggregateExpressions
      .map(_.transform { case _: AggregateExpression => Literal(0) })
      .flatMap(_.references)
      .filterNot(groupSet.contains)
    if (outsideRefs.nonEmpty) return None

    // an aggregate-input attribute passes through iff its cell is the same
    // non-foldable deterministic expression in EVERY projection
    def passThrough(a: Attribute): Option[Expression] =
      pos.get(a.exprId.id).flatMap { j =>
        val cells = projections.map(_(j))
        if (cells.forall(c => !c.foldable && c.deterministic &&
            c.semanticEquals(cells.head))) Some(cells.head)
        else None
      }
    def substituted(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transformUp {
        case a: Attribute =>
          passThrough(a) match {
            case Some(b) => b
            case None    => ok = false; a
          }
      }
      if (ok) Some(r) else None
    }

    // -- build the leaf (finest-grain) aggregate over expand.child -------
    // keys: the distinct base expressions
    val leafKeyPairs: Seq[(Expression, NamedExpression)] = {
      val acc = scala.collection.mutable.ArrayBuffer[(Expression, NamedExpression)]()
      base.values.foreach { b =>
        if (!acc.exists(_._1.semanticEquals(b))) {
          val named = b match {
            case a: Attribute => a
            case e            => Alias(e, s"${Tag}k${acc.size}")()
          }
          acc += ((b, named))
        }
      }
      acc.toSeq
    }
    // an all-literal grouping (no real key) would turn the leaf into a
    // GLOBAL aggregate — which emits one row on empty input where the
    // original emits none. No realistic rollup hits this; refuse.
    if (leafKeyPairs.isEmpty) return None
    // cost gate (all structural checks on groupings passed; aggregates are
    // validated below — probing first would waste a scan on shapes that
    // bail anyway, but grouping bails are the common miss)
    if (!gate.ok(expand.child, leafKeyPairs.map(_._1),
        savedFactor = (G - 1).toDouble)) return None
    def leafKeyAttrFor(b: Expression): Attribute =
      leafKeyPairs.find(_._1.semanticEquals(b)).get._2.toAttribute

    // partial POOL (one leaf column per distinct partial function — an
    // avg(x) alongside a sum(x) shares the Sum partial, and avg needs
    // Sum(x) AND Count(x)) plus, per distinct aggregate expression, its
    // merge-layer replacement over the pool attributes
    val pool = scala.collection.mutable.ArrayBuffer[
      (org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction, NamedExpression)]()
    def partialFor(
        fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
        mode: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateMode): Attribute =
      pool.find(_._1.semanticEquals(fn)).map(_._2.toAttribute).getOrElse {
        val named = Alias(
          AggregateExpression(fn, mode, isDistinct = false, None),
          s"${Tag}a${pool.size}")()
        pool += ((fn, named))
        named.toAttribute
      }
    def typed(e: Expression, ae: AggregateExpression): Expression =
      // re-summed sums widen (DECIMAL) — restore the original result type
      if (e.dataType == ae.dataType) e else Cast(e, ae.dataType)
    val mergeAcc = scala.collection.mutable.ArrayBuffer[(AggregateExpression, Expression)]()
    aggExpressions.foreach { ae =>
      if (!mergeAcc.exists(_._1.semanticEquals(ae))) {
        val m: Option[Expression] = ae.aggregateFunction match {
          case s: Sum => substituted(s.child).map { c =>
            val col = partialFor(s.copy(child = c), ae.mode)
            typed(AggregateExpression(s.copy(child = col), ae.mode,
              isDistinct = false, None), ae)
          }
          case c0: Count =>
            val subs = c0.children.map(substituted)
            if (!subs.forall(_.isDefined)) None
            else {
              val col = partialFor(Count(subs.map(_.get)), ae.mode)
              // counts merge by summation
              Some(typed(AggregateExpression(Sum(col), ae.mode,
                isDistinct = false, None), ae))
            }
          case mn: Min => substituted(mn.child).map { c =>
            val col = partialFor(mn.copy(child = c), ae.mode)
            typed(AggregateExpression(mn.copy(child = col), ae.mode,
              isDistinct = false, None), ae)
          }
          case mx: Max => substituted(mx.child).map { c =>
            val col = partialFor(mx.copy(child = c), ae.mode)
            typed(AggregateExpression(mx.copy(child = col), ae.mode,
              isDistinct = false, None), ae)
          }
          // avg via the two-partial derivation ([[AvgMerge]]): exact for
          // decimal/integral inputs, the usual re-association latitude for
          // float/double
          case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average
              if AvgMerge.supported(a.child.dataType) =>
            substituted(a.child).map { c =>
              AvgMerge.merge(a, partialFor(Sum(c), ae.mode),
                partialFor(Count(Seq(c)), ae.mode), ae.mode)
            }
          case _ => None
        }
        m match {
          case Some(e) => mergeAcc += ((ae, e))
          case None    => return None
        }
      }
    }
    val leaf = Aggregate(
      leafKeyPairs.map(_._1),
      (leafKeyPairs.map(_._2) ++ pool.map(_._2).toSeq),
      expand.child, None)
    val leafAggAttrs: Seq[Attribute] = pool.map(_._2.toAttribute).toSeq

    // -- the new Expand: G projections over the leaf ---------------------
    // grouping columns keep the ORIGINAL expand-output attributes (so the
    // outer Aggregate's groupings and result references resolve unchanged);
    // the leaf partials ride through on their own attributes
    val newProjections: Seq[Seq[Expression]] = (0 until G).map { i =>
      groupAttrs.map { a =>
        val c = cell(i, a)
        if (c.foldable) c else leafKeyAttrFor(base(a.exprId.id))
      } ++ leafAggAttrs
    }
    val newOutput: Seq[Attribute] = groupAttrs ++ leafAggAttrs
    val newExpand = Expand(newProjections, newOutput, leaf)

    // -- merge layer: swap each aggregate for its prebuilt combiner ------
    val newResultExprs = agg.aggregateExpressions.map(_.transformUp {
      case ae: AggregateExpression =>
        mergeAcc.find(_._1.semanticEquals(ae)).get._2
    }.asInstanceOf[NamedExpression])

    val rewritten = Aggregate(
      agg.groupingExpressions, newResultExprs, newExpand, agg.hint)
    // exprId/type preservation is the contract with every parent operator —
    // if anything shifted, refuse rather than corrupt the plan
    if (rewritten.output.map(a => (a.exprId, a.dataType)) !=
        agg.output.map(a => (a.exprId, a.dataType))) return None
    Some(rewritten)
  }

  /** Idempotently add the rule to a session's user-provided optimizer batch
    * (same no-configuration path as [[EliminateRedundantLeftJoin.install]];
    * the rule still only fires once [[EnabledKey]] is set to true).
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, CaseWhen, EqualTo, Expression, If, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Merge a UNION ALL of same-source aggregates into ONE grouping-sets pass.
  *
  * The hand-written multi-grain report — the stacked-per-grain-SELECT
  * idiom [[graft.analytics.GroupingSets.rollupHierarchical]] demonstrates,
  * and the common way analysts write rollups when their engine lacks (or
  * they don't reach for) GROUPING SETS — scans the fact table once PER
  * GRAIN:
  *
  * {{{
  *   SELECT yr, mo, sum(v) FROM t GROUP BY yr, mo
  *   UNION ALL
  *   SELECT yr, NULL, sum(v) FROM t GROUP BY yr
  * }}}
  *
  * Each branch is its own scan + partial aggregate + shuffle. This rule
  * rewrites the Union into the plan Spark itself builds for `GROUP BY
  * GROUPING SETS ((yr, mo), (yr))`:
  *
  * {{{
  *   Union(Aggregate(G_0, R_0, C), …, Aggregate(G_k, R_k, C'))
  *   ==>   -- C' ≡ C (sameResult)
  *   Project(per-branch outputs switched on gid,
  *     Aggregate(pool(G_*) :+ gid, pooled aggregates,
  *       Expand(one projection per branch, C)))
  * }}}
  *
  * The corpus is read ONCE; the Expand replicates each row once per merged
  * branch — the same total row count the separate branches fed their
  * partial aggregates, minus (K−1) scans and with ONE shuffle whose keys
  * carry a gid disambiguator instead of K shuffles. At 100 TB the saved
  * term is (K−1) full fact-table reads. And because the rewritten shape IS
  * the stock grouping-sets plan, it composes with
  * [[RerollExpandAggregate]]: enable both and the merged Expand feeds from
  * a leaf-grain pre-aggregate, so the corpus is scanned once AND the
  * replication happens on leaf-grain sketch rows (UnionMergeSpec pins the
  * composition).
  *
  * Per-branch output recovery: the merged Aggregate emits every pooled
  * grouping column (null-masked per branch, exactly grouping-sets
  * semantics) plus the pooled aggregate values; the top Project rebuilds
  * each original output column by switching on gid — branch k's rows take
  * branch k's expression, so reordered columns, `NULL AS mo` padding, and
  * post-computed ratios all survive verbatim.
  *
  * Soundness conditions (any miss leaves the plan untouched):
  *
  *  1. Every merged branch is an [[Aggregate]]. GLOBAL branches (the
  *     grand-total `SELECT sum(v) FROM t`) merge as the EMPTY grouping set
  *     — their Expand projection masks every pooled grouping column — but
  *     carry an empty-input compensation: a global aggregate emits one row
  *     (count = 0, sum = null) on EMPTY input, while the merged grouped
  *     aggregate emits zero, so each merged global branch appends a GUARD
  *     child that emits exactly that row iff the merged aggregate produced
  *     no rows (`Filter(isnull(max(struct(outputs))), Aggregate(global,
  *     merged))` over the SAME merged subtree — the probe references
  *     EVERY merged output precisely so the optimizer cannot specialize
  *     the guard's copy, its exchange stays canonically equal to the main
  *     branch's, and ReuseExchange makes the physical plan scan the
  *     source once; spec-asserted via ReusedExchangeExec, see the guard
  *     code comment for the count-probe trap). Global branches only
  *     merge when every aggregate is a Sum / Count / Min / Max / Average
  *     (their empty-input values are static literals); others stay
  *     unmerged children, still correct.
  *  2. Branch children FLATTEN (deterministic Project / Filter /
  *     SubqueryAlias chains — the flattening [[MvRewrite]]'s structured
  *     matcher uses) onto plan-equivalent (`sameResult`) bases with
  *     semantically equal predicate sets. Flattening, not whole-child
  *     equivalence, because column pruning gives every grain its own
  *     Project shape — the exact branches this rule exists to merge never
  *     compare equal as whole subtrees. The base can be anything
  *     (scan, join subtree); predicates apply once below the Expand.
  *  3. Grouping expressions and branch outputs are deterministic; aggregate
  *     functions are deterministic and NON-DISTINCT (a merged multi-
  *     distinct Aggregate could not be planned when this rule runs after
  *     `RewriteDistinctAggregates` — the [[graft.GraftExtensions.install]]
  *     path — so distinct branches conservatively never merge; FILTER
  *     clauses are fine).
  *  4. Output positions agree on dataType across merged branches (Union
  *     guarantees this post-analysis) and the final Union/Project output
  *     preserves every exprId, dataType, and non-nullability — the
  *     masked grouping columns are statically nullable, so originally
  *     non-nullable outputs get a [[KnownNotNull]] wrap (their values are
  *     produced only on rows whose gid selects the unmasked expression).
  *
  * Duplicate grains (`(yr) UNION ALL (yr)` — legal, doubles every row)
  * merge soundly: each branch keeps its own gid projection, so the merged
  * Aggregate emits both copies. Partial merges are iterative: the rule
  * merges one equivalence class per fixed-point pass, so a Union mixing
  * two sources converges to one merged block per source.
  *
  * Cost: unlike [[RerollExpandAggregate]] and [[EagerAggregation]] this
  * rewrite carries no cardinality gate — the structural invariant is
  * one-sided (K−1 fewer scans and shuffles, identical aggregated row
  * count), which is what transfers to 100 TB. Wall clock at SMALL scale
  * wobbled both ways historically (the Expand replicates each input row
  * K× and the merged shuffle rows are wider), but after the r12
  * guard-subtree fix pinned exchange reuse the ledger reads a win on
  * every axis even at sf0.1: wall 0.555s vs 0.574s, scan rows 150k vs
  * 450k, and the scan advantage grows linearly with K and corpus size.
  *
  * So unlike the cost-gated rewrites this one needs no cardinality probe:
  * its saved term — (K−1) scans — is structural, and the regression regime
  * (scans nearly free, Expand widening dominant) is bounded by the branch
  * count while the win regime is unbounded in data size. It still ships
  * OFF like every graft rule: the rule is present in every session, and a
  * session turns it on with [[EnabledKey]] (UnionMergeSpec pins the
  * key-unset stock plan and the key-on merge).
  */
object MergeUnionAggregates extends Rule[LogicalPlan] {

  /** Session opt-in (default OFF, like every graft rule but the as-of
    * pushdown).
    */
  val EnabledKey = "spark.sql.graft.unionMergeAgg.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "false").toBoolean) plan
    else plan.transformUp {
      case u @ Union(children, false, false) if children.size >= 2 =>
        merge(u).getOrElse(u)
    }

  /** The value an aggregate evaluates to over EMPTY input, as a literal —
    * defined exactly for the functions whose global branches may merge
    * (the guard child emits these when the source is empty).
    */
  private def emptyValue(ae: AggregateExpression): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Max, Min, Sum}
    ae.aggregateFunction match {
      case _: Count                              => Some(Literal(0L))
      case _: Sum | _: Min | _: Max | _: Average =>
        Some(Literal(null, ae.dataType))
      case _                                     => None
    }
  }

  /** A branch qualifies when it is an aggregate whose groupings, outputs,
    * and aggregate functions the merged form can reproduce; a GLOBAL
    * branch additionally needs every aggregate's empty-input value to be a
    * known literal (the guard's contract).
    */
  private def mergeable(plan: LogicalPlan): Option[Aggregate] = plan match {
    case a: Aggregate
        if a.groupingExpressions.forall(_.deterministic) &&
          a.aggregateExpressions.forall(_.deterministic) &&
          !a.aggregateExpressions.exists(_.exists {
            case ae: AggregateExpression => ae.isDistinct
            case _                       => false
          }) &&
          (a.groupingExpressions.nonEmpty ||
            !a.aggregateExpressions.exists(_.exists {
              case ae: AggregateExpression => emptyValue(ae).isEmpty
              case _                       => false
            })) => Some(a)
    case _ => None
  }

  /** A branch's child, flattened through deterministic Project /
    * SubqueryAlias / Filter chains: a rewriter from chain-output space to
    * BASE space, the filter predicates (already in base space), and the
    * base itself. Column pruning gives each grain its own Project shape,
    * so raw whole-child `sameResult` would refuse exactly the shapes this
    * rule exists for — equivalence is decided on the flattened (base,
    * predicates) pair instead, the same flattening [[MvRewrite]]'s
    * structured matcher uses.
    */
  private final case class Flat(
      f: Expression => Expression, preds: Seq[Expression], base: LogicalPlan)

  private def flatten(plan: LogicalPlan): Option[Flat] =
    MvRewrite.flattenQ(plan).map { case (f, preds, base) =>
      Flat(f, preds, base)
    }

  /** Predicate multisets match when they biject under semanticEquals. */
  private def samePreds(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.size == b.size &&
      a.forall(p => b.exists(_.semanticEquals(p))) &&
      b.forall(p => a.exists(_.semanticEquals(p)))

  private def merge(u: Union): Option[LogicalPlan] = {
    val branches = u.children.map(mergeable)
    val flats: Seq[Option[Flat]] =
      branches.map(_.flatMap(a => flatten(a.child)))
    // try each equivalence class in child order until one has ≥2 members
    // (a size-1 class — e.g. a lone aggregate over a different source in
    // front — must not mask a mergeable pair behind it); subsequent
    // classes merge on later fixed-point iterations
    val qualifying = u.children.indices.filter(flats(_).isDefined)
    def inClass(seed: Int)(i: Int): Boolean = {
      val s = flats(seed).get
      flats(i).exists { fl =>
        fl.base.output.size == s.base.output.size &&
        fl.base.output.map(_.dataType) == s.base.output.map(_.dataType) &&
        fl.base.sameResult(s.base) && {
          // predicates must agree once mapped onto the seed's base attrs
          val m: Map[Long, Attribute] =
            fl.base.output.map(_.exprId.id).zip(s.base.output).toMap
          samePreds(fl.preds.map(_.transformUp {
            case at: Attribute => m.getOrElse(at.exprId.id, at)
          }), s.preds)
        }
      }
    }
    val found = qualifying.iterator
      .map(seed => qualifying.filter(inClass(seed)))
      .find(_.size >= 2)
    val classIdx = found.getOrElse(return None)
    val K = classIdx.size
    val members: Seq[Aggregate] = classIdx.map(branches(_).get)
    val seedFlat = flats(classIdx.head).get
    val base = seedFlat.base

    // branch space → branch base space (the flattener) → seed base space
    // (positional attr map; sameResult guarantees the correspondence)
    val toBase: Seq[Expression => Expression] = classIdx.map { i =>
      val fl = flats(i).get
      val m: Map[Long, Attribute] =
        fl.base.output.map(_.exprId.id).zip(base.output).toMap
      (e: Expression) => fl.f(e).transformUp {
        case at: Attribute => m.getOrElse(at.exprId.id, at)
      }
    }

    // ---- grouping pool (distinct semantic exprs across branches) --------
    val pool = scala.collection.mutable.ArrayBuffer[Expression]()
    // per member: its grouping exprs resolved to pool indices
    val gsets: Seq[Set[Int]] = members.zipWithIndex.map { case (a, k) =>
      a.groupingExpressions.map { g =>
        val gb = toBase(k)(g)
        val j = pool.indexWhere(_.semanticEquals(gb))
        if (j >= 0) j else { pool += gb; pool.size - 1 }
      }.toSet
    }

    // ---- pooled aggregates (inputs in base space) -------------------------
    val aggPool = scala.collection.mutable.ArrayBuffer[
      (AggregateExpression, NamedExpression)]()
    def pooledAttr(ae: AggregateExpression): Attribute =
      aggPool.find(_._1.semanticEquals(ae)).map(_._2.toAttribute).getOrElse {
        val named = Alias(ae, s"_uam_a${aggPool.size}")()
        aggPool += ((ae, named))
        named.toAttribute
      }
    // pre-pool every branch aggregate (also fixes a deterministic order);
    // inputs reference base.output, which passes through the Expand
    members.zipWithIndex.foreach { case (a, k) =>
      a.aggregateExpressions.foreach(_.foreach {
        case ae: AggregateExpression =>
          pooledAttr(toBase(k)(ae).asInstanceOf[AggregateExpression])
        case _ => ()
      })
    }

    // ---- the Expand: one projection per merged branch --------------------
    // Self-pruned (the MvRewrite discipline — the rule also runs post-hoc,
    // after ColumnPruning is done): only aggregate INPUTS pass through the
    // Expand; grouping expressions are computed inside its projections; a
    // Project below the filter narrows the scan to the columns either needs.
    val groupAttrs: Seq[Attribute] = pool.zipWithIndex.map { case (e, i) =>
      AttributeReference(s"_uam_g$i", e.dataType, nullable = true)()
    }.toSeq
    val gid = AttributeReference("_uam_gid", IntegerType, nullable = false)()
    val aggNeeded = AttributeSet(aggPool.flatMap(_._1.references).toSeq)
    val poolNeeded = AttributeSet(pool.flatMap(_.references).toSeq)
    val passAttrs: Seq[Attribute] = base.output.filter(aggNeeded.contains)
    // every branch carries the same predicate set (class condition), so
    // the shared filter applies ONCE below the Expand
    val filtered: LogicalPlan =
      if (seedFlat.preds.isEmpty) base
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        seedFlat.preds.reduce(
          org.apache.spark.sql.catalyst.expressions.And(_, _)), base)
    val keep = base.output.filter(a =>
      aggNeeded.contains(a) || poolNeeded.contains(a))
    val expandChild: LogicalPlan =
      if (keep.size == base.output.size) filtered
      else Project(keep, filtered)
    val projections: Seq[Seq[Expression]] = (0 until K).map { k =>
      passAttrs ++ pool.zipWithIndex.map { case (e, i) =>
        if (gsets(k)(i)) e else Literal(null, e.dataType)
      } :+ Literal(k)
    }
    val expand = Expand(projections, passAttrs ++ groupAttrs :+ gid, expandChild)

    val merged = Aggregate(
      (groupAttrs :+ gid).toSeq,
      (groupAttrs :+ gid) ++ aggPool.map(_._2).toSeq,
      expand, None)

    // ---- per-branch output recovery, switched on gid ---------------------
    val arity = u.output.size
    if (members.exists(_.aggregateExpressions.size != arity)) return None
    val scope = AttributeSet(groupAttrs) ++ AttributeSet(Seq(gid)) ++
      AttributeSet(aggPool.map(_._2.toAttribute).toSeq)
    val combined: Seq[Expression] = (0 until arity).map { j =>
      val perBranch: Seq[Expression] = members.zipWithIndex.map { case (a, k) =>
        val raw = a.aggregateExpressions(j) match {
          case al: Alias => al.child
          case ne        => ne
        }
        val inBase = toBase(k)(raw)
        val t = inBase.transformDown {
          case ae: AggregateExpression
              if aggPool.exists(_._1.semanticEquals(ae)) =>
            pooledAttr(ae)
          case e if pool.zipWithIndex.exists { case (p, i) =>
              gsets(k)(i) && p.semanticEquals(e) } =>
            val i = pool.indexWhere(_.semanticEquals(e))
            groupAttrs(i)
        }
        // everything must now live on the merged aggregate's output
        if (!t.references.forall(scope.contains)) return None
        t
      }
      // Union already guarantees positional type agreement; verify anyway
      if (perBranch.exists(_.dataType != u.output(j).dataType)) return None
      val switched =
        if (K == 2) If(EqualTo(gid, Literal(0)), perBranch(0), perBranch(1))
        else CaseWhen(
          (0 until K - 1).map(k => (EqualTo(gid, Literal(k)), perBranch(k))),
          Some(perBranch(K - 1)))
      // masked grouping columns are statically nullable, but branch k's
      // rows only ever read branch k's (unmasked) expression — restore the
      // non-nullability the original branches agreed on
      val mergedNullable = classIdx.map(i => u.children(i).output(j).nullable)
        .reduce(_ || _)
      if (!mergedNullable && switched.nullable) KnownNotNull(switched)
      else switched
    }
    // the block takes the FIRST merged branch's position; when that is
    // position 0 it must carry the Union's own output exprIds (Union
    // exposes its first child's attributes)
    val names = u.children(classIdx.head).output
    val block = Project(combined.zip(names).map { case (e, o) =>
      if (classIdx.head == 0) Alias(e, o.name)(exprId = o.exprId)
      else Alias(e, o.name)()
    }, merged)

    // ---- empty-input guards for merged GLOBAL branches --------------------
    // A global branch emits one row over empty input; the merged grouped
    // aggregate emits zero. Guard: re-aggregate the merged subtree to ONE
    // probe value and emit the branch's static empty-row iff the merged
    // aggregate produced no rows. The probe is `max(struct(ALL merged
    // outputs)) IS NULL`, not `count(1) == 0`, for a physical reason the
    // UnionMergeSpec ReusedExchangeExec test enforces: a count references
    // no columns, so ColumnPruning + RemoveRedundantAggregates specialize
    // the guard's copy of the merged subtree (keys-only aggregate, thinner
    // Expand) and its exchange no longer canonically equals the main
    // branch's — the "reused" exchange silently became a SECOND FULL SCAN
    // (r12 finding; the r11 docstring claimed reuse without a spec). By
    // referencing every merged output the guard's subtree survives
    // optimization bit-identical, ReuseExchange unifies the two, and the
    // physical plan scans the source once. Falls back to the count probe
    // (correct, two scans) only when some merged output type is not
    // orderable — max(struct) needs ordering, count does not.
    val globalIdx = classIdx.filter(i => branches(i).get.groupingExpressions.isEmpty)
    val guards: Seq[LogicalPlan] = if (globalIdx.isEmpty) Nil else {
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Count, Max}
      import org.apache.spark.sql.catalyst.expressions.{CreateStruct, IsNull}
      val orderable = merged.output.forall(a =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(a.dataType))
      val (cnt, probeCond) = if (orderable) {
        val m = Alias(AggregateExpression(
          Max(CreateStruct(merged.output)), Complete,
          isDistinct = false, None), "_uam_probe")()
        (m, IsNull(m.toAttribute): Expression)
      } else {
        val c = Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
          isDistinct = false, None), "_uam_probe")()
        (c, EqualTo(c.toAttribute, Literal(0L)): Expression)
      }
      val probe = Aggregate(Nil, Seq(cnt), merged)
      globalIdx.map { i =>
        val outs: Seq[NamedExpression] =
          branches(i).get.aggregateExpressions.zip(u.children(i).output).map {
            case (ne, o) =>
              var ok = true
              val t = ne.transformUp {
                case ae: AggregateExpression => emptyValue(ae) match {
                  case Some(v) => v
                  case None    => ok = false; ae // unreachable: mergeable gated
                }
              }
              val body = t match { case al: Alias => al.child; case x => x }
              if (!ok || body.references.nonEmpty) return None
              if (body.dataType != o.dataType) return None
              Alias(body, o.name)()
          }
        Project(outs,
          org.apache.spark.sql.catalyst.plans.logical.Filter(
            probeCond, probe)): LogicalPlan
      }
    }

    val keptIdx = u.children.indices.filterNot(classIdx.contains)
    val newChildren = (Seq(classIdx.head -> (block: LogicalPlan)) ++
      keptIdx.map(i => i -> u.children(i))).sortBy(_._1).map(_._2) ++ guards
    val candidate: LogicalPlan =
      if (newChildren.size == 1) newChildren.head
      else Union(newChildren, byName = false, allowMissingCol = false)
    // output-preservation contract (the same one every graft rule keeps):
    // exprIds and dataTypes unchanged, no non-nullable output goes nullable
    if (candidate.output.map(a => (a.exprId, a.dataType)) !=
        u.output.map(a => (a.exprId, a.dataType))) return None
    if (!candidate.output.zip(u.output).forall { case (n, o) =>
        o.nullable || !n.nullable }) return None
    Some(candidate)
  }
}

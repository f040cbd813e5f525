package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Filter pushdown THROUGH the custom as-of node — the rule that makes
  * [[AsOfJoinPlan]] optimizer-transparent.
  *
  * Catalyst's own `PushPredicateThroughNonJoin`/`PushPredicateThroughJoin`
  * only know built-in nodes, so a predicate above a custom operator parks
  * there forever: `asofLeft(ticks, quotes, …).filter(user < n)` would scan
  * ALL ticks and ALL quotes, as-of join them, and discard most of the
  * output — at 100 TB the difference between reading one customer's
  * partition and reading the table. Custom operators owe the optimizer the
  * pushdown rules it cannot infer; this is the as-of node's.
  *
  * Two sound moves, both proven by the operator's shape (each left row →
  * exactly one output row, left columns unchanged; matches pair EQUAL
  * keys only):
  *
  *  1. a deterministic predicate referencing only LEFT columns filters the
  *     left child directly (it decides each output row exactly as it
  *     decides its left row, and dropping left rows never changes another
  *     row's match);
  *  2. a predicate over the join KEY alone ALSO replicates to the right
  *     child with the key attribute substituted (a right row whose key is
  *     excluded can never match a surviving left row) — the as-of analogue
  *     of Catalyst's join-key constraint propagation.
  *
  * Predicates referencing right-side (match-dependent) columns stay above
  * the node — they are semantically post-join. Time-only left predicates
  * push by rule 1 but must NOT replicate to the right (an old quote can
  * still be the answer for a late tick). The rule is idempotent: after the
  * rewrite the remaining conjuncts are exactly the non-pushable ones.
  */
object PushFilterThroughAsOf extends Rule[LogicalPlan] with PredicateHelper {

  /** Session kill-switch for A/B plan measurement. The one graft rule ON
    * by default: it matches only graft's own as-of node.
    */
  val EnabledKey = "spark.sql.graft.asofFilterPushdown.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
    else plan.transformDown {
      case f @ Filter(cond, asof: AsOfJoinPlan) =>
        val predicates = splitConjunctivePredicates(cond)
        val leftOut = asof.left.outputSet
        val (pushable, kept) = predicates.partition(p =>
          p.deterministic && p.references.subsetOf(leftOut))
        if (pushable.isEmpty) f
        else {
          // KEY-only predicates replicate to the right side, each left key
          // attribute substituted with its positional right twin — sound
          // for any subset of the compound key (an excluded key tuple can
          // never match a surviving left row)
          val keyPairs = asof.leftKeys.zip(asof.rightKeys).collect {
            case (lk: Attribute, rk: Attribute) => lk -> rk
          }
          val keyPrune =
            if (keyPairs.length != asof.leftKeys.length) Nil // derived keys
            else {
              val lkSet = AttributeSet(keyPairs.map(_._1))
              val subst = keyPairs.toMap
              pushable.filter(p =>
                  p.references.nonEmpty && p.references.subsetOf(lkSet))
                .map(_.transform {
                  case a: Attribute if subst.keySet.exists(_.semanticEquals(a)) =>
                    subst.find(_._1.semanticEquals(a)).get._2
                })
            }
          val newLeft = pushFully(Filter(pushable.reduce(And), asof.left))
          val newRight = keyPrune.reduceOption(And)
            .map(p => pushFully(Filter(p, asof.right))).getOrElse(asof.right)
          val rewritten = asof.copy(left = newLeft, right = newRight)
          kept.reduceOption(And).map(Filter(_, rewritten)).getOrElse(rewritten)
        }
    }

  /** Drive the relocated filter all the way to the relations with
    * Catalyst's own `PushDownPredicates`. Needed because the install
    * path ([[graft.GraftExtensions.install]], `extraOptimizations`) runs
    * AFTER the main operator-optimization batch — a filter this rule
    * merely moved one level down would park above the child's
    * Project/Aggregate with nobody left to continue the descent. Bounded
    * fixed point; each application is Catalyst's own sound rewrite.
    */
  private def pushFully(plan: LogicalPlan): LogicalPlan = {
    var cur = plan
    var i = 0
    while (i < 20) {
      val next = org.apache.spark.sql.catalyst.optimizer.PushDownPredicates(cur)
      if (next.fastEquals(cur)) return cur
      cur = next
      i += 1
    }
    cur
  }
}

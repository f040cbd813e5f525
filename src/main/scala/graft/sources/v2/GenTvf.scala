package graft.sources.v2

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Concat, Expression, ExpressionInfo, Literal, Multiply, Remainder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Range}
import org.apache.spark.sql.types.StringType

/** `graft_gen` as a SQL TABLE-VALUED FUNCTION — the `range()`-style surface
  * SQL users expect (`SELECT sum(v) FROM graft_gen(1000000)`), registered
  * through the analyzer's table-function registry by
  * [[graft.GraftExtensions]].
  *
  * Unlike the connector route, the TVF expands to a pure Catalyst plan —
  * `Project(k/v/seg expressions, Range(0, n))` — so the generator's row
  * function runs inside whole-stage codegen with Range's native splits,
  * and every optimizer rule (pushdown, pruning, limit) applies to ordinary
  * operators with no connector code involved. Same constants as
  * [[GenSource]]; the same DuckDB `range(n)` oracle applies verbatim.
  */
object GenTvf {
  import GenSource.{KMod, LehmerA, LehmerM, SegMod}

  val Info: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("graft_gen"),
      new ExpressionInfo(GenTvf.getClass.getName, "graft_gen"),
      plan _)

  def plan(args: Seq[Expression]): LogicalPlan = {
    val n = args match {
      case Seq(e) if e.foldable =>
        e.eval() match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_gen(n) needs an integral literal, got $other")
        }
      case _ => throw new IllegalArgumentException(
        "usage: graft_gen(n BIGINT literal)")
    }
    val range = Range(0L, n, 1L, None)
    val id = range.output.head
    Project(Seq(
      Alias(id, "id")(),
      Alias(Remainder(id, Literal(KMod)), "k")(),
      Alias(Remainder(Multiply(id, Literal(LehmerA)), Literal(LehmerM)), "v")(),
      Alias(Concat(Seq(Literal("s"),
        Cast(Remainder(id, Literal(SegMod)), StringType))), "seg")()),
      range)
  }
}

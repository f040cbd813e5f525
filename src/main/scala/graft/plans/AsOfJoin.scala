package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnaryMinus, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.PlanDF
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.DataFrame

/** Native AS-OF join — the whole Catalyst extension stack for one operator
  * Spark lacks: a custom [[LogicalPlan]] node, a planner [[SparkStrategy]],
  * and a physical [[BinaryExecNode]] that merges two co-partitioned sorted
  * streams in one pass.
  *
  * Semantics (left as-of): every left row keeps exactly one output row,
  * enriched with the LATEST right row of the same key whose time is
  * at-or-before the left time (`rightTime <= leftTime`), nulls when no such
  * row exists — kdb's `aj`, DuckDB's `ASOF LEFT JOIN`, Flink's temporal
  * join. An optional tolerance drops matches older than `toleranceUs`
  * microseconds; because the as-of pick is the NEWEST qualifying right row,
  * a post-check on that single candidate IS the tolerance semantics (any
  * older candidate is farther away).
  *
  * Why a physical operator instead of the union-window composition
  * (`WindowExtras.asofClickAttribution`) or a range join:
  *
  *  - the range-join form (`l.key = r.key AND r.t <= l.t`, then max) fans
  *    out quadratically in rows-per-key before the aggregate prunes it;
  *  - the union-window form is linear but pays a union, a window sort over
  *    BOTH sides interleaved, and a filter back to the left rows;
  *  - this exec declares `ClusteredDistribution` on the key and a
  *    `(key, time)` sort per child, so Catalyst plans exactly one exchange
  *    + sort per side (reused if the data is already bucketed/sorted), and
  *    the merge itself is a single forward scan holding ONE buffered right
  *    row — no per-key state, no fan-out, spill-free at any key width.
  *    At 100 TB that is the floor: you cannot enrich ticks with quotes for
  *    fewer passes.
  *
  * WHAT THE LEDGER ACTUALLY SHOWS (r12, two idle runs — the claim this
  * exec publishes, no more): against the union-window composition the
  * exec's measured edge is the SHUFFLE-BYTES axis — each side exchanges
  * its own schema instead of the union's padded superset (1.42 MB vs
  * 1.69 MB at sf0.1, a gap that scales with the padded width) — plus a
  * modest skew-wall edge (0.88s vs 1.00s on the ×50 ~95%-one-key feed).
  * UNIFORM wall is parity by measurement (0.571s vs 0.563s): both plans'
  * cost is the same per-key sort, and both stream O(1) state through it
  * (the full analysis sits at [[AsOfJoinQueries.AmpFactor]]). The exec's
  * non-negotiable wins are expressiveness, not wall: tolerance, forward,
  * and compound-key variants no single window composition expresses.
  *
  * Keys and times must be LongType (ids, epoch micros) — the merge compares
  * raw longs instead of interpreting generic orderings, which keeps the
  * inner loop allocation-free; callers cast (`unix_micros`) upstream.
  * Null key or time on the left yields an unmatched output row; on the
  * right the row is skipped (SQL comparison semantics: NULL can never
  * satisfy `<=`).
  *
  * Reference motivation: the attribution queries' "latest prior event"
  * pattern (`sql/analytics_queries.sql` latest-report-per-patient shapes);
  * planned by [[AsOfJoinStrategy]], which [[graft.GraftExtensions]] adds to
  * every session.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    leftTime: Expression,
    rightKeys: Seq[Expression],
    rightTime: Expression,
    toleranceUs: Option[Long]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // exactly one output row per left row — the planner can use the bound
  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: [[AsOfJoinPlan]] → [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.leftTime, p.rightKeys, p.rightTime,
        p.toleranceUs, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

/** Single-pass merge over two (key, time)-sorted co-partitioned children.
  * State per partition: the right cursor plus at most ONE copied candidate
  * row — memory O(1) regardless of key skew, which is what lets the hot-key
  * partitions of a skewed feed stream through instead of buffering.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    leftTime: Expression,
    rightKeys: Seq[Expression],
    rightTime: Expression,
    toleranceUs: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs one or more key pairs")
  require((leftKeys ++ rightKeys ++ Seq(leftTime, rightTime))
    .forall(_.dataType == LongType),
    "as-of join keys and times must be LongType (cast ids / unix_micros upstream)")
  require(toleranceUs.forall(_ >= 0L),
    s"toleranceUs must be non-negative, got $toleranceUs")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  // one exchange per side, co-partitioned on the key — the same contract
  // SortMergeJoin declares, so bucketing / AQE reuse applies unchanged.
  // AQE invariant (AsOfJoinSpec pins it): coalesced shuffle reads merge
  // WHOLE reducer partitions on both sides consistently, preserving "all
  // rows of a key in one zipped partition pair" — safe; a SKEW-SPLIT read
  // (PartialReducerPartitionSpec) would divide a hot key across readers
  // and break per-partition completeness of the merge, but
  // OptimizeSkewedJoin only rewrites SortMergeJoin/ShuffledHashJoin, so
  // it can never touch these exchanges. Were this exec ever taught
  // skew-splitting, the right side would need per-split duplication (the
  // SMJ approach) — not just a free flag.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val (lOut, rOut) = (left.output, right.output)
    val nk = leftKeys.length
    val lKT = leftKeys :+ leftTime
    val rKT = rightKeys :+ rightTime
    val outAttrs = output
    val tol = toleranceUs.getOrElse(-1L)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lProj = UnsafeProjection.create(lKT, lOut)
      val rProj = UnsafeProjection.create(rKT, rOut)
      // bind the right side NULLABLE: the unmatched-row null fields must
      // survive the projection (a non-nullable binding skips the null
      // check and reads zeros out of the all-null row)
      val result = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      // lexicographic compound-key compare over reused long buffers
      def cmp(a: Array[Long], b: Array[Long]): Int = {
        var i = 0
        while (i < nk) {
          if (a(i) != b(i)) return java.lang.Long.compare(a(i), b(i))
          i += 1
        }
        0
      }
      def anyNull(kt: InternalRow): Boolean = {
        var i = 0
        while (i <= nk) { if (kt.isNullAt(i)) return true; i += 1 }
        false
      }
      // right cursor: the next not-yet-consumed right row, nulls skipped
      var rHas = false
      var rRow: InternalRow = null
      val rKeys = new Array[Long](nk)
      var rTime = 0L
      def advance(): Unit = {
        rHas = false
        while (!rHas && rIter.hasNext) {
          val row = rIter.next()
          val kt = rProj(row)
          if (!anyNull(kt)) {
            rRow = row
            var i = 0
            while (i < nk) { rKeys(i) = kt.getLong(i); i += 1 }
            rTime = kt.getLong(nk)
            rHas = true
          }
        }
      }
      advance()
      // the single buffered candidate: last right row seen with
      // keys == current left keys and time <= current left time
      var candValid = false
      val candKeys = new Array[Long](nk)
      var candTime = 0L
      var cand: InternalRow = null
      val lKeys = new Array[Long](nk)
      lIter.map { lRow =>
        val kt = lProj(lRow)
        val matched =
          if (anyNull(kt)) false
          else {
            var i = 0
            while (i < nk) { lKeys(i) = kt.getLong(i); i += 1 }
            val lt = kt.getLong(nk)
            // keys ascend on both sides: a candidate from an earlier key
            // can never match again
            if (candValid && cmp(candKeys, lKeys) != 0) candValid = false
            var c = if (rHas) cmp(rKeys, lKeys) else 0
            while (rHas && (c < 0 || (c == 0 && rTime <= lt))) {
              if (c == 0) {
                // shuffle readers reuse row buffers — copy on candidacy
                cand = rRow.copy()
                System.arraycopy(rKeys, 0, candKeys, 0, nk)
                candTime = rTime
                candValid = true
              }
              advance()
              if (rHas) c = cmp(rKeys, lKeys)
            }
            candValid && cmp(candKeys, lKeys) == 0 &&
              (tol < 0L || lt - candTime <= tol)
          }
        numOut += 1
        if (matched) { numMatched += 1; result(joined(lRow, cand)) }
        else result(joined(lRow, nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** Public API: left as-of join `left` to `right` on long key/time columns.
    * Right column names must not collide with left's (rename upstream) so
    * the flat output schema stays unambiguous.
    */
  def asofLeft(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      toleranceUs: Option[Long] = None): DataFrame =
    build(left, right, Seq(leftKey), leftTime, Seq(rightKey), rightTime,
      toleranceUs, forward = false)

  /** Compound-key form: latest at-or-before match within each
    * (k1, …, kn) group — (symbol, venue) in tick enrichment,
    * (user, same-day) in windowed attribution. Keys compare
    * lexicographically in the merge.
    */
  def asofLeftKeys(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], leftTime: String,
      rightKeys: Seq[String], rightTime: String,
      toleranceUs: Option[Long] = None): DataFrame =
    build(left, right, leftKeys, leftTime, rightKeys, rightTime,
      toleranceUs, forward = false)

  /** Forward as-of: the EARLIEST right row at-or-after the left time
    * (time-to-next-event / conversion lag). Implemented as the backward
    * merge over NEGATED time expressions — earliest `rt >= lt` is exactly
    * latest `-rt <= -lt`, equal-time inclusivity preserved, and the
    * tolerance check `(-lt) - (-rt) <= tol` is the forward wait `rt - lt`.
    * Same exec, zero new runtime code — the operator generalizes at the
    * expression layer. (Epoch micros sit ~2^50, so negation cannot
    * overflow a long.)
    */
  def asofForwardLeft(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      toleranceUs: Option[Long] = None): DataFrame =
    build(left, right, Seq(leftKey), leftTime, Seq(rightKey), rightTime,
      toleranceUs, forward = true)

  private def build(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], leftTime: String,
      rightKeys: Seq[String], rightTime: String,
      toleranceUs: Option[Long], forward: Boolean): DataFrame = {
    require(toleranceUs.forall(_ >= 0L),
      s"toleranceUs must be non-negative, got $toleranceUs (the exec uses " +
        "a negative sentinel internally for 'unbounded' — a caller-supplied " +
        "negative window must reject loudly, not silently match everything)")
    val spark = left.sparkSession
    val collisions = left.columns.toSet.intersect(right.columns.toSet)
    require(collisions.isEmpty,
      s"as-of sides must not share column names, got: ${collisions.mkString(", ")}")
    val lPlan = PlanDF.analyzed(left)
    val rPlan = PlanDF.analyzed(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found among ${plan.output.map(_.name).mkString(", ")}"))
    def time(plan: LogicalPlan, name: String): Expression = {
      val a = attr(plan, name)
      if (forward) UnaryMinus(a, failOnError = false) else a
    }
    PlanDF.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), time(lPlan, leftTime),
      rightKeys.map(attr(rPlan, _)), time(rPlan, rightTime), toleranceUs))
  }
}

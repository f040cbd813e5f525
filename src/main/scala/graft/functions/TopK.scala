package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, expr, posexplode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The engine's one top-k kernel: the k best DISTINCT ids by
  * (score DESC, id ASC) as a native Catalyst [[TypedImperativeAggregate]]
  * — the aggregate form of the ranked-subquery idiom
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, id) ≤ k`.
  * Callers go through [[TopK.rank]].
  *
  * The window form SORTS every candidate row: even with Spark's
  * WindowGroupLimit pushdown the map side must sort its whole partition
  * slice before trimming (the exact-pair baselines feed it n² rows — a
  * 4M-row sort at sf0.1 per query). This aggregate replaces the sort with
  * a bounded insertion buffer: per input row one hash-probe into the
  * group map plus an O(k) compare-insert, and the shuffle carries ≤ k
  * (score, id) pairs per (group, mapper) — a local top-k per partition
  * followed by a global merge, the same partial/final two-phase shape as
  * [[KmvAgg]].
  *
  * Selection is IDENTICAL to the window form's: the k best rows under the
  * total order (score desc, id asc), NaN greatest as in SQL
  * ([[TopKPairsAgg.cmpScore]]). Ties on score break toward the smaller
  * id, and the comparison is on the exact score values the input
  * expression produced — no arithmetic is re-ordered, so a query that
  * swaps the window for this aggregate is bit-equivalent against the
  * unchanged ranked-subquery oracle. NULL scores and ids are skipped (a
  * DESC window ranks null scores last, so with ≥ k non-null candidates
  * they can never rank ≤ k).
  *
  * Ids are deduplicated on insert, which folds the `SELECT DISTINCT …` in
  * front of the multi-probe consumers' windows into the buffer: candidates
  * arrive with DUPLICATE ids (the same neighbor found through several
  * probe buckets / beam parents), every copy carrying the IDENTICAL score
  * (the same kernel over the same vectors). A duplicate id either already
  * sits in the buffer (the O(k) scan finds it) or was evicted by k
  * strictly-better entries (in which case the copy fails the same
  * comparison its twin failed), so only ≤ k entries per (group, mapper)
  * shuffle and the distinct exchange disappears. For robustness an id
  * seen with several scores keeps its best. Where (group, id) is unique
  * the dedup is a no-op.
  *
  * Output: `array<struct<score double, id bigint>>` in rank order.
  * SQL: `graft_topk_pairs(score, id, k)` with literal k ≥ 1.
  */
case class TopKPairsAgg(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairsAgg.Buffer]
  with BinaryLike[Expression] {

  require(k >= 1, s"graft_topk_pairs needs k >= 1, got $k")

  override def createAggregationBuffer(): TopKPairsAgg.Buffer =
    new TopKPairsAgg.Buffer(k)

  override def update(buffer: TopKPairsAgg.Buffer,
      input: InternalRow): TopKPairsAgg.Buffer = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKPairsAgg.Buffer,
      other: TopKPairsAgg.Buffer): TopKPairsAgg.Buffer = {
    var j = 0
    while (j < other.size) {
      buffer.insert(other.scores(j), other.ids(j))
      j += 1
    }
    buffer
  }

  override def eval(buffer: TopKPairsAgg.Buffer): Any = {
    val out = new Array[Any](buffer.size)
    var j = 0
    while (j < buffer.size) {
      out(j) = new GenericInternalRow(Array[Any](buffer.scores(j), buffer.ids(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKPairsAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    var j = 0
    while (j < buffer.size) {
      bb.putDouble(buffer.scores(j)); bb.putLong(buffer.ids(j)); j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKPairsAgg.Buffer(k)
    var j = 0
    while (j < n) { b.insert(bb.getDouble, bb.getLong); j += 1 }
    b
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk_pairs expects (double score, bigint id), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def prettyName: String = "graft_topk_pairs"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKPairsAgg =
    copy(left = newLeft, right = newRight)
}

object TopKPairsAgg {
  /** SQL total order on doubles, exactly Spark's
    * `SQLOrderingUtil.compareDoubles`: NaN compares GREATER than every
    * other value (and equal to itself), -0.0 == 0.0. The buffer ranks with
    * this, not raw `>`/`==`, so a NaN score (e.g. the cosine of a NaN
    * component) occupies the same top slot the replaced ranked-window form
    * would give it instead of being silently dropped once the buffer fills.
    */
  private[functions] def cmpScore(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else if (java.lang.Double.isNaN(a)) {
      if (java.lang.Double.isNaN(b)) 0 else 1
    } else -1

  /** Bounded rank buffer: parallel arrays sorted by (score desc, id asc),
    * insertion-sorted — O(k) per accepted candidate, k is small by
    * construction (a top-k report, not a corpus). Dedup by id on insert:
    * a duplicate already in the buffer keeps its better (score, id) slot;
    * a duplicate whose twin was EVICTED fails the same boundary comparison
    * the twin failed (the buffer only ever improves), so it cannot
    * re-enter.
    */
  final class Buffer(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0

    /** True when (s, i) outranks slot j under (score desc, id asc). */
    private def beats(s: Double, i: Long, j: Int): Boolean = {
      val c = cmpScore(s, scores(j))
      c > 0 || (c == 0 && i < ids(j))
    }

    def insert(s: Double, i: Long): Unit = {
      // reject first, so a losing row never pays the dedup scan: a
      // duplicate whose score beats its own slot also beats slot k-1
      if (size == k && !beats(s, i, k - 1)) return
      // dedup scan: same id already ranked?
      var d = 0
      while (d < size) {
        if (ids(d) == i) {
          // equal-score duplicate (or worse) under the SQL total order
          if (cmpScore(s, scores(d)) <= 0) return
          // better score for the same id: remove the stale slot, re-rank
          var m = d
          while (m < size - 1) {
            scores(m) = scores(m + 1); ids(m) = ids(m + 1); m += 1
          }
          size -= 1
          d = size // exit scan
        } else d += 1
      }
      // insertion point: the first slot this candidate beats
      var p = size
      var j = 0
      var found = false
      while (j < size && !found) {
        if (beats(s, i, j)) { p = j; found = true }
        j += 1
      }
      if (p >= k) return
      val last = math.min(size, k - 1)
      var m = last
      while (m > p) {
        scores(m) = scores(m - 1); ids(m) = ids(m - 1); m -= 1
      }
      scores(p) = s
      ids(p) = i
      if (size < k) size += 1
    }
  }
}

object TopK {

  /** Per-group top-k by (score DESC, id ASC) — the one call site shape for
    * `row_number() OVER (PARTITION BY group ORDER BY score DESC, id) ≤ k`
    * on [[TopKPairsAgg]]. Returns one row per selected candidate: the
    * `group` columns, `id` and `score` (their input types restored; the
    * kernel ranks the score as double and the id as bigint) and `rank`,
    * the 1-based `int` position.
    *
    * The contract the caller owns: (group, id) is unique or its
    * duplicates carry equal scores (the buffer keeps one copy, as
    * `DISTINCT` before the window would), and null scores or ids never
    * rank. Any other column is dropped; a caller that needs one back
    * joins it on `id` or `group`.
    */
  def rank(df: DataFrame, group: Seq[String], score: String, id: String,
      k: Int): DataFrame = {
    graft.GraftExtensions.registerAll(df.sparkSession)
    val keys = group.map(col)
    df.groupBy(keys: _*)
      .agg(expr(s"graft_topk_pairs(CAST(`$score` AS DOUBLE), " +
        s"CAST(`$id` AS BIGINT), $k)").as("top"))
      .select(keys :+ posexplode(col("top")).as(Seq("pos", "top")): _*)
      .select(keys ++ Seq(
        col("top.id").cast(df.schema(id).dataType).as(id),
        col("top.score").cast(df.schema(score).dataType).as(score),
        (col("pos") + 1).cast("int").as("rank")): _*)
  }
}

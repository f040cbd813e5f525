package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q-digest — the DETERMINISTIC mergeable quantile sketch (Shrivastava,
  * Buragohain, Agrawal, Suri 2004): unlike t-digest/GK (insertion-order-
  * dependent, so never hash-comparable cross-engine), a q-digest is a pure
  * function of the value multiset — build, merge, and query all replay
  * bit-identically in DuckDB. This is the quantile sibling of the repo's
  * KMV/CMS/HLL family: fixed space (≤ 3·[[K]] nodes), mergeable by count
  * union + recompress, rank error ≤ [[Levels]]·n/[[K]].
  *
  * Structure: order values land in 2^[[Levels]] leaf cells of a binary
  * tree over the value domain ([[CellDollars]]-dollar cells); compression
  * walks levels bottom-up and pushes a sibling pair into its parent when
  * the pair's mass is ≤ ⌊n/[[K]]⌋ — frequent ranges keep fine resolution,
  * sparse ranges collapse. The leaf aggregation is the only corpus-scale
  * pass (one map-side-combined groupBy); the compression walk then runs
  * over the ≤ 2^[[Levels]] collected leaves on the driver (bounded by the
  * UNIVERSE, not the row count — see [[build]]); the DuckDB oracle
  * replays every level as its own CTE, so the digest STRUCTURE, not just
  * the quantile answers, is hash-verified.
  *
  * Query: kept nodes sorted by (right endpoint, deeper level first), the
  * q-quantile estimate is the first right endpoint whose running mass
  * reaches ⌈q·n⌉ — emitted beside the exact order statistic and the
  * achieved rank, so the sketch's error is an audited number.
  */
object QDigest {

  /** Compression parameter: digest ≤ 3k nodes, rank error ≤ L·n/k. */
  val K = 64

  /** Tree depth: the value domain has 2^[[Levels]] leaf cells. */
  val Levels = 12

  /** Dollars per leaf cell (domain cover: 2^12 cells × 256 ≥ max price). */
  val CellDollars = 256

  /** (numerator, denominator) of the audited quantiles. */
  val Quantiles: Seq[(Int, Int)] = Seq((1, 2), (9, 10), (99, 100))

  /** Leaf histogram (ONE distributed keyed aggregate, collected — bounded
    * by the 2^[[Levels]] universe, never by row count: the IvfIndex
    * bounded-collect pattern) and the compressed digest, built by the
    * SAME bottom-up sibling-collapse the DuckDB oracle replays as
    * unrolled CTEs. An earlier all-in-plan form chained the 12 levels as
    * Spark aggregates; every downstream branch re-evaluated the whole
    * chain and the entry cost 89 s at sf0.1 — the sketch state is a few
    * hundred integers and belongs on the driver once the one corpus pass
    * has produced the leaves (0.9 s after this change, same oracle).
    */
  private[graft] def build(spark: SparkSession, dir: String)
      : (Seq[(Long, Long)], Seq[(Int, Long, Long, Long)]) =
    graft.Scratch.memo(spark, "graft-qdigest", dir) { _ =>
      import spark.implicits._
      val leaves = Tables.orders(spark, dir)
        .select(expr(s"floor(o_totalprice) div $CellDollars").as("id"))
        .groupBy($"id").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("c"))
        .sortBy(_._1).toSeq
      (leaves, compress(leaves.map { case (id, c) => (Levels, id) -> c }.toMap,
        leaves.map(_._2).sum))
    }

  /** General q-digest compression over counts at ANY levels — the form
    * MERGE needs (two digests' node counts union at mixed levels, then
    * recompress under the combined n): bottom-up, a sibling pair whose
    * mass plus the parent's own count fits ⌊n/[[K]]⌋ collapses into the
    * parent. On leaf-only input (parents all zero) this is exactly the
    * build walk the DuckDB oracle replays.
    */
  private[graft] def compress(counts: Map[(Int, Long), Long], n: Long)
      : Seq[(Int, Long, Long, Long)] = {
    val thr = n / K
    val byLevel = scala.collection.mutable.Map.empty[Int,
      scala.collection.mutable.Map[Long, Long]]
    counts.foreach { case ((l, id), c) =>
      val m = byLevel.getOrElseUpdate(l, scala.collection.mutable.Map.empty)
      m(id) = m.getOrElse(id, 0L) + c
    }
    val out = Seq.newBuilder[(Int, Long, Long, Long)] // (lvl, id, c, rt)
    for (l <- Levels to 1 by -1) {
      val width = 1L << (Levels - l)
      val cur = byLevel.getOrElse(l, scala.collection.mutable.Map.empty)
      val parents = byLevel.getOrElseUpdate(l - 1,
        scala.collection.mutable.Map.empty)
      cur.keys.map(_ / 2).toSeq.distinct.sorted.foreach { pid =>
        val s = cur.getOrElse(2 * pid, 0L) + cur.getOrElse(2 * pid + 1, 0L)
        if (s + parents.getOrElse(pid, 0L) <= thr)
          parents(pid) = parents.getOrElse(pid, 0L) + s
        else Seq(2 * pid, 2 * pid + 1).foreach { id =>
          cur.get(id).filter(_ > 0).foreach(c =>
            out += ((l, id, c, (id + 1) * width - 1)))
        }
      }
    }
    byLevel.getOrElse(0, scala.collection.mutable.Map.empty)
      .toSeq.sortBy(_._1).foreach { case (id, c) =>
        if (c > 0) out += ((0, id, c, (1L << Levels) - 1))
      }
    out.result()
  }

  def qdigestQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (leaves, nodes) = build(spark, dir)
    val n = leaves.map(_._2).sum
    val ordered = nodes.sortBy(t => (t._4, -t._1))
    val cums = ordered.scanLeft(0L)(_ + _._3).tail

    // only the exact order statistic needs the data again: one shared
    // distinct-value running sum, one tiny filter branch per quantile
    val exactCum = Tables.orders(spark, dir)
      .select(floor($"o_totalprice").cast("long").as("v"))
      .groupBy($"v").agg(count(lit(1)).as("cv"))
      .withColumn("cumv", sum($"cv").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    Quantiles.map { case (qn, qd) =>
      val target = (n * qn + qd - 1) / qd
      val estRt = ordered(cums.indexWhere(_ >= target))._4
      val rankAt = leaves.filter(_._1 <= estRt).map(_._2).sum
      exactCum.filter($"cumv" >= target)
        .agg(min($"v").as("exact_value"))
        .select(lit(qn * 1.0 / qd).as("q"), lit(target).as("target_rank"),
          lit((estRt + 1) * CellDollars - 1).as("est_value"),
          $"exact_value", lit(rankAt).as("rank_at_est"),
          lit(nodes.size.toLong).as("n_nodes"))
    }.reduce(_ unionByName _).orderBy($"q")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_qdigest_quantiles" -> (qdigestQuantiles _))

  val oracle: Map[String, String] = {
    val lvlCtes = (Levels to 1 by -1).map { l =>
      val width = 1L << (Levels - l)
      s"""sib$l AS (
  SELECT id // 2 AS pid, sum(c)::BIGINT AS s FROM lvl$l GROUP BY id // 2),
kept$l AS (
  SELECT $l AS lvl, v.id, v.c, ((v.id + 1) * $width - 1)::BIGINT AS rt
  FROM lvl$l v JOIN sib$l s ON v.id // 2 = s.pid CROSS JOIN tot
  WHERE s.s > tot.n // $K),
lvl${l - 1} AS (
  SELECT pid AS id, s AS c FROM sib$l CROSS JOIN tot WHERE s <= tot.n // $K)"""
    }.mkString(",\n")
    val keptUnion = ((Levels to 1 by -1).map(l => s"SELECT * FROM kept$l") :+
      s"SELECT 0 AS lvl, id, c, ${(1L << Levels) - 1}::BIGINT AS rt FROM lvl0 WHERE c > 0")
      .mkString("\nUNION ALL ")
    val qRows = Quantiles.map { case (qn, qd) =>
      s"""SELECT ${qn * 1.0 / qd} AS q,
       (SELECT (n * $qn + $qd - 1) // $qd FROM tot)::BIGINT AS target_rank,
       ((SELECT min(rt) FROM ordered
         WHERE cum >= (SELECT (n * $qn + $qd - 1) // $qd FROM tot)) + 1)
         * $CellDollars - 1 AS est_value,
       (SELECT min(v) FROM exact_cum
        WHERE cumv >= (SELECT (n * $qn + $qd - 1) // $qd FROM tot))
         AS exact_value,
       (SELECT sum(c) FROM lvl$Levels
        WHERE id <= (SELECT min(rt) FROM ordered
                     WHERE cum >= (SELECT (n * $qn + $qd - 1) // $qd FROM tot)))::BIGINT
         AS rank_at_est,
       (SELECT count(*) FROM digest)::BIGINT AS n_nodes"""
    }.mkString("\nUNION ALL\n")
    Map("agg_qdigest_quantiles" -> s"""WITH vals AS (
  SELECT floor(o_totalprice)::BIGINT AS v,
         floor(o_totalprice)::BIGINT // $CellDollars AS cell
  FROM orders),
lvl$Levels AS (SELECT cell AS id, count(*)::BIGINT AS c FROM vals GROUP BY cell),
tot AS (SELECT sum(c)::BIGINT AS n FROM lvl$Levels),
$lvlCtes,
digest AS (
$keptUnion),
ordered AS (
  SELECT lvl, id, c, rt,
         sum(c) OVER (ORDER BY rt, lvl DESC
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
  FROM digest),
exact_cum AS (
  SELECT v, sum(count(*)) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS cumv
  FROM vals GROUP BY v)
$qRows
ORDER BY q""")
  }
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distinct-by-id top-k aggregate ([[graft.functions.TopKPairsAgg]])
  * must select EXACTLY the rows the `DISTINCT (g, id, score)` →
  * ranked-window idiom it replaced selects: its consumers
  * (sim_hubness_ann's multi-probe candidate stream, the beam search's
  * multi-parent proposals) feed duplicate ids that carry the IDENTICAL
  * kernel score, and the oracles dedup-then-rank — so the fold of the
  * dedup into the bounded buffer must be selection-equivalent, including
  * the eviction edge (a duplicate whose twin was already pushed out of
  * the buffer must not re-enter).
  */
class TopKPairsSpec extends SparkSpec {


  test("aggregate selection == DISTINCT + ranked window, equal-score duplicates included") {
    import spark.implicits._
    val k = 4
    // each (g, id) appears 1..3 times with the SAME score (the consumers'
    // contract: score is a pure kernel of the id); group sizes straddle k;
    // score ties force the id tie-break
    val rows = for {
      g <- 0 until 29
      i <- 0 until (g % 8) + 1
      copy <- 0 to (g + i) % 3
    } yield (g.toLong, ((g * 13 + i * 7) % 5).toDouble / 4.0,
      (i * 19 % 11).toLong * 100 + g)
    val df = rows.toDF("g", "score", "id").repartition(11)
    val agg = df.groupBy($"g")
      .agg(expr(s"graft_topk_pairs(score, id, $k)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).as("rk"), $"col.id".as("id"),
        $"col.score".as("score"))
    val win = df.select($"g", $"score", $"id").distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy($"g").orderBy($"score".desc, $"id")))
      .filter($"rk" <= k)
      .select($"g", $"rk".cast("long").as("rk"), $"id", $"score")
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
      "distinct-by-id aggregate top-k must equal DISTINCT + ranked window")
  }

  test("NaN scores rank FIRST and dedup by id, matching the SQL total order") {
    import spark.implicits._
    val df = Seq(
      (1L, 3.0, 10L), (1L, Double.NaN, 7L), (1L, Double.NaN, 7L),
      (1L, 9.0, 11L), (1L, 8.0, 13L), (1L, 2.0, 12L)
    ).toDF("g", "score", "id").repartition(3)
    val agg = df.groupBy($"g")
      .agg(expr("graft_topk_pairs(score, id, 3)").as("top"))
      .select(posexplode($"top"))
      .select($"col.id")
      .collect().map(_.getLong(0)).toSeq
    // DISTINCT + DESC window: NaN first (id 7 once), then 9.0, 8.0
    assert(agg == Seq(7L, 11L, 13L), s"got $agg")
  }

  test("an evicted id's duplicate cannot re-enter the buffer") {
    import spark.implicits._
    // k=2: id 7 (score 1.0) is admitted, then evicted by ids 1 and 2
    // (score 9.0, 8.0); a second copy of id 7 arrives after the eviction
    // in the same partition order and must stay out
    val df = Seq(
      (1L, 1.0, 7L), (1L, 9.0, 1L), (1L, 8.0, 2L), (1L, 1.0, 7L)
    ).toDF("g", "score", "id").coalesce(1)
    val out = df.groupBy($"g")
      .agg(expr("graft_topk_pairs(score, id, 2)").as("top"))
      .select(explode($"top.id").as("id")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L), s"got $out")
  }

  test("null scores skipped; robustness: an id seen twice keeps its better score") {
    import spark.implicits._
    val df = Seq(
      (1L, Option(3.0), 10L), (1L, None, 1L), (1L, Option(5.0), 10L),
      (1L, Option(2.0), 11L), (2L, None, 9L)
    ).toDF("g", "score", "id")
    val out = df.groupBy($"g")
      .agg(expr("graft_topk_pairs(score, id, 3)").as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getDouble(0), x.getLong(1)))).toMap
    assert(out(1L) == Seq((5.0, 10L), (2.0, 11L)), s"got ${out(1L)}")
    assert(out(2L) == Seq.empty, "all-null group yields an empty ranking")
  }

  test("parallelism invariance: 1 partition == 16 partitions") {
    import spark.implicits._
    val rows = (0 until 600).map(i =>
      ((i % 7).toLong, ((i * 37) % 23).toDouble, (i % 50).toLong))
    def run(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"g").agg(expr("graft_topk_pairs(score, id, 4)").as("top"))
      .orderBy($"g")
      .select($"g", $"top.id", $"top.score")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Double](2).toList)).toList
    val one = run(rows.toDF("g", "score", "id").coalesce(1))
    val many = run(rows.toDF("g", "score", "id").repartition(16))
    assert(one == many, "merge order must not change the selection")
  }
}

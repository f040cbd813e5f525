package graft

import graft.functions.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The top-k kernel's call site ([[graft.functions.TopK.rank]]) must select
  * EXACTLY the rows, in the rank order, of the ranked-window idiom it
  * replaced — the window form is the cross-engine parity contract (the
  * similarity oracles rank with `row_number() OVER (ORDER BY cos DESC,
  * id)`), so any selection or tie-break drift would silently
  * desynchronize every migrated query.
  */
class TopKIdsSpec extends SparkSpec {

  /** (g, rank, id) in rank order per group. */
  private def ranked(df: DataFrame, k: Int): Seq[(Long, Int, Long)] =
    TopK.rank(df, Seq("g"), "score", "id", k)
      .orderBy("g", "rank").collect()
      .map(r => (r.getAs[Long]("g"), r.getAs[Int]("rank"), r.getAs[Long]("id")))
      .toSeq

  test("aggregate selection == ranked window selection, ties and small groups included") {
    import spark.implicits._
    // deterministic fixture with: duplicate scores (tie-break on id),
    // groups smaller than k, negative and zero scores — and spread over
    // many partitions so partial/merge paths genuinely run
    val k = 5
    val rows = for {
      g <- 0 until 37
      i <- 0 until (g % 9) + 1   // group sizes 1..9 straddle k
    } yield (g.toLong, ((g * 31 + i * 17) % 7).toDouble / 3.0 - 0.5, (i * 13 % 11).toLong * 100 + g)
    val df = rows.toDF("g", "score", "id").repartition(13)
    val agg = TopK.rank(df, Seq("g"), "score", "id", k)
    assert(agg.columns.toSeq == Seq("g", "id", "score", "rank"))
    assert(agg.schema("rank").dataType == org.apache.spark.sql.types.IntegerType)
    val win = df
      .withColumn("rank", row_number().over(
        Window.partitionBy($"g").orderBy($"score".desc, $"id")))
      .filter($"rank" <= k)
      .select($"g", $"id", $"score", $"rank")
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
      "aggregate top-k must equal the ranked-window top-k row-for-row")
  }

  test("NaN scores rank FIRST, matching the DESC window's SQL total order") {
    import spark.implicits._
    // SQL orders NaN greater than every double; the buffer must agree
    // (raw `>`/`==` would silently drop NaN once the buffer fills)
    val df = Seq(
      (1L, 3.0, 10L), (1L, Double.NaN, 7L), (1L, Double.NaN, 5L),
      (1L, 9.0, 11L), (1L, 2.0, 12L), (1L, 8.0, 13L)
    ).toDF("g", "score", "id").repartition(4)
    val agg = ranked(df, 3).map(_._3)
    val win = df
      .withColumn("rk", row_number().over(
        Window.partitionBy($"g").orderBy($"score".desc, $"id")))
      .filter($"rk" <= 3).orderBy($"rk")
      .collect().map(_.getLong(2)).toSeq
    assert(win == Seq(5L, 7L, 11L), s"window contract drifted: $win")
    assert(agg == win, s"aggregate must match the window order, got $agg")
  }

  test("null scores are skipped, matching a DESC window with >= k non-null rows") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(3.0), 10L), (1L, None, 1L), (1L, Some(2.0), 11L),
      (1L, Some(1.0), 12L), (2L, None, 9L)
    ).toDF("g", "score", "id")
    val out = ranked(df, 2)
    assert(out == Seq((1L, 1, 10L), (1L, 2, 11L)),
      s"the all-null group 2 yields no rows; got $out")
  }

  test("parallelism invariance: 1 partition == 16 partitions") {
    import spark.implicits._
    val rows = (0 until 500).map(i =>
      ((i % 7).toLong, ((i * 37) % 23).toDouble, i.toLong))
    val one = ranked(rows.toDF("g", "score", "id").coalesce(1), 4)
    val many = ranked(rows.toDF("g", "score", "id").repartition(16), 4)
    assert(one.size == 7 * 4)
    assert(one == many, "merge order must not change the selection")
  }

  test("rank restores the id and score input types") {
    import spark.implicits._
    // an int id and a long score (vote counts) rank as bigint/double
    // inside the kernel and come back as int/long
    val df = Seq((1L, 3L, 2), (1L, 5L, 9), (1L, 5L, 4), (2L, 1L, 7))
      .toDF("g", "score", "id")
    val out = TopK.rank(df, Seq("g"), "score", "id", 1)
    assert(out.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.schema("score").dataType == org.apache.spark.sql.types.LongType)
    assert(out.orderBy("g").collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getInt(3))).toSeq == Seq((1L, 4, 5L, 1), (2L, 7, 1L, 1)))
  }
}

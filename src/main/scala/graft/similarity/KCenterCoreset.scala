package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (Gonzalez's 2-approximation — the
  * farthest-point traversal behind embedding-space data-subset selection:
  * pick the point farthest from everything chosen so far, repeat). The
  * chosen centers are the maximally-spread representative subset — the
  * "diverse coreset" used to seed active learning, curriculum subsets, and
  * cluster initialization; the pick radius at each round is the exact
  * current covering radius, so the emitted curve IS the coverage-vs-budget
  * trade a data-selection run reads off.
  *
  * Iteration is inherently sequential (round r needs round r−1's winner),
  * so the build follows [[IvfIndex]]'s canonical driver-round-trip shape:
  * [[Rounds]] bounded jobs, each collecting exactly ONE row (the argmax),
  * memoized per (session, dir). Each round is one corpus scan against a
  * ≤[[Rounds]]-row broadcast of the chosen set — no corpus shuffle, no
  * pair materialization; at a billion vectors the scan parallelizes
  * embarrassingly and the collect stays one row.
  *
  * The registered query is lazy beyond that bounded build: it assigns every
  * corpus vector to its nearest center (broadcast of ≤[[Rounds]]+1 centers,
  * one pass, window-free tie-break by min struct) and emits per center its
  * pick round, pick radius, and occupancy.
  *
  * Determinism: distance is 1 − cosine via the in-array-order
  * [[graft.functions.CosineSimilarity]] kernel (DuckDB twin uses the
  * identical expression); argmax breaks double ties by vec_id; the DuckDB
  * oracle replays ALL [[Rounds]] greedy rounds as unrolled CTEs, so the
  * whole trajectory — not just the final table — is hash-verified.
  */
object KCenterCoreset {

  /** Greedy picks after the seed; the coreset is [[Rounds]]+1 centers. */
  val Rounds = 8

  /** Seed center: the minimum vec_id (deterministic, data-independent). */
  val SeedId = 0L

  /** The greedy trajectory: (round, center_id, pick radius), seed first
    * with radius 0.0 (it has no predecessor set — documented placeholder).
    */
  def centersForDir(spark: SparkSession, dir: String): Seq[(Int, Long, Double)] =
    graft.Scratch.memo(spark, "graft-kcenter", dir) { _ =>
      import spark.implicits._
      Similarity.register(spark)
      val e = Tables.embeddings(spark, dir)
      var chosen = Seq(SeedId)
      val picks = Seq.newBuilder[(Int, Long, Double)]
      picks += ((0, SeedId, 0.0))
      for (r <- 1 to Rounds) {
        val cdf = e.filter($"vec_id".isin(chosen: _*))
          .select($"embedding".as("ce"))
        val row = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
          .crossJoin(broadcast(cdf))
          .withColumn("d", lit(1.0) - expr("graft_cosine(ce, ne)"))
          .groupBy($"nid").agg(min($"d").as("dmin"))
          .orderBy($"dmin".desc, $"nid")
          .limit(1).collect()(0)
        picks += ((r, row.getAs[Long]("nid"), row.getAs[Double]("dmin")))
        chosen = chosen :+ row.getAs[Long]("nid")
      }
      picks.result()
    }

  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val e = Tables.embeddings(spark, dir)
    val centers = centersForDir(spark, dir)
      .toDF("round", "center_id", "radius")
      .join(e.select($"vec_id".as("center_id"), $"embedding".as("ce")),
        "center_id")
    val assigned = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
      .crossJoin(broadcast(centers.select($"center_id", $"ce")))
      .withColumn("d", lit(1.0) - expr("graft_cosine(ce, ne)"))
      // window: ascending distance; a negated key would move NaNs
      .withColumn("rk", row_number().over(
        Window.partitionBy($"nid").orderBy($"d", $"center_id")))
      .filter($"rk" === 1)
      .groupBy($"center_id").agg(count(lit(1)).as("n_assigned"))
    centers.select($"round", $"center_id", $"radius")
      .join(assigned, "center_id")
      .select($"round", $"center_id", $"radius", $"n_assigned")
      .orderBy($"round")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_kcenter_coreset" -> (kcenterCoreset _))

  val oracle: Map[String, String] = {
    val d = s"(1 - ${Similarity.cosSql("c.embedding", "n.embedding")})"
    val roundCtes = (1 to Rounds).map { r =>
      s"""pick_$r AS (
  SELECT n.vec_id AS center_id, min($d) AS radius
  FROM embeddings n JOIN embeddings c
    ON c.vec_id IN (SELECT vec_id FROM chosen_${r - 1})
  GROUP BY n.vec_id
  ORDER BY radius DESC, n.vec_id
  LIMIT 1),
chosen_$r AS (
  SELECT vec_id FROM chosen_${r - 1}
  UNION ALL SELECT center_id FROM pick_$r)"""
    }.mkString(",\n")
    val pickRows = (1 to Rounds)
      .map(r => s"SELECT $r AS round, center_id, radius FROM pick_$r")
      .mkString("\nUNION ALL ")
    Map("sim_kcenter_coreset" -> s"""WITH chosen_0 AS (
  SELECT $SeedId::BIGINT AS vec_id),
$roundCtes,
picks AS (
  SELECT 0 AS round, $SeedId::BIGINT AS center_id, 0.0 AS radius
  UNION ALL $pickRows),
assign AS (
  SELECT n.vec_id, p.center_id,
         ROW_NUMBER() OVER (PARTITION BY n.vec_id
           ORDER BY (1 - ${Similarity.cosSql("ce.embedding", "n.embedding")}),
                    p.center_id) AS rk
  FROM embeddings n
  CROSS JOIN picks p
  JOIN embeddings ce ON ce.vec_id = p.center_id),
occupancy AS (
  SELECT center_id, count(*)::BIGINT AS n_assigned
  FROM assign WHERE rk = 1 GROUP BY center_id)
SELECT p.round::INT AS round, p.center_id, p.radius::DOUBLE AS radius,
       o.n_assigned
FROM picks p JOIN occupancy o USING (center_id)
ORDER BY p.round""")
  }
}

package graft.similarity

import graft.functions.GraftFunctions.round2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication of the embedding corpus by
  * within-cluster cosine pruning (Abbas et al. 2023, "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication"): cluster
  * the corpus with k-means, then compare pairs only WITHIN each cluster and
  * drop the higher-id member of every pair above the similarity threshold.
  *
  * This is the embedding-space sibling of the MinHash/SimHash text dedup
  * families: near-duplicate *meaning* (paraphrases, re-encodes, translations
  * that share an embedding) that token-level fingerprints cannot see.
  *
  * Scale shape — the reason SemDeDup works at web scale: the all-pairs scan
  * is confined to each k-means cell, so total work is Σ|cell|² ≈ n²/k
  * instead of n² (k grows as √n, giving n^1.5 overall; the paper prunes
  * billions of LAION embeddings this way). Here the cells come from
  * [[IvfIndex]]'s deterministic spherical k-means — the SAME index the ANN
  * queries probe, built once and reused — and the within-cell join is an
  * equi-join on the cell id, never a cross product (PlanSpec-gated shape
  * shared with the other bucketed dedup families). Pairs whose members land
  * in different cells are missed BY DESIGN (the paper's recall trade); the
  * exact `sim_cosine_pairs` baseline beside this query is the ground truth
  * the spec measures that trade against.
  *
  * Determinism/oracle: cell assignments are bit-reproducible (md5 seeds +
  * fixed-point Lloyd, see [[IvfIndex]]), the kept partner is the MINIMUM
  * keep-id (unique, so no tie ambiguity), and the cosine kernel accumulates
  * identically in both engines — the DuckDB twin replays the whole pipeline
  * including training.
  */
object SemDedup {

  /** Within-cell near-duplicate threshold — matches the exact
    * `sim_cosine_pairs` baseline's τ so the drop ledger is comparable
    * (every SemDeDup drop pair is one of the exact baseline's pairs).
    */
  val SemTau = 0.4

  /** The drop ledger: one row per pruned vector — its cell, the kept
    * (lowest-id) partner that condemned it, and their cosine.
    */
  def prune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (assigned, _) = IvfIndex.build(spark, dir)
    val keep = assigned.select($"cell", $"vec_id".as("keep_id"),
      $"embedding".as("k_emb"))
    val drop = assigned.select($"cell", $"vec_id".as("drop_id"),
      $"embedding".as("d_emb"))
    keep.join(drop, "cell")
      .filter($"keep_id" < $"drop_id")
      .withColumn("cos", expr("graft_cosine(k_emb, d_emb)"))
      .filter($"cos" >= SemTau)
      .groupBy($"cell", $"drop_id")
      .agg(min(struct($"keep_id", $"cos")).as("kb"))
      .select($"cell".cast("int").as("cell"), $"drop_id",
        $"kb.keep_id".as("kept_id"), round2($"kb.cos").as("cosine_r2"))
      .orderBy($"drop_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_semdedup" -> (prune _))

  val oracle: Map[String, String] = {
    val cos = Similarity.cosSql _
    Map("sim_semdedup" -> s"""WITH ${IvfIndex.searchCtes},
cand AS (
  SELECT a.cell, a.vec_id AS keep_id, b.vec_id AS drop_id,
         ${cos("a.embedding", "b.embedding")} AS cos
  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id),
pairs AS (SELECT * FROM cand WHERE cos >= $SemTau),
ranked AS (
  SELECT cell, drop_id, keep_id, cos,
         row_number() OVER (PARTITION BY drop_id ORDER BY keep_id) AS rk
  FROM pairs)
SELECT CAST(cell AS INT) AS cell, drop_id, keep_id AS kept_id,
       ${Similarity.r2("cos")} AS cosine_r2
FROM ranked WHERE rk = 1
ORDER BY drop_id""")
  }
}

package graft.similarity

import graft.Tables
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN-sourced hubness — the scale form of [[Similarity.hubness]], side by
  * side with the exact baseline it replaces at corpus scale.
  *
  * The exact diagnostic scores every (query, neighbor) pair — O(n²), fine
  * for a labeled test-scale baseline, fatal at 10⁹ vectors. The production
  * recipe (already promised in [[Similarity.hubness]]'s doc) is to read the
  * k-occurrence counts off the ANN index's OWN result stream: every vector
  * queries the [[RandomHyperplaneLsh]] signature index, candidates come
  * only from its multi-probe buckets (self + Hamming-1), and each vector's
  * top-[[Similarity.HubK]] list is counted exactly as the exact form
  * counts its exhaustive one. Cost: Σ_b |bucket_b|² × (1 + Planes) pair
  * evaluations ≈ n²·(1+Planes)/2^Planes — the same equi-join shape as
  * every other LSH family member (no cartesian; PlanSpec-gated), and at
  * real scale (16–24 planes) a vanishing fraction of n².
  *
  * The report emits BOTH histograms per k-occurrence bin —
  * `n_vectors_exact` beside `n_vectors_ann` — so the degree to which ANN
  * candidate truncation flattens the hub tail is itself a checked number
  * (a hub under-counted by ANN is precisely a vector whose neighbors'
  * buckets it does not share; divergence here calibrates how much to trust
  * ANN-derived hub filtering). At corpus scale the exact column is dropped
  * and only the ANN stream runs.
  *
  * Determinism: cosine via the codegen'd kernel / in-list-order DuckDB
  * twin; ranks total-ordered (cos desc, nid); histograms integer-exact.
  */
object HubnessAnn {

  def hubnessAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val k = Similarity.HubK
    val e = Tables.embeddings(spark, dir)

    // --- ANN stream: every vector probes the signature index ---
    val idx = RandomHyperplaneLsh.index(spark, dir)
    val corpus = idx.select($"vec_id".as("nid"), $"embedding".as("ne"),
      $"bucket")
    val queries = idx.select($"vec_id".as("qid"), $"embedding".as("qe"),
      explode(RandomHyperplaneLsh.probeSignatures($"bucket")).as("bucket"))
    // same top-k kernel as [[Similarity.hubness]] (see its comment), with
    // the multi-probe duplicates folded INTO the aggregate: the old shape
    // shuffled every candidate row once for `distinct()` (22 MB / 1.29M
    // rows at sf0.1 — the same (qid, nid) pair re-found through each
    // shared bucket) and again for the top-k; the kernel drops duplicate
    // ids on insert — duplicates carry the identical kernel score, so
    // dedup-then-rank and rank-with-dedup select the same rows
    // (TopKPairsSpec pins it) — and only ≤ k entries per (qid, mapper)
    // ever shuffle
    val annTopk = TopK.rank(queries.join(corpus, "bucket")
        .filter($"qid" =!= $"nid")
        .withColumn("cos", expr("graft_cosine(qe, ne)")),
        Seq("qid"), "cos", "nid", k)
      .select($"nid")
    val annHist = e.select($"vec_id".as("nid"))
      .join(annTopk.groupBy($"nid").agg(count(lit(1)).as("ko")),
        Seq("nid"), "left")
      .select(coalesce($"ko", lit(0L)).as("k_occurrence"))
      .groupBy($"k_occurrence").agg(count(lit(1)).as("n_vectors_ann"))

    // --- exact baseline (test-scale only; the envelope guard in
    // [[Similarity.hubness]] bounds it) reused verbatim ---
    val exactHist = Similarity.hubness(spark, dir)
      .withColumnRenamed("n_vectors", "n_vectors_exact")

    exactHist.join(annHist, Seq("k_occurrence"), "full_outer")
      .select($"k_occurrence",
        coalesce($"n_vectors_exact", lit(0L)).as("n_vectors_exact"),
        coalesce($"n_vectors_ann", lit(0L)).as("n_vectors_ann"))
      .orderBy($"k_occurrence")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_hubness_ann" -> (hubnessAnn _))

  val oracle: Map[String, String] = {
    val k = Similarity.HubK
    val probeBuckets = ("bucket" +: (0 until RandomHyperplaneLsh.Planes)
      .map(p => s"xor(bucket, ${1 << p})")).mkString(", ")
    Map("sim_hubness_ann" -> s"""WITH sig AS (
  SELECT vec_id, embedding,
         ${RandomHyperplaneLsh.sigSql} AS bucket
  FROM embeddings),
q AS (
  SELECT vec_id AS qid, embedding AS qe,
         unnest([$probeBuckets]) AS bucket
  FROM sig),
ann_scored AS (
  SELECT DISTINCT q.qid, s.vec_id AS nid,
         ${Similarity.cosSql("q.qe", "s.embedding")} AS cos
  FROM q JOIN sig s ON q.bucket = s.bucket AND q.qid <> s.vec_id),
ann_topk AS (
  SELECT nid FROM (
    SELECT nid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
    FROM ann_scored)
  WHERE rk <= $k),
ann_occ AS (
  SELECT e.vec_id, count(t.nid)::BIGINT AS k_occurrence
  FROM embeddings e LEFT JOIN ann_topk t ON e.vec_id = t.nid
  GROUP BY e.vec_id),
ann_hist AS (
  SELECT k_occurrence, count(*)::BIGINT AS n_vectors_ann
  FROM ann_occ GROUP BY 1),
exact_scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         ${Similarity.cosSql("a.embedding", "b.embedding")} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
exact_topk AS (
  SELECT nid FROM (
    SELECT nid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
    FROM exact_scored)
  WHERE rk <= $k),
exact_occ AS (
  SELECT e.vec_id, count(t.nid)::BIGINT AS k_occurrence
  FROM embeddings e LEFT JOIN exact_topk t ON e.vec_id = t.nid
  GROUP BY e.vec_id),
exact_hist AS (
  SELECT k_occurrence, count(*)::BIGINT AS n_vectors_exact
  FROM exact_occ GROUP BY 1)
SELECT coalesce(e.k_occurrence, a.k_occurrence) AS k_occurrence,
       coalesce(e.n_vectors_exact, 0)::BIGINT AS n_vectors_exact,
       coalesce(a.n_vectors_ann, 0)::BIGINT AS n_vectors_ann
FROM exact_hist e FULL OUTER JOIN ann_hist a
  ON e.k_occurrence = a.k_occurrence
ORDER BY k_occurrence""")
  }
}

package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/Büttcher,
  * SIGIR 2009) — the fusion step every modern RAG stack runs to combine a
  * LEXICAL result list (keyword/TF-IDF) with a SEMANTIC one (embedding
  * ANN) without having to calibrate their incomparable score scales:
  * `rrf(d) = Σ_lists 1 / (K + rank_d)` with the canonical K=60, summing
  * only over the lists that actually retrieved `d`.
  *
  * The two input lists are surfaces this engine already verifies
  * end-to-end: the lexical side is [[graft.text.TextAnalysis.keywordSearch]]
  * (TF·IDF over the fixed query terms, top-[[graft.text.TextAnalysis.SearchTopK]]);
  * the semantic side is pseudo-relevance feedback — the corpus ranked by
  * cosine against the TOP lexical hit's embedding (`doc_id ≡ vec_id`
  * across `documents`/`embeddings`, the same alignment the
  * jaccard-cosine calibration uses), top-K, self excluded. Fusing a
  * PRF-expanded dense list with the sparse list that seeded it is the
  * standard two-tower fallback when no trained query encoder exists.
  *
  * Determinism for the oracle: ranks are integers; `1.0/(K+rank)` is a
  * single IEEE division of exact integers and the fused score adds the two
  * quotients in a FIXED order (lexical + semantic) — bit-equal in DuckDB.
  * Absent-side ranks emit the 0 sentinel (never NULL — a nullable int
  * column decays to float64 in pandas and breaks the dtype-sensitive
  * compare).
  *
  * Scale shape: each list is a top-K (TakeOrderedAndProject — per-partition
  * heads, no global sort); the fusion itself joins two K-row lists — driver
  * bounded by the plan constant K, never by the corpus. At 100 TB the
  * lists come from the inverted index and the IVF index respectively; the
  * fusion algebra (and this oracle) are unchanged.
  */
object RrfFusion {

  /** RRF smoothing constant — the value the original paper fixed and every
    * production implementation (Elasticsearch, Vespa, OpenSearch) defaults
    * to. ONE definition, both engines.
    */
  val RrfK = 60

  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val topK = graft.text.TextAnalysis.SearchTopK
    val lex = graft.text.TextAnalysis.keywordSearch(spark, dir)
      .withColumn("lex_rank",
        // window: unpartitioned rank of a SearchTopK-row result
        row_number().over(Window.orderBy($"score".desc, $"doc_id"))
          .cast("bigint"))
      .select($"doc_id", $"lex_rank")
    // pseudo-relevance feedback: the top lexical hit's embedding is the
    // semantic query (1 row — the broadcast side of both joins below)
    val qEmb = lex.filter($"lex_rank" === 1)
      .join(Tables.embeddings(spark, dir),
        lex("doc_id") === col("vec_id"))
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    // top-K cut FIRST (TakeOrderedAndProject — per-partition heads), THEN
    // the rank window over the K surviving rows: the unpartitioned window
    // orders a plan constant, never the corpus
    val sem = broadcast(qEmb)
      .crossJoin(Tables.embeddings(spark, dir)
        .select($"vec_id".as("doc_id"), $"embedding".as("n_emb")))
      .filter($"doc_id" =!= $"q_id")
      .withColumn("cos", expr("graft_cosine(q_emb, n_emb)"))
      .orderBy($"cos".desc, $"doc_id")
      .limit(topK)
      .withColumn("sem_rank",
        // window: unpartitioned rank of a SearchTopK-row result
        row_number().over(Window.orderBy($"cos".desc, $"doc_id"))
          .cast("bigint"))
      .select($"doc_id", $"sem_rank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"lex_rank", lit(0L)).as("lex_rank"),
        coalesce($"sem_rank", lit(0L)).as("sem_rank"),
        // fixed addition order: lexical quotient + semantic quotient
        (coalesce(lit(1.0) / (lit(RrfK) + $"lex_rank"), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + $"sem_rank"), lit(0.0)))
          .as("rrf_score"))
      .withColumn("fused_rank",
        // window: unpartitioned rank of at most 2 x SearchTopK rows
        row_number().over(Window.orderBy($"rrf_score".desc, $"doc_id"))
          .cast("bigint"))
      .select($"fused_rank", $"doc_id", $"lex_rank", $"sem_rank",
        $"rrf_score")
      .orderBy($"fused_rank")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_rrf_fusion" -> (rrfFusion _))

  val oracle: Map[String, String] = Map(
    "sim_rrf_fusion" -> s"""WITH lex0 AS (
  ${graft.text.TextAnalysis.keywordSearchOracle.replace("\n", "\n  ")}),
lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)::BIGINT AS lex_rank
  FROM lex0),
q AS (
  SELECT e.vec_id AS q_id, e.embedding AS q_emb
  FROM embeddings e JOIN lex ON e.vec_id = lex.doc_id AND lex.lex_rank = 1),
sem0 AS (
  SELECT n.vec_id AS doc_id,
         ${Similarity.cosSql("q.q_emb", "n.embedding")} AS cos
  FROM q, embeddings n WHERE n.vec_id <> q.q_id),
sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)::BIGINT AS sem_rank
    FROM sem0)
  WHERE sem_rank <= ${graft.text.TextAnalysis.SearchTopK}),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0)::BIGINT AS lex_rank,
         coalesce(s.sem_rank, 0)::BIGINT AS sem_rank,
         coalesce(1.0 / ($RrfK + l.lex_rank), 0.0)
           + coalesce(1.0 / ($RrfK + s.sem_rank), 0.0) AS rrf_score
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
SELECT ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)::BIGINT
         AS fused_rank,
       doc_id, lex_rank, sem_rank, rrf_score
FROM fused
ORDER BY fused_rank""")
}

package graft.similarity

import graft.Tables
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Filtered vector search — the metadata-constrained ANN problem every
  * production vector store fights (pgvector/Qdrant/Vespa docs all carry
  * the same warning): "top-k neighbors WHERE label = X" can be run two
  * ways, and they are not equivalent.
  *
  *  - POST-filter: search the unfiltered index, then drop non-matching
  *    results — cheap, but the filter eats into k, so selective filters
  *    return starved, low-recall lists;
  *  - PRE-filter: restrict the candidate stream to matching vectors
  *    before ranking — full-k results, at the cost of reading the
  *    filter-qualified postings.
  *
  * This entry runs BOTH against the LSH bucket index, with each probe's
  * own label as its filter, and referees them against the exact filtered
  * top-[[Similarity.TopK]] — emitting per method the returned-row count
  * and recall, so the starvation effect is an oracle-checked number
  * rather than a doc warning. (The label-partitioned index layout that
  * makes pre-filter cheap at scale is the same cell-partitioning the IVF
  * index already demonstrates — filter key first, bucket second.)
  *
  * All counts integer; recalls are single divisions by the exact
  * filtered baseline's result count.
  */
object FilteredAnn {

  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val k = Similarity.TopK
    val idx = RandomHyperplaneLsh.index(spark, dir)
    val labels = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label")
    val corpus = idx.join(labels, "vec_id")
      .select($"vec_id".as("nid"), $"embedding".as("ne"), $"bucket",
        $"label".as("n_label"))
    val probes = corpus
      .filter($"nid" < Similarity.NumProbes)
      .select($"nid".as("query_id"), $"ne".as("q_emb"),
        $"n_label".as("q_label"), $"bucket".as("q_bucket"))
    val probeBuckets = probes.select($"query_id", $"q_emb", $"q_label",
      explode(RandomHyperplaneLsh.probeSignatures($"q_bucket")).as("bucket"))

    // multi-probe duplicates of a (query_id, nid) pair carry one score;
    // the kernel keeps one copy
    def rank(cands: DataFrame) = TopK.rank(
        cands.withColumn("cos", expr("graft_cosine(q_emb, ne)")),
        Seq("query_id"), "cos", "nid", k)
      .select($"query_id", $"nid")

    // exact filtered baseline: same-label corpus, full scan per probe
    val exact = rank(broadcast(probes.drop("q_bucket"))
      .join(corpus, $"q_label" === $"n_label" && $"query_id" =!= $"nid"))
    // PRE-filter: label predicate restricts candidates BEFORE ranking
    val pre = rank(probeBuckets.join(corpus,
      Seq("bucket")).filter($"q_label" === $"n_label" &&
        $"query_id" =!= $"nid"))
    // POST-filter: rank the UNFILTERED index results, then drop
    val post = rank(probeBuckets.join(corpus, Seq("bucket"))
      .filter($"query_id" =!= $"nid"))
      .join(labels.select($"vec_id".as("nid"), $"label".as("n_label")), "nid")
      .join(probes.select($"query_id", $"q_label"), "query_id")
      .filter($"n_label" === $"q_label")
      .select($"query_id", $"nid")

    val base = exact.agg(count(lit(1)).as("baseline_results"))
    def score(name: String, df: DataFrame) = df
      .join(exact, Seq("query_id", "nid"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(df.agg(count(lit(1)).as("n_results")))
      .crossJoin(base)
      .select(lit(name).as("method"), $"n_results", $"n_hits",
        ($"n_hits" * lit(1.0) / $"baseline_results").as("recall"))
    score("prefilter", pre)
      .unionByName(score("postfilter", post))
      .orderBy($"method")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_filtered_ann" -> (filteredAnn _))

  val oracle: Map[String, String] = {
    val k = Similarity.TopK
    val probeBuckets = ("p.q_bucket" +: (0 until RandomHyperplaneLsh.Planes)
      .map(b => s"xor(p.q_bucket, ${1 << b})")).mkString(", ")
    def rankSql(cands: String, name: String) = s"""$name AS (
  SELECT query_id, nid FROM (
    SELECT query_id, nid,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, nid) AS rk
    FROM (SELECT DISTINCT query_id, nid, cos FROM $cands))
  WHERE rk <= $k)"""
    Map("sim_filtered_ann" -> s"""WITH sig AS (
  SELECT e.vec_id, e.embedding, e.label,
         ${RandomHyperplaneLsh.sigSql} AS bucket
  FROM embeddings e),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label,
         bucket AS q_bucket
  FROM sig WHERE vec_id < ${Similarity.NumProbes}),
pb AS (
  SELECT p.query_id, p.q_emb, p.q_label,
         unnest([$probeBuckets]) AS bucket
  FROM probes p),
exact_c AS (
  SELECT p.query_id, s.vec_id AS nid,
         ${Similarity.cosSql("p.q_emb", "s.embedding")} AS cos
  FROM probes p JOIN sig s
    ON s.label = p.q_label AND s.vec_id <> p.query_id),
${rankSql("exact_c", "exact")},
pre_c AS (
  SELECT b.query_id, s.vec_id AS nid,
         ${Similarity.cosSql("b.q_emb", "s.embedding")} AS cos
  FROM pb b JOIN sig s
    ON s.bucket = b.bucket AND s.label = b.q_label
   AND s.vec_id <> b.query_id),
${rankSql("pre_c", "pre_r")},
post_c AS (
  SELECT b.query_id, s.vec_id AS nid,
         ${Similarity.cosSql("b.q_emb", "s.embedding")} AS cos
  FROM pb b JOIN sig s
    ON s.bucket = b.bucket AND s.vec_id <> b.query_id),
${rankSql("post_c", "post_u")},
post_r AS (
  SELECT u.query_id, u.nid
  FROM post_u u
  JOIN sig s ON s.vec_id = u.nid
  JOIN probes p ON p.query_id = u.query_id
  WHERE s.label = p.q_label),
base AS (SELECT count(*)::BIGINT AS baseline_results FROM exact),
scored AS (
  SELECT 'prefilter' AS method,
         (SELECT count(*) FROM pre_r)::BIGINT AS n_results,
         (SELECT count(*) FROM pre_r r JOIN exact e
            USING (query_id, nid))::BIGINT AS n_hits
  UNION ALL
  SELECT 'postfilter',
         (SELECT count(*) FROM post_r)::BIGINT,
         (SELECT count(*) FROM post_r r JOIN exact e
            USING (query_id, nid))::BIGINT)
SELECT method, n_results, n_hits,
       n_hits * 1.0 / baseline_results AS recall
FROM scored, base
ORDER BY method""")
  }
}

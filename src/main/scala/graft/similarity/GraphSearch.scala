package graft.similarity

import graft.{Scratch, Tables}
import graft.functions.GraftFunctions.round2
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Beam search over a navigable neighbor graph — the NSW/HNSW family's
  * base layer (Malkov & Yashunin, public literature), the one ANN
  * paradigm the IVF/LSH/PQ line doesn't cover: start every query at a
  * fixed entry node, each round expand the beam's graph neighbors and
  * keep the query's [[Beam]] best (greedy-1 is the beam=1 special case,
  * and stalls in the first local optimum on weakly-navigable graphs).
  * Per-round best-of-beam emits as an audited PATH, and the final
  * landing is checked against the exact nearest neighbor — beam recall
  * is the navigability score of the graph itself.
  *
  * The neighbor graph is the [[RandomHyperplaneLsh]] index's own
  * candidate stream (each node's top-[[GraphDegree]] by ITS cosine —
  * the NSW edge rule), and it is expanded ON DEMAND: each round computes
  * neighbor lists only for the ≤[[Similarity.NumProbes]] distinct
  * frontier nodes (bucket-pruned scans), never for the whole corpus —
  * the property that makes graph-ANN viable at 10⁹ vectors, mirrored
  * here in the plan shape: per round, one frontier×bucket equi-join +
  * two top-k kernel passes, nothing corpus-quadratic.
  *
  * Determinism: the walk is a pure function of the graph and the
  * tie-breaks ((cos desc, id) at every argmax); the DuckDB twin unrolls
  * the identical [[Rounds]] hops CTE by CTE, so path, landing, AND the
  * exact-recall flag hash-compare.
  */
object GraphSearch {

  /** Out-degree of the navigable graph. */
  val GraphDegree = 8

  /** Beam width (ef in HNSW terms): greedy-1 stalls in the first local
    * optimum on a weakly-navigable graph; the beam is what makes the walk
    * a search.
    */
  val Beam = 4

  /** Beam-search hops (unrolled identically in the twin). */
  val Rounds = 4

  /** Entry node every walk starts from (smallest id — the deterministic
    * choice; production NSW uses the top layer's sole node, same idea).
    */
  val EntryNode = 0L

  def graphGreedySearch(spark: SparkSession, dir: String): DataFrame =
    Scratch.memo(spark, "graft-graph-search", dir, perRun = true)(
      _ => searchImpl(spark, dir))

  private def searchImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val idx = RandomHyperplaneLsh.index(spark, dir)
    val probes = Tables.embeddings(spark, dir)
      .filter($"vec_id" >= 1 && $"vec_id" <= Similarity.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))

    // one beam hop: expand every beam node's neighbor list on demand,
    // dedup proposals, keep the query's top-[[Beam]] (self never allowed)
    def hop(state: DataFrame): DataFrame = {
      val curIdx = state.select($"cur").distinct()
        .join(idx, $"cur" === idx("vec_id"))
        .select($"cur", $"embedding".as("cur_emb"), $"bucket")
      // neighbor selection via the bounded top-k buffer: (cur, u) pairs
      // are UNIQUE here — a vector lives in exactly one bucket, so it can
      // match at most one of cur's probe buckets — which makes the
      // distinct-by-id aggregate selection-identical to the ranked window
      // it replaces (the oracle's DISTINCT is a no-op for the same
      // reason). The window form shuffled every candidate row WITH both
      // embedding arrays just to rank; the aggregate shuffles ≤ Degree
      // (score, id) entries per (cur, mapper), and the adjacency's
      // embeddings are re-fetched by the ONE candidate join below.
      val cands = curIdx
        .select($"cur", $"cur_emb",
          explode(RandomHyperplaneLsh.probeSignatures($"bucket"))
            .as("bucket"))
        .join(idx.select($"vec_id".as("u"), $"embedding".as("u_emb"),
          $"bucket"), "bucket")
        .filter($"u" =!= $"cur")
        .withColumn("ncos", expr("graft_cosine(cur_emb, u_emb)"))
      val adj = TopK.rank(cands, Seq("cur"), "ncos", "u", GraphDegree)
        .select($"cur", $"u")
      val stay = state.select($"query_id", $"q_emb", $"cur".as("cand"))
      val steps = state.join(adj, "cur")
        .select($"query_id", $"q_emb", $"u".as("cand"))
      val proposals = stay.unionByName(steps)
        .filter($"cand" =!= $"query_id")
        // ONE embedding fetch for every proposal (stay's node and the
        // adjacency's neighbors alike) instead of riding embeddings
        // through the window exchange and a separate stay join
        .join(idx.select($"vec_id".as("cand"), $"embedding".as("cand_emb")),
          "cand")
        // two beam parents can propose the same candidate — the
        // distinct-by-id top-k buffer dedups on insert (duplicate
        // proposals score identically: same kernel, same vectors), so the
        // old dropDuplicates exchange + ranked-window exchange collapse
        // into ONE partial-aggregated exchange of ≤ Beam entries per
        // (query, mapper) — at 4 hops that is 8 fewer stages per search
        .withColumn("qcos", expr("graft_cosine(q_emb, cand_emb)"))
      TopK.rank(proposals, Seq("query_id", "q_emb"), "qcos", "cand", Beam)
        .select($"query_id", $"q_emb", $"cand".as("cur"), $"qcos",
          $"rank".as("rk"))
    }

    var state = probes.select($"query_id", $"q_emb",
      lit(EntryNode).as("cur"), lit(-2.0).as("qcos"), lit(1).as("rk"))
    val hops = (1 to Rounds).map { r =>
      // each hop is reused so the 4 hop columns + final row don't each
      // re-run every earlier round (beam state is ≤ probes×Beam rows;
      // without it the plan recomputes the frontier expansion ~14×:
      // 18.8 s → ~3 s). Eager: each hop runs while the search is built, so
      // the memoized search holds four finished beam states.
      state = Scratch.reuse(hop(state), eager = true)
      r -> state.filter($"rk" === 1)
        .select($"query_id", $"cur".as(s"hop$r"))
    }
    val path = hops.map(_._2).reduce(_.join(_, "query_id"))

    // exact nearest neighbor per probe — the recall referee
    // the corpus side is one parquet row group — unsplittable, so without
    // an explicit exchange the whole probes×n kernel loop runs in one task
    // (Similarity.spread has the measurement)
    val exact1 = TopK.rank(broadcast(probes)
        .crossJoin(Similarity.spread(Tables.embeddings(spark, dir)
          .select($"vec_id".as("nid"), $"embedding".as("n_emb"))))
        .filter($"nid" =!= $"query_id")
        .withColumn("cos", expr("graft_cosine(q_emb, n_emb)")),
        Seq("query_id"), "cos", "nid", 1)
      .select($"query_id", $"nid".as("exact_nn"))

    state.filter($"rk" === 1).select($"query_id", $"qcos")
      .join(path, "query_id")
      .join(exact1, "query_id")
      .select(Seq($"query_id") ++
        (1 to Rounds).map(r => col(s"hop$r")) ++ Seq(
          round2($"qcos").as("final_cos_r2"),
          $"exact_nn",
          (col(s"hop$Rounds") === $"exact_nn").cast("int")
            .as("found_exact")): _*)
      .orderBy($"query_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_graph_greedy_search" -> (graphGreedySearch _))

  val oracle: Map[String, String] = {
    val probeBuckets = ("s.bucket" +: (0 until RandomHyperplaneLsh.Planes)
      .map(p => s"xor(s.bucket, ${1 << p})")).mkString(", ")
    def hopSql(r: Int): String = {
      val prev = s"st${r - 1}"
      s"""adj$r AS (
  SELECT cur, u, u_emb FROM (
    SELECT n.cur, n.u, n.u_emb,
           ROW_NUMBER() OVER (PARTITION BY n.cur
                              ORDER BY n.ncos DESC, n.u) AS nrk
    FROM (
      SELECT DISTINCT c.cur, t.vec_id AS u, t.embedding AS u_emb,
             ${Similarity.cosSql("c.cur_emb", "t.embedding")} AS ncos
      FROM (
        SELECT DISTINCT p.cur, s.embedding AS cur_emb,
               unnest([$probeBuckets]) AS pb
        FROM $prev p JOIN sig s ON s.vec_id = p.cur) c
      JOIN sig t ON t.bucket = c.pb AND t.vec_id <> c.cur) n)
  WHERE nrk <= $GraphDegree),
st$r AS (
  SELECT query_id, cand AS cur, qcos, rk FROM (
    SELECT d.query_id, d.cand,
           ${Similarity.cosSql("pr.q_emb", "e.embedding")} AS qcos,
           ROW_NUMBER() OVER (PARTITION BY d.query_id ORDER BY
             ${Similarity.cosSql("pr.q_emb", "e.embedding")} DESC, d.cand)
             AS rk
    FROM (
      SELECT DISTINCT query_id, cand FROM (
        SELECT p.query_id, p.cur AS cand FROM $prev p
        UNION ALL
        SELECT p.query_id, a.u FROM $prev p JOIN adj$r a ON a.cur = p.cur)
      WHERE cand <> query_id) d
    JOIN probes pr USING (query_id)
    JOIN embeddings e ON e.vec_id = d.cand)
  WHERE rk <= $Beam)"""
    }
    Map("sim_graph_greedy_search" -> s"""WITH sig AS (
  SELECT vec_id, embedding, ${RandomHyperplaneLsh.sigSql} AS bucket
  FROM embeddings),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings
  WHERE vec_id BETWEEN 1 AND ${Similarity.NumProbes}),
st0 AS (SELECT query_id, $EntryNode::BIGINT AS cur, -2.0 AS qcos, 1 AS rk
        FROM probes),
${(1 to Rounds).map(hopSql).mkString(",\n")},
exact1 AS (
  SELECT query_id, nid AS exact_nn FROM (
    SELECT p.query_id, n.vec_id AS nid,
           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
             ${Similarity.cosSql("p.q_emb", "n.embedding")} DESC, n.vec_id)
             AS rk
    FROM probes p JOIN embeddings n ON n.vec_id <> p.query_id)
  WHERE rk = 1)
SELECT f.query_id,
${(1 to Rounds).map(r => s"       (SELECT cur FROM st$r WHERE st$r.query_id = f.query_id AND st$r.rk = 1) AS hop$r").mkString(",\n")},
       FLOOR(f.qcos * 100 + 0.5) / 100.0 AS final_cos_r2,
       e.exact_nn,
       CASE WHEN f.cur = e.exact_nn THEN 1 ELSE 0 END::INT AS found_exact
FROM st$Rounds f JOIN exact1 e USING (query_id)
WHERE f.rk = 1
ORDER BY f.query_id""")
  }
}

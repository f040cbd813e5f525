package graft.analytics

import graft.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Community detection by synchronous Label Propagation (Raghavan et al.
  * 2007, public literature) — the non-overlapping community layer on the
  * same weighted trade graph PageRank and triangles read, sparsified to
  * each node's [[TopEdges]] heaviest incident edges first (the
  * near-complete trade graph otherwise collapses to one community in a
  * round — kNN sparsification is the standard prep): every node
  * starts as its own label; each round, every node adopts the label
  * carrying the LARGEST incident edge weight among its neighbors
  * (smallest label id breaks ties — the determinism knob the async
  * textbook version lacks); after [[Rounds]] synchronized rounds the
  * label partition is the community assignment, rolled up per community.
  *
  * Everything is integer (edge weights are counts; the argmax is a
  * window over (weight desc, label asc)) — bit-reproducible at any
  * parallelism, and the DuckDB twin unrolls the identical rounds.
  *
  * Scale shape: one round = one equi-join of the label table against the
  * edge list + one per-(node, label) weight aggregate + one per-node
  * argmax window — the same one-shuffle-per-iteration discipline as
  * [[GraphOps.pagerank]]; labels co-partition with edge sources across
  * rounds. Sync (not async) updates are what make the result independent
  * of visit order — the property that lets 1000 executors run a round
  * without coordination.
  */
object LpaCommunities {

  /** Synchronized propagation rounds, unrolled identically in the twin. */
  val Rounds = 3

  /** Heaviest incident edges kept per node before propagation. TPC-H
    * trade volume is near-uniform (no planted blocks), so even the
    * best-partner graph yields few communities — the entry pins the
    * ALGEBRA; block-structured corpora are where the output gets rich.
    */
  val TopEdges = 1

  /** The symmetric (both-directions) weighted trade graph — detection
    * runs on its sparsified kNN subgraph, evaluation ([[Modularity]]) on
    * the full thing.
    */
  def denseEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val directed = GraphOps.tradeEdges(spark, dir)
    directed.select($"src".as("v"), $"dst".as("u"), $"w")
      .unionByName(directed.select($"dst".as("v"), $"src".as("u"), $"w"))
      .groupBy($"v", $"u").agg(sum($"w").as("w"))
  }

  /** The converged (v, label) partition — shared by the rollup here and
    * the [[Modularity]] evaluation.
    */
  private[analytics] def labelsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // kNN sparsification: the dense trade graph is near-complete, which
    // collapses LPA to one community in a round — keep each node's
    // [[TopEdges]] heaviest incident edges (the standard mutual-kNN prep
    // before community detection), deterministic tie-break on (w, u)
    val byNode = Window.partitionBy($"v").orderBy($"w".desc, $"u")
    // per-round reuse: the unrolled chain's dominant cost at this graph
    // size is CATALYST PLANNING of the deep composed tree (r13: ~2.5 s of
    // the entry's ~3.5 s wall was plan-time), and every consumer that
    // referenced `labels` k times re-planned and re-ran the whole chain k
    // times. Reusing the nation-sized edge and label tables keeps each
    // round's planned tree one join deep and computes each round exactly
    // once — the iterative-plan discipline the graph family documents.
    val edges = Scratch.reuse(denseEdges(spark, dir)
      .withColumn("erk", row_number().over(byNode))
      .filter($"erk" <= TopEdges)
      .select($"v", $"u", $"w"))
    val nodes = edges.select($"v").distinct()
    var labels = nodes.select($"v", $"v".as("label"))
    val byPull = Window.partitionBy($"v")
      .orderBy($"pull".desc, $"nbr_label")
    for (_ <- 1 to Rounds) {
      labels = Scratch.reuse(edges
        .join(labels.select($"v".as("u"), $"label".as("nbr_label")), "u")
        .groupBy($"v", $"nbr_label")
        .agg(sum($"w").as("pull"))
        .withColumn("rk", row_number().over(byPull))
        .filter($"rk" === 1)
        .select($"v", $"nbr_label".as("label")))
    }
    labels
  }

  def lpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    labelsDf(spark, dir).groupBy($"label".cast("bigint").as("community"))
      .agg(count(lit(1)).as("n_nodes"),
        min($"v").cast("bigint").as("min_node"),
        max($"v").cast("bigint").as("max_node"))
      .orderBy($"community")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_lpa_communities" -> (lpaCommunities _))

  private def roundSql(prev: String, cur: String): String = s"""$cur AS (
  SELECT v, nbr_label AS label FROM (
    SELECT e.v, p.label AS nbr_label, sum(e.w)::BIGINT AS pull,
           ROW_NUMBER() OVER (PARTITION BY e.v
                              ORDER BY sum(e.w) DESC, p.label) AS rk
    FROM edges e JOIN $prev p ON e.u = p.v
    GROUP BY e.v, p.label)
  WHERE rk = 1)"""

  /** Shared CTE chain (directed → dense → edges → l0..l[[Rounds]]) — the
    * oracle here and [[Modularity]]'s compose on top of it; `l$Rounds`
    * holds the converged (v, label) partition.
    */
  private[analytics] def labelsCtes: String = s"""directed AS (
  ${GraphOps.edgesSql.replace("\n", "\n  ")}),
dense AS (
  SELECT v, u, sum(w)::BIGINT AS w FROM (
    SELECT src AS v, dst AS u, w FROM directed
    UNION ALL
    SELECT dst AS v, src AS u, w FROM directed)
  GROUP BY v, u),
edges AS (
  SELECT v, u, w FROM (
    SELECT v, u, w,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY w DESC, u) AS erk
    FROM dense)
  WHERE erk <= $TopEdges),
l0 AS (SELECT DISTINCT v, v AS label FROM edges),
${(1 to Rounds).map(r => roundSql(s"l${r - 1}", s"l$r")).mkString(",\n")}"""

  val oracle: Map[String, String] = Map(
    "graph_lpa_communities" -> s"""WITH $labelsCtes
SELECT label::BIGINT AS community, count(*)::BIGINT AS n_nodes,
       min(v)::BIGINT AS min_node, max(v)::BIGINT AS max_node
FROM l$Rounds
GROUP BY label ORDER BY community""")
}

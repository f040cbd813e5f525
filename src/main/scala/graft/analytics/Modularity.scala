package graft.analytics

import graft.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted Newman modularity of the LPA partition — the number that says
  * whether the detected communities are STRUCTURE or noise (Newman &
  * Girvan 2004): Q compares each community's internal weight against what
  * a degree-preserving random rewiring would put there. Detection ran on
  * the sparsified kNN subgraph ([[LpaCommunities]]); evaluation, as is
  * standard, runs on the FULL dense graph the sparsifier was protecting
  * LPA from.
  *
  * Exact rational form: with the symmetric weight matrix A (both
  * directions materialized), 2W = ΣA, community internal weight A_c and
  * degree mass d_c,
  *
  *   Q = Σ_c (2W·A_c − d_c²) / (2W)²
  *
  * — per-community numerators are pure BIGINT (2W·A_c ≤ (ΣA)², inside
  * int64 for any corpus this side of 3·10⁹ total weight — documented
  * envelope), squared denominator taken in double to dodge the int64
  * square. One division per row; Q itself is the spec-checked sum.
  *
  * Scale: the evaluation is two keyed aggregates over the edge list
  * (degree mass, intra mass) plus the label join — one shuffle each; the
  * label table is nation-sized here and node-sized in general (broadcast
  * envelope documented at the join).
  */
object Modularity {

  def modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // both inputs are nation-graph-sized (≤ |nations|² edges, |nations|
    // labels) but a re-derivation of the edges replays the corpus-scale
    // trade-edge aggregate; reusing them lets the three consumers below
    // (degree mass, intra mass, total) compute the edges exactly once. The
    // labels are already the last LPA round's reuse.
    val dense = Scratch.reuse(LpaCommunities.denseEdges(spark, dir))
    val lbl = LpaCommunities.labelsDf(spark, dir)
    val tot = dense.agg(sum($"w").as("two_w"))
    val degC = dense.groupBy($"v").agg(sum($"w").as("dv"))
      .join(lbl, "v")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"dv").as("dc"))
    val intra = dense
      .join(lbl.select($"v", $"label".as("cv")), "v")
      .join(lbl.select($"v".as("u"), $"label".as("cu")), "u")
      .filter($"cv" === $"cu")
      .groupBy($"cv".as("label")).agg(sum($"w").as("ac"))
    degC.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(tot))
      .select($"label".cast("bigint").as("community"), $"n_nodes",
        coalesce($"ac", lit(0L)).as("intra_weight"),
        $"dc".as("degree_mass"),
        (($"two_w" * coalesce($"ac", lit(0L)) - $"dc" * $"dc").cast("double")
          / ($"two_w".cast("double") * $"two_w".cast("double")))
          .as("contribution"))
      .orderBy($"community")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_modularity" -> (modularity _))

  val oracle: Map[String, String] = Map(
    "graph_modularity" -> s"""WITH ${LpaCommunities.labelsCtes},
lbl AS (SELECT v, label FROM l${LpaCommunities.Rounds}),
tot AS (SELECT sum(w)::BIGINT AS two_w FROM dense),
deg_c AS (
  SELECT l.label, count(*)::BIGINT AS n_nodes, sum(d.dv)::BIGINT AS dc
  FROM (SELECT v, sum(w)::BIGINT AS dv FROM dense GROUP BY v) d
  JOIN lbl l USING (v)
  GROUP BY l.label),
intra AS (
  SELECT a.label, sum(e.w)::BIGINT AS ac
  FROM dense e
  JOIN lbl a ON a.v = e.v
  JOIN lbl b ON b.v = e.u
  WHERE a.label = b.label
  GROUP BY a.label)
SELECT d.label::BIGINT AS community, d.n_nodes,
       coalesce(i.ac, 0)::BIGINT AS intra_weight,
       d.dc AS degree_mass,
       (t.two_w * coalesce(i.ac, 0) - d.dc * d.dc)::DOUBLE
         / (t.two_w::DOUBLE * t.two_w::DOUBLE) AS contribution
FROM deg_c d LEFT JOIN intra i USING (label) CROSS JOIN tot t
ORDER BY community""")
}

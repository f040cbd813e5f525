package graft.analytics

import graft.{Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over a join-derived edge table — the second
  * graph-compute class beside [[graft.dedup.DupClusters]]' connected
  * components: weighted PageRank on the nation-to-nation trade network
  * (customer's nation → supplier's nation, weighted by lineitem count).
  *
  * The 100 TB shape: the edge list is built once by the usual fact join and
  * aggregated to (src, dst, w) — after that every iteration is one
  * hash-shuffle (contributions grouped by dst) joined back to the node set,
  * exactly the DupClusters loop shape. Node count is small (nations) but
  * nothing in the plan depends on that; the same DAG runs on a billion-node
  * edge table (ranks co-shuffle with edges on src; at that scale you'd also
  * bucket both by src).
  *
  * Cross-engine exactness: ranks are FIXED-POINT BIGINTs ([[Scale]] units
  * per 1.0), every step is integer multiply / integer `div` / integer sum —
  * associative at any shuffle order and bit-identical in DuckDB's unrolled
  * CTE twin. No float ever enters the loop; the presentation `pagerank`
  * double is one terminal division. Damping 0.85 is the integer pair
  * (85, 100). Products stay far inside signed-64: rank ≤ ~n·Scale = 2.5e10,
  * edge weight ≤ 6e5 at sf0.1 → rank·w ≤ 1.5e16.
  */
object GraphOps {

  /** Fixed-point units per 1.0 of rank mass. */
  val Scale = 1000000000L

  /** Damping numerator/denominator (0.85) and its complement (0.15). */
  val DampNum = 85L
  val BaseNum = 15L

  /** PageRank iterations — unrolled identically in the DuckDB twin. */
  val Iterations = 3

  /** (src, dst, w): directed trade edges, self-loops excluded. */
  private[graft] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Weighted PageRank over the trade network, [[Iterations]] fixed-point
    * rounds from a uniform start. Dangling mass (nations with no exports)
    * is allowed to leak — the conventional simplification, identical in the
    * twin; nations with no imports still receive the base (1−d) mass via
    * the LEFT join.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeEdges(spark, dir)
    val outw = edges.groupBy($"src".as("o_src")).agg(sum($"w").as("ow"))
    val ew = edges.join(outw, $"src" === $"o_src")
      .select($"src", $"dst", $"w", $"ow")
    val nodes = Tables.nation(spark, dir)
      .select($"n_nationkey".as("v"), $"n_name")
    var ranks = nodes.select($"v", lit(Scale).as("r"))
    for (_ <- 1 to Iterations) {
      val contrib = ew.join(ranks, $"src" === $"v")
        .select($"dst", expr("(r * w) div ow").as("c"))
        .groupBy($"dst").agg(sum($"c").as("cin"))
      ranks = nodes.select($"v")
        .join(contrib, $"v" === $"dst", "left")
        .select($"v",
          (lit(BaseNum * Scale / 100L)
            + expr(s"($DampNum * coalesce(cin, 0L)) div 100")).as("r"))
    }
    nodes.join(ranks, Seq("v"))
      .select($"n_name", $"r".as("rank_scaled"),
        ($"r".cast("double") / lit(Scale.toDouble)).as("pagerank"))
      .orderBy($"rank_scaled".desc, $"n_name")
  }

  /** Minimum shared-order count for a supplier co-occurrence edge. Fixed
    * across SFs: sf0.001's 10-supplier graph stays complete (the spec pins
    * its C(10,3)=120 triangles), sf0.01's is the interesting varied case,
    * and at sf0.1 average co-occurrence drops ~10× so the graph thins out —
    * the timed cost there is the pair-building fact self-join, which is the
    * part that matters at scale anyway.
    */
  val CoThreshold = 20

  /** Undirected supplier co-occurrence edges: (u < v, shared-order count ≥
    * [[CoThreshold]]). The (order, supplier) projection dedups BEFORE the
    * self-join so multi-lineitem orders don't inflate pair weights, and the
    * self-join is an equi-join on orderkey (never a product). Materialized
    * once per (application, corpus): both consumers ([[triangles]]'s wedge
    * join, [[kcore]]'s peel) reference the edge relation three times, and
    * without materialization each reference re-runs the fact self-join —
    * the same write-once edge-table shape a 100 TB graph pass uses.
    */
  private[graft] def coEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-co-edges", dir) {
      import spark.implicits._
      val os = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_suppkey").distinct()
      os.as("a").join(os.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey"
            && $"a.l_suppkey" < $"b.l_suppkey")
        .groupBy($"a.l_suppkey".as("u"), $"b.l_suppkey".as("v"))
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= CoThreshold)
        .select($"u", $"v")
    }

  /** Per-supplier triangle participation counts over the co-occurrence
    * graph, by DEGREE-ORDERED wedge counting (the scalable formulation):
    * orient every edge from its lower-(degree, id) endpoint to the higher,
    * join oriented edges on a shared source to enumerate wedges, and close
    * each wedge against the oriented edge set — so each triangle is found
    * exactly once from its lowest-order corner, and the wedge fan-out is
    * bounded by the graph degeneracy (max out-degree), not the max degree.
    * Hub nodes never expand their full neighborhood — THE property that
    * keeps this plan alive on a power-law graph at 100 TB.
    *
    * The DuckDB twin counts triangles naively by id-order (u<v<w, three
    * joins) — the hash-compare proves the degree-ordered plan counts the
    * same triangles.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coEdges(spark, dir)
    val deg = edges.select($"u".as("n"))
      .union(edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // total order on nodes: degree first, id tiebreak, packed into one key
    // (supplier keys stay far below the 1e6 packing base)
    val okey = (d: Column, n: Column) => d * lit(1000000L) + n
    val withDeg = edges
      .join(deg.select($"n".as("un"), $"d".as("ud")), $"u" === $"un")
      .join(deg.select($"n".as("vn"), $"d".as("vd")), $"v" === $"vn")
    val oriented = withDeg.select(
      when(okey($"ud", $"u") < okey($"vd", $"v"), $"u").otherwise($"v").as("a"),
      when(okey($"ud", $"u") < okey($"vd", $"v"), $"v").otherwise($"u").as("b"),
      greatest(okey($"ud", $"u"), okey($"vd", $"v")).as("kb"))
    val tri = oriented.as("x")
      .join(oriented.as("y"),
        $"x.a" === $"y.a" && $"x.kb" < $"y.kb")
      .join(oriented.as("z"),
        $"z.a" === $"x.b" && $"z.b" === $"y.b", "left_semi")
      .select($"x.a".as("ta"), $"x.b".as("tb"), $"y.b".as("tc"))
    tri.select($"ta".as("s_suppkey"))
      .union(tri.select($"tb".as("s_suppkey")))
      .union(tri.select($"tc".as("s_suppkey")))
      .groupBy($"s_suppkey")
      .agg(count(lit(1)).as("triangles"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey".as("sk"), $"s_name")), $"s_suppkey" === $"sk")
      .select($"s_suppkey", $"s_name", $"triangles")
      .orderBy($"triangles".desc, $"s_suppkey")
  }

  /** BFS seed nation and relaxation rounds (graph diameter here is small;
    * the round count is the hop horizon, unrolled identically in the twin).
    */
  val BfsSeed = 0
  val BfsRounds = 3

  /** Single-source BFS hop distances over the directed trade network — the
    * third iterative-graph class beside PageRank (value propagation) and
    * connected components (label propagation): frontier expansion with
    * min-distance relaxation. Unreachable nations within [[BfsRounds]] hops
    * are excluded (their distance is still unknown, not infinite).
    *
    * Scale shape: each round is one equi-join (edges ⋈ current distances on
    * src) plus a min-aggregate on dst — the same one-shuffle-per-round loop
    * as [[graft.dedup.DupClusters]]; nothing ever collects to the driver.
    * On a billion-edge graph the win over the naive "shortest path by
    * repeated self-join" is that the state table carries ONE row per
    * vertex, not one row per path.
    */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = tradeEdges(spark, dir).select($"src", $"dst").distinct()
    val nodes = Tables.nation(spark, dir)
      .select($"n_nationkey".as("v"), $"n_name")
    var dist = nodes.select($"v",
      when($"v" === BfsSeed, lit(0)).otherwise(lit(null).cast("int")).as("d"))
    for (_ <- 1 to BfsRounds) {
      val relaxed = edges
        .join(dist.filter($"d".isNotNull).select($"v".as("sv"), $"d"),
          $"src" === $"sv")
        .groupBy($"dst").agg(min($"d" + 1).as("nd"))
      dist = dist.join(relaxed, dist("v") === relaxed("dst"), "left")
        // explicit null-CASE rather than least(): Spark's least() skips
        // NULLs but that behavior is not mirrored verbatim in the twin
        .select(dist("v"),
          when($"d".isNull, $"nd").when($"nd".isNull, $"d")
            .otherwise(least($"d", $"nd")).as("d"))
    }
    nodes.join(dist, Seq("v"))
      .filter($"d".isNotNull)
      .select($"n_name", $"d".as("hops"))
      .orderBy($"hops", $"n_name")
  }

  /** k-core order and peeling rounds — one definition, both engines. The
    * round count is FIXED (not run-to-fixpoint) so the Spark loop and the
    * unrolled DuckDB CTE chain compute the identical relation;
    * TimeSeriesGraphSpec asserts one extra round changes nothing at test
    * scale, which proves the fixed unrolling reached the true k-core.
    */
  val KcoreK = 3
  val KcoreRounds = 4

  /** [[KcoreK]]-core of the supplier co-occurrence graph: iteratively peel
    * every node with degree < k until only the mutually-k-connected core
    * remains — the standard dense-substructure report (collusive supplier
    * rings, community nuclei) between cheap degree counts and expensive
    * triangle counting. Each round is one degree aggregate + two semi-join
    * filters on the surviving node set — a shuffle per round, nothing
    * quadratic, and hub degrees only shrink, so the plan survives
    * power-law graphs at scale (degeneracy-bounded like [[triangles]]).
    * Emits surviving suppliers with their within-core degree.
    */
  def kcore(spark: SparkSession, dir: String,
      rounds: Int = KcoreRounds): DataFrame = {
    import spark.implicits._
    // Each round references the previous round THREE times (degree count +
    // two endpoint filters); left as lazy lineage Catalyst re-derives the
    // whole chain per reference — 3^rounds recomputations of the base
    // self-join (measured 9.5 s at sf0.1 for an EMPTY graph). Every round
    // is reused: the same recompute cut as the earlier per-round parquet
    // round-trip without its 2·rounds write/read jobs (r13: 1.5 s → 0.9 s
    // warm). PageRank/BFS reference their state once per round and don't
    // need this.
    val e0 = coEdges(spark, dir)
    var edges = Scratch.reuse(e0.select($"u".as("a"), $"v".as("b"))
      .unionByName(e0.select($"v".as("a"), $"u".as("b"))))
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy($"a").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= KcoreK).select($"a")
      edges = Scratch.reuse(edges
        .join(keep, "a")
        .join(keep.select($"a".as("b")), "b")
        .select($"a", $"b"))
    }
    edges.groupBy($"a".as("s_suppkey"))
      .agg(count(lit(1)).as("core_degree"))
      .join(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_name"), "s_suppkey")
      .select($"s_suppkey", $"s_name", $"core_degree")
      .orderBy($"s_suppkey")
  }

  /** Predicted links reported. One value, both engines. */
  val LinkTopK = 20

  /** Link prediction by common-neighbor counting (Liben-Nowell & Kleinberg,
    * public literature) over the supplier co-occurrence graph: for every
    * NON-adjacent pair reachable through a shared neighbor, the number of
    * common neighbors and the neighbor-set Jaccard — the "suppliers that
    * should be co-ordering but aren't" recommendation.
    *
    * Plan: wedges enumerate from the symmetric adjacency with an id-ordered
    * endpoint guard (each candidate once), close with an anti-join against
    * the edge set, score from the degree table. Wedge fan-out is Σdeg² over
    * the THRESHOLDED co-occurrence graph; the production form additionally
    * degree-caps hub intermediates exactly like [[triangles]]' orientation
    * bounds its wedge side (documented trade, kept exact here where the
    * graph is supplier-sized).
    */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coEdges(spark, dir)
    val adj = edges.select($"u".as("n"), $"v".as("m"))
      .union(edges.select($"v".as("n"), $"u".as("m")))
    val deg = adj.groupBy($"n").agg(count(lit(1)).as("d"))
    val cands = adj.as("x").join(adj.as("y"),
        $"x.m" === $"y.m" && $"x.n" < $"y.n")
      .groupBy($"x.n".as("cu"), $"y.n".as("cv"))
      .agg(count(lit(1)).as("common_neighbors"))
      .join(edges, $"cu" === $"u" && $"cv" === $"v", "left_anti")
    cands
      .join(deg.select($"n".as("du_n"), $"d".as("deg_u")), $"cu" === $"du_n")
      .join(deg.select($"n".as("dv_n"), $"d".as("deg_v")), $"cv" === $"dv_n")
      .select($"cu".as("u"), $"cv".as("v"),
        $"common_neighbors", $"deg_u", $"deg_v",
        graft.functions.GraftFunctions.round2(
          $"common_neighbors" * lit(100.0)
            / ($"deg_u" + $"deg_v" - $"common_neighbors"))
          .as("jaccard_pct"))
      .orderBy($"common_neighbors".desc, $"u", $"v")
      .limit(LinkTopK)
  }

  /** Degree assortativity (Newman 2002, public literature) of the supplier
    * co-occurrence graph — one number answering "do hubs connect to hubs?"
    * (positive: social-style core; negative: hub-and-spoke), which decides
    * whether degree-based partitioning strategies will balance. For an
    * UNDIRECTED graph the Pearson correlation over edge-endpoint degrees
    * has Sx=Sy and Sxx=Syy, so r collapses to
    * `(n·Sxy − Sx²) / (n·Sxx − Sx²)` — every term an exact BIGINT sum and
    * the whole statistic ONE final division, sidestepping the
    * sqrt(A)·sqrt(A)≠A float hazard entirely. (At degrees beyond ~10⁶ the
    * sums move to DECIMAL(38,0), same shape.) One degree join + a 1-row
    * aggregate.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coEdges(spark, dir)
    val adj = edges.select($"u".as("a"), $"v".as("b"))
      .union(edges.select($"v".as("a"), $"u".as("b")))
    val deg = adj.groupBy($"a".as("n")).agg(count(lit(1)).as("d"))
    val pairs = adj
      .join(deg.select($"n".as("an"), $"d".as("da")), $"a" === $"an")
      .join(deg.select($"n".as("bn"), $"d".as("db")), $"b" === $"bn")
    pairs.agg(
        count(lit(1)).as("n"),
        sum($"da" * $"db").as("sxy"),
        sum($"da").as("sx"),
        sum($"da" * $"da").as("sxx"),
        countDistinct($"a").as("n_nodes"))
      .select(
        ($"n" / 2).cast("bigint").as("n_edges"),
        $"n_nodes",
        (($"n" * $"sxy" - $"sx" * $"sx") * lit(1.0)
          / ($"n" * $"sxx" - $"sx" * $"sx")).as("assortativity"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_assortativity" -> (assortativity _),
    "graph_link_prediction" -> (linkPrediction _),
    "graph_pagerank" -> (pagerank _),
    "graph_triangles" -> (triangles _),
    "graph_kcore" -> ((s: SparkSession, d: String) => kcore(s, d)),
    "graph_bfs_hops" -> (bfsHops _))

  private[graft] val edgesSql: String = """SELECT c_nationkey AS src,
         s_nationkey AS dst, count(*)::BIGINT AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
  GROUP BY 1, 2"""

  /** One unrolled iteration: ranks `prev(v, r)` → next ranks. */
  private def iterSql(prev: String): String = s"""SELECT n.v,
         (${BaseNum * Scale / 100L} + ($DampNum * coalesce(s.cin, 0)) // 100)
           ::BIGINT AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS v, sum((p.r * e.w) // e.ow)::BIGINT AS cin
    FROM ew e JOIN $prev p ON e.src = p.v
    GROUP BY 1) s ON n.v = s.v"""

  /** One unrolled k-core peel: keep edges whose BOTH endpoints still have
    * degree ≥ k in `prev`.
    */
  private def kcoreIterSql(prev: String): String = s"""SELECT a, b FROM $prev
  WHERE a IN (SELECT a FROM $prev GROUP BY a HAVING count(*) >= $KcoreK)
    AND b IN (SELECT a FROM $prev GROUP BY a HAVING count(*) >= $KcoreK)"""

  /** One unrolled BFS relaxation: distances `prev(v, d)` → next. */
  private def bfsIterSql(prev: String): String = s"""SELECT n.v,
         CASE WHEN n.d IS NULL THEN r.nd
              WHEN r.nd IS NULL THEN n.d
              ELSE least(n.d, r.nd) END AS d
  FROM $prev n LEFT JOIN (
    SELECT e.dst AS v, min(p.d + 1) AS nd
    FROM bedges e JOIN $prev p ON e.src = p.v
    WHERE p.d IS NOT NULL
    GROUP BY 1) r ON n.v = r.v"""

  val oracle: Map[String, String] = Map(
    "graph_kcore" -> s"""WITH os AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
ce AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM os a JOIN os b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  HAVING count(*) >= $CoThreshold),
k0 AS (SELECT u AS a, v AS b FROM ce UNION ALL SELECT v, u FROM ce),
k1 AS (${kcoreIterSql("k0")}),
k2 AS (${kcoreIterSql("k1")}),
k3 AS (${kcoreIterSql("k2")}),
k4 AS (${kcoreIterSql("k3")})
SELECT k.a AS s_suppkey, s.s_name, count(*)::BIGINT AS core_degree
FROM k4 k JOIN supplier s ON k.a = s.s_suppkey
GROUP BY 1, 2
ORDER BY s_suppkey""",

    "graph_bfs_hops" -> s"""WITH bedges AS (
  SELECT DISTINCT src, dst FROM ($edgesSql)),
nodes AS (SELECT n_nationkey AS v, n_name FROM nation),
bd0 AS (
  SELECT v, CASE WHEN v = $BfsSeed THEN 0 END AS d FROM nodes),
bd1 AS (${bfsIterSql("bd0")}),
bd2 AS (${bfsIterSql("bd1")}),
bd3 AS (${bfsIterSql("bd2")})
SELECT n_name, d AS hops
FROM bd3 JOIN nodes USING (v)
WHERE d IS NOT NULL
ORDER BY hops, n_name""",
    "graph_assortativity" -> s"""WITH os AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
edges AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM os a JOIN os b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  HAVING count(*) >= $CoThreshold),
adj AS (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT a AS n, count(*)::BIGINT AS d FROM adj GROUP BY a),
pairs AS (
  SELECT adj.a, da.d AS da, db.d AS db
  FROM adj JOIN deg da ON adj.a = da.n JOIN deg db ON adj.b = db.n),
s AS (
  SELECT count(*)::BIGINT AS n,
         sum(da * db)::BIGINT AS sxy,
         sum(da)::BIGINT AS sx,
         sum(da * da)::BIGINT AS sxx,
         count(DISTINCT a)::BIGINT AS n_nodes
  FROM pairs)
SELECT (n // 2)::BIGINT AS n_edges, n_nodes,
       (n * sxy - sx * sx) * 1.0 / (n * sxx - sx * sx) AS assortativity
FROM s""",

    "graph_link_prediction" -> s"""WITH os AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
edges AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM os a JOIN os b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  HAVING count(*) >= $CoThreshold),
adj AS (
  SELECT u AS n, v AS m FROM edges
  UNION ALL
  SELECT v, u FROM edges),
deg AS (SELECT n, count(*)::BIGINT AS d FROM adj GROUP BY n),
cands AS (
  SELECT x.n AS u, y.n AS v, count(*)::BIGINT AS common_neighbors
  FROM adj x JOIN adj y ON x.m = y.m AND x.n < y.n
  GROUP BY 1, 2),
nonedges AS (
  SELECT c.* FROM cands c
  ANTI JOIN edges e ON c.u = e.u AND c.v = e.v)
SELECT ne.u, ne.v, ne.common_neighbors,
       du.d AS deg_u, dv.d AS deg_v,
       floor((ne.common_neighbors * 100.0
              / (du.d + dv.d - ne.common_neighbors)) * 100 + 0.5) / 100.0
         AS jaccard_pct
FROM nonedges ne
JOIN deg du ON ne.u = du.n
JOIN deg dv ON ne.v = dv.n
ORDER BY ne.common_neighbors DESC, ne.u, ne.v
LIMIT $LinkTopK""",

    "graph_triangles" -> s"""WITH os AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
edges AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v
  FROM os a JOIN os b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
  HAVING count(*) >= $CoThreshold),
tri AS (
  SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
members AS (
  SELECT ta AS s_suppkey FROM tri
  UNION ALL SELECT tb FROM tri
  UNION ALL SELECT tc FROM tri)
SELECT m.s_suppkey, s.s_name, count(*)::BIGINT AS triangles
FROM members m JOIN supplier s ON m.s_suppkey = s.s_suppkey
GROUP BY 1, 2
ORDER BY triangles DESC, m.s_suppkey""",

    "graph_pagerank" -> s"""WITH edges AS (
  $edgesSql),
ew AS (
  SELECT src, dst, w, sum(w) OVER (PARTITION BY src)::BIGINT AS ow
  FROM edges),
nodes AS (SELECT n_nationkey AS v, n_name FROM nation),
r0 AS (SELECT v, ${Scale}::BIGINT AS r FROM nodes),
r1 AS (${iterSql("r0")}),
r2 AS (${iterSql("r1")}),
r3 AS (${iterSql("r2")})
SELECT n_name, r AS rank_scaled, r::DOUBLE / CAST($Scale AS DOUBLE) AS pagerank
FROM r3 JOIN nodes USING (v)
ORDER BY rank_scaled DESC, n_name""")
}

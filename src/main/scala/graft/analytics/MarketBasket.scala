package graft.analytics

import graft.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Market-basket association rules over order baskets — the classic
  * support / confidence / lift report one level above
  * [[graft.analytics.Queries.q09DiagnosisCooccurrence]]'s raw pair counts:
  * q09 says brands A,B co-occur n times; the rule form says whether that is
  * MORE than their popularity predicts (lift > 1) and how reliably A
  * implies B (confidence) — the numbers a recommender or bundling decision
  * actually consumes.
  *
  * Item = part brand (the reference's diagnosis-code-family analog);
  * basket = order. Directed rules A→B and B→A both emit (confidence is
  * asymmetric). Determinism: support/confidence/lift are each ONE division
  * of exact BIGINT counts — lift's numerator n_ab·N and denominator
  * n_a·n_b are computed in int64 first (≤ baskets² — overflow-safe to
  * ~3·10⁹ baskets; beyond that scale the counts first drop to per-shard
  * rationals) so the statistic is a single IEEE division, hash-stable.
  *
  * Scale: basket→item projection dedups map-side; the pair join is the
  * q09 theta self-join (equi on basket, `<` for the triangle) — item
  * vocabularies are small so pair cells are bounded; everything after is
  * vocabulary-sized. MinSupport prunes the rule table BEFORE the join
  * against item totals.
  */
object MarketBasket {

  /** Minimum basket count for a pair to become a rule. */
  val MinSupport = 50L

  /** Rules reported (deterministic order: lift desc, rule asc). */
  val TopRules = 30

  def rules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // reused: items feeds FOUR consumers (n_baskets, item totals, both
    // sides of the pair self-join) and each re-derivation re-ran the
    // lineitem⋈part join + distinct — 3 corpus scans where one suffices
    // (r13 profile: 1.84M scan rows → 620k); at scale this is the "decide
    // on small rows" intermediate you would land anyway.
    // basket-key partitioning established ONCE before the distinct (§2.4):
    // hash(basket) satisfies the (basket, item) dedup's clustering, both
    // sides of the pair self-join (the reused rows keep the partitioning),
    // and the n_baskets distinct — one exchange where the planner
    // otherwise inserted three over the same 620k-row table
    val items = Scratch.reuse(Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("basket"), $"p_brand".as("item"))
      .repartition($"basket")
      .distinct())
    val nBaskets = items.select($"basket").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemCounts = items.groupBy($"item").agg(count(lit(1)).as("n_item"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.basket") === col("b.basket")
          && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("x"), col("b.item").as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .filter($"n_xy" >= MinSupport)
    // both rule directions from each unordered pair
    val directed = pairs.select($"x".as("lhs"), $"y".as("rhs"), $"n_xy")
      .unionByName(pairs.select($"y".as("lhs"), $"x".as("rhs"), $"n_xy"))
    directed
      .join(broadcast(itemCounts.select($"item".as("lhs"),
        $"n_item".as("n_lhs"))), "lhs")
      .join(broadcast(itemCounts.select($"item".as("rhs"),
        $"n_item".as("n_rhs"))), "rhs")
      .crossJoin(broadcast(nBaskets))
      .select($"lhs", $"rhs", $"n_xy", $"n_lhs", $"n_rhs",
        ($"n_xy" * lit(1.0) / $"n_baskets").as("support"),
        ($"n_xy" * lit(1.0) / $"n_lhs").as("confidence"),
        (($"n_xy" * $"n_baskets") * lit(1.0) / ($"n_lhs" * $"n_rhs"))
          .as("lift"))
      .orderBy($"lift".desc, $"lhs", $"rhs")
      .limit(TopRules)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_market_basket" -> (rules _))

  val oracle: Map[String, String] = Map(
    "agg_market_basket" -> s"""WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey),
n AS (SELECT count(DISTINCT basket)::BIGINT AS n_baskets FROM items),
item_counts AS (SELECT item, count(*)::BIGINT AS n_item FROM items GROUP BY 1),
pairs AS (
  SELECT a.item AS x, b.item AS y, count(*)::BIGINT AS n_xy
  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
directed AS (
  SELECT x AS lhs, y AS rhs, n_xy FROM pairs
  UNION ALL
  SELECT y, x, n_xy FROM pairs)
SELECT lhs, rhs, n_xy, l.n_item AS n_lhs, r.n_item AS n_rhs,
       n_xy * 1.0 / n_baskets AS support,
       n_xy * 1.0 / l.n_item AS confidence,
       (n_xy * n_baskets) * 1.0 / (l.n_item * r.n_item) AS lift
FROM directed d
JOIN item_counts l ON d.lhs = l.item
JOIN item_counts r ON d.rhs = r.item
CROSS JOIN n
ORDER BY lift DESC, lhs, rhs LIMIT $TopRules""")
}

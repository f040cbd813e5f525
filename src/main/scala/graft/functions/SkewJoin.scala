package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * A shuffle join sends every row of one key to one reducer; a hot key
  * (the null facility, the default diagnosis code, the empty-string label)
  * serializes the whole stage. Salting splits each left-side key into
  * `saltFactor` sub-keys (deterministic hash of a row-unique column — no
  * `rand()`, which breaks retry/replay determinism) and replicates the
  * right side once per salt, restoring parallelism at the cost of a
  * `saltFactor`× blow-up of the (small) right side.
  *
  * AQE's skew-join handling covers sort-merge joins automatically; explicit
  * salting remains the tool when the right side must stay a shuffle join
  * (too big to broadcast) and the skew is known — e.g. the staging feed's
  * null-date key in the reference's incremental ordering.
  */
object SkewJoin {

  /** Join `left` and `right` on `key`, salting `left` by a hash of
    * `leftUniqueCol`. Semantics identical to `left.join(right, key)` for an
    * inner equi-join where `right`'s key is unique or duplicated — every
    * (leftRow, rightRow) key match survives exactly once.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, key: String,
      leftUniqueCol: String, saltFactor: Int = 8): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(col(leftUniqueCol)), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(expr(s"sequence(0, ${saltFactor - 1})")))
    salted.join(replicated, Seq(key, "__salt"), "inner").drop("__salt")
  }

  /** Checked operator form: events ⋈ a 5-row type dimension on
    * `event_type` — a maximally skewed key (5 values over the whole feed) —
    * forced down the salted SHUFFLE path (`shuffle_hash` hint denies the
    * broadcast that would otherwise sidestep the skew problem being
    * demonstrated). The output is salting-invariant, identical to the plain
    * inner join, so the DuckDB oracle checks the equivalence contract
    * directly; the salt hash never leaves the plan.
    */
  def skewedTypeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("view", 0.5), ("signup", 5.0),
      ("purchase", 10.0), ("error", 0.0)).toDF("event_type", "type_weight")
      .hint("shuffle_hash")
    saltedInnerJoin(graft.Tables.events(spark, dir), dim, "event_type", "event_id")
      .select($"event_id", $"event_type", $"type_weight",
        ($"value" * $"type_weight").as("weighted_value"))
      .orderBy($"event_id")
  }

  /** Selective-order price cut — ONE definition interpolated into the Spark
    * filter and the oracle SQL.
    */
  val PriceCut = 450000.0

  /** Runtime bloom-filter join pruning — the 100 TB mechanism for "big fact
    * ⋈ selectively-filtered dimension" when the dimension is too large to
    * broadcast: Catalyst's `InjectRuntimeFilter` builds a Bloom filter from
    * the filtered creation side and pushes `might_contain` into the fact
    * scan, so non-matching fact rows die map-side BEFORE paying the shuffle.
    * Spark only arms this path for genuinely big inputs, so the thresholds
    * are lowered on a CHILD session (config changes cannot leak into the
    * rest of the suite) to demonstrate the exact plan a cluster run gets:
    * broadcast denied (the at-scale premise), application-side scan floor 0.
    *
    * Correctness is config-independent — the bloom filter only prunes and
    * the exact join keeps semantics — so the oracle is the plain join. The
    * plan gate (PlanSpec) asserts `bloom_filter_might_contain` really is in
    * the fact-side plan.
    */
  def bloomPrunedJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = graft.plans.ChildSession(spark0,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // the at-scale premise: orders doesn't fit a broadcast
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // arm injection at test scale (defaults gate on 10 GB scans)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    import spark.implicits._
    val highValue = graft.Tables.orders(spark, dir)
      .filter($"o_totalprice" > PriceCut)
    graft.Tables.lineitem(spark, dir)
      .join(highValue, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct($"o_orderkey").as("n_orders"))
      .orderBy($"l_returnflag")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_skew_salted" -> (skewedTypeJoin _),
    "join_bloom_prune" -> (bloomPrunedJoin _))

  val oracle: Map[String, String] = Map(
    "join_skew_salted" -> """SELECT event_id, event_type,
       type_weight::DOUBLE AS type_weight,
       (value * type_weight::DOUBLE) AS weighted_value
FROM events
JOIN (VALUES ('click', 1.0), ('view', 0.5), ('signup', 5.0),
             ('purchase', 10.0), ('error', 0.0))
  AS dim(event_type, type_weight) USING (event_type)
ORDER BY event_id""",

    "join_bloom_prune" -> s"""SELECT l_returnflag,
       count(*)::BIGINT AS n_lines,
       count(DISTINCT o_orderkey)::BIGINT AS n_orders
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice > $PriceCut
GROUP BY l_returnflag
ORDER BY l_returnflag""")
}

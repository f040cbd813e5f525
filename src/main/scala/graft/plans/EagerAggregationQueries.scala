package graft.plans

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing proof queries for [[EagerAggregation]] — two fixtures
  * (one per side of the gate's break-even) × the arms the bench ledger
  * prices.
  *
  * LOW-COLLAPSE fixture: `lineitem` (fact, ~4 rows per order) inner-joined
  * to a per-order priority dim that is TOO BIG TO BROADCAST — the 100 TB
  * star, where the join itself must shuffle the fact. Both twins run with
  * the broadcast threshold off so they price the same sort-merge join; the
  * rewrite shrinks the fact exchange from one row per line item to one row
  * per order. Measured at sf0.1: shuffle bytes HALVE (4.2 MB from 8.1 MB)
  * but wall REGRESSES — the leaf hash-aggregate over 600k rows into 150k
  * keys costs more than the in-memory shuffle it saves. That is exactly a
  * 4:1 collapse, and why the gate's [[CollapseGate.MaxRatio]]
  * (0.1) DECLINES here: the `opt_eager_agg_gated` arm must plan identical
  * to `opt_eager_agg_base`. The byte term still turns into network + spill
  * on a cluster, where a looser ratio could pay; the ledger states the
  * trade at the only scale it can run.
  *
  * HIGH-COLLAPSE fixture: the same lineitem joined to the SUPPLIER dim —
  * the leaf grain is `l_suppkey` (~600 line items per supplier at sf0.1, a
  * 600:1 collapse). The rewrite cuts shuffle bytes 126× (5.5 MB → 44 KB,
  * measured sf0.1) — the axis that turns into network and spill on a
  * cluster — and the r11 idle-box ledger measured it wall-POSITIVE too
  * (forced 0.70s vs off 0.84s). That measurement is why the gate's floor
  * is calibrated in saved BYTES ([[EagerAggregation.MinSavedBytesKey]],
  * 4 MiB — the r11 2M-ROW floor declined this very fixture): at sf0.1 the
  * high fixture saves ~9.6 MB of fact exchange and FIRES, so
  * `opt_eager_agg_hc` must plan — and win — like its `_forced` twin, while
  * the low fixture still declines on ratio and plans stock.
  *
  * Arms (`opt_eager_agg*` = low fixture, `*_hc*` = high):
  *  - `*_gated` / `opt_eager_agg_hc` — rule ON, gate at defaults: the rule
  *    DECIDES (declines the low fixture on ratio; fires the high one on
  *    a ~9.6 MB saved exchange). What a user gets by enabling.
  *  - `opt_eager_agg` / `opt_eager_agg_hc_forced` — rule ON, gate OFF
  *    (`probeRows=0`): the forced arms; EagerAggSpec gates the
  *    Aggregate-below-Join shape here deterministically at any scale, and
  *    the bench ledger prices the rewrite's byte/wall trade on both
  *    fixtures.
  *  - `*_base` — rule OFF: the stock plan.
  *
  * The dim side is `dropDuplicates(key)` — the structural uniqueness
  * evidence the rule requires (keys are unique in the data, so the dedup
  * is a no-op on ROWS, but a bare scan carries no such proof and would not
  * qualify). The DuckDB oracles join the raw tables for the same reason.
  * Money rides exact integer cents; every arm of a fixture shares one
  * oracle — identical results, different plans.
  */
object EagerAggregationQueries {

  private def pipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority")
      .dropDuplicates("o_orderkey")
    Tables.lineitem(spark, dir)
      .select($"l_orderkey",
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(dim, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"cents").as("gross_cents"),
        max($"cents").as("max_cents"),
        // avg rides the AvgMerge two-partial path: the leaf stores
        // Sum(cents)+Count(cents), the top divides the re-sums — exact
        // BIGINT totals, so the DOUBLE division is bit-identical to the
        // direct aggregate (and to the oracle's sum::DOUBLE / count)
        avg($"cents").as("avg_cents"))
      .orderBy($"o_orderpriority")
  }

  /** High-collapse fixture: supplier-grain leaf, ~600:1 at sf0.1. */
  private def pipelineHc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.supplier(spark, dir)
      .select($"s_suppkey", $"s_nationkey")
      .dropDuplicates("s_suppkey")
    Tables.lineitem(spark, dir)
      .select($"l_suppkey",
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(dim, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum($"cents").as("gross_cents"),
        max($"cents").as("max_cents"),
        avg($"cents").as("avg_cents"))
      .orderBy($"s_nationkey")
  }

  /** Child session for every arm: broadcast denied (the dim is modeled as
    * cluster-scale). `gated = false` forces the rewrite by disabling the
    * cost gate (probeRows=0) — the deterministic plan-shape arm.
    */
  private def session(spark0: SparkSession, enabled: Boolean,
      gated: Boolean = false): SparkSession = {
    val spark = ChildSession(spark0,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        EagerAggregation.EnabledKey -> enabled.toString) ++
        (if (enabled && !gated) Seq(EagerAggregation.ProbeRowsKey -> "0")
        else Nil): _*)
    EagerAggregation.install(spark)
    spark
  }

  def eager(spark0: SparkSession, dir: String): DataFrame =
    pipeline(session(spark0, enabled = true), dir)

  def eagerGated(spark0: SparkSession, dir: String): DataFrame =
    pipeline(session(spark0, enabled = true, gated = true), dir)

  def baseline(spark0: SparkSession, dir: String): DataFrame =
    pipeline(session(spark0, enabled = false), dir)

  def eagerHc(spark0: SparkSession, dir: String): DataFrame =
    pipelineHc(session(spark0, enabled = true, gated = true), dir)

  def eagerHcForced(spark0: SparkSession, dir: String): DataFrame =
    pipelineHc(session(spark0, enabled = true), dir)

  def baselineHc(spark0: SparkSession, dir: String): DataFrame =
    pipelineHc(session(spark0, enabled = false), dir)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_eager_agg" -> (eager _),
    "opt_eager_agg_gated" -> (eagerGated _),
    "opt_eager_agg_base" -> (baseline _),
    "opt_eager_agg_hc" -> (eagerHc _),
    "opt_eager_agg_hc_forced" -> (eagerHcForced _),
    "opt_eager_agg_hc_base" -> (baselineHc _))

  private val sql =
    """SELECT o_orderpriority,
       count(*)::BIGINT AS n_items,
       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS gross_cents,
       max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS max_cents,
       (sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::DOUBLE
          / count(*)) AS avg_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY o_orderpriority"""

  private val sqlHc =
    """SELECT s_nationkey,
       count(*)::BIGINT AS n_items,
       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS gross_cents,
       max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS max_cents,
       (sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::DOUBLE
          / count(*)) AS avg_cents
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1
ORDER BY s_nationkey"""

  /** One oracle per fixture — every arm must hash-match it. */
  val oracle: Map[String, String] = Map(
    "opt_eager_agg" -> sql,
    "opt_eager_agg_gated" -> sql,
    "opt_eager_agg_base" -> sql,
    "opt_eager_agg_hc" -> sqlHc,
    "opt_eager_agg_hc_forced" -> sqlHc,
    "opt_eager_agg_hc_base" -> sqlHc)
}

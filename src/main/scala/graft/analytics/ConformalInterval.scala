package graft.analytics

import graft.{Scratch, Tables}
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split-conformal prediction interval (Vovk; Lei et al. 2018) — the
  * distribution-free uncertainty wrapper an ML serving layer puts around
  * ANY point model: fit on a train split, take the ⌈(n+1)(1−α)⌉-th
  * smallest absolute residual on a calibration split as the radius q̂,
  * and the interval pred ± q̂ covers ≥ 1−α of fresh points by a
  * finite-sample theorem that needs NO model assumptions. The audit here
  * wraps a deliberately crude model (per-priority integer mean) to make
  * the point: coverage comes from the calibration math, not model
  * quality.
  *
  * Determinism: the 3-way split is the md5 h32 gate (train/calib/test =
  * h%4 ∈ {0,1}/{2}/{3}); the model is integer (sum div n — non-negative,
  * so both engines' division agrees); residuals are integer dollars; q̂
  * is an EXACT order statistic by histogram counting (the repo's
  * quantile rule — never interpolation); coverage is an exact count
  * ratio.
  *
  * Scale: one keyed aggregate per split for the model, residual counting
  * on value domains, one running sum — nothing row-quadratic; the model
  * table broadcasts.
  */
object ConformalInterval {

  /** Miscoverage level α — the interval targets 1−α = 90%. */
  val AlphaPct = 10

  def conformalInterval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r14 (§5): every single-row statistic below (model, n_calib, q̂,
    // test, n_train) re-embedded its whole upstream into its broadcast
    // subtree — the stock plan scanned orders and recomputed the per-row
    // md5 fold 26 times. Reusing the fold-tagged projection (3 narrow
    // columns) and the two frames derived from it collapses that to ONE
    // orders scan; n_calib and n_train are read algebraically off the
    // residual histogram (Σc) and the model's group counts (Σn_g) instead
    // of re-counting the corpus slices.
    val rows = Scratch.reuse(Tables.orders(spark, dir)
      .select($"o_orderpriority".as("g"),
        floor($"o_totalprice").cast("long").as("x"),
        (Md5Hash.h32(concat(lit("cp:"), $"o_orderkey".cast("string")))
          % 4).as("fold")))
    val model = Scratch.reuse(rows.filter($"fold" <= 1)
      .groupBy($"g").agg(expr("sum(x) div count(1)").as("pred"),
        count(lit(1)).as("n_g")))
    val preds = model.select($"g", $"pred")
    // q̂ = k-th smallest residual, k = ceil((n+1)·(1−α)) — exact order
    // statistic by counting over the residual histogram
    val hist = Scratch.reuse(rows.filter($"fold" === 2)
      .join(broadcast(preds), "g")
      .select(abs($"x" - $"pred").as("r"))
      .groupBy($"r").agg(count(lit(1)).as("c")))
    val nCalib = hist.agg(sum($"c").as("n_calib"))
    val qhat = hist
      .withColumn("cum", sum($"c").over(Window.orderBy($"r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(nCalib))
      .filter($"cum" * 100 >= ($"n_calib" + 1) * (100 - AlphaPct))
      .agg(min($"r").as("qhat"))
    val test = rows.filter($"fold" === 3)
      .join(broadcast(preds), "g")
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum((abs($"x" - $"pred") <= $"qhat").cast("long")).as("n_covered"))
    model.agg(sum($"n_g").as("n_train"))
      .crossJoin(broadcast(nCalib))
      .crossJoin(broadcast(qhat))
      .crossJoin(broadcast(test))
      .select($"n_train", $"n_calib", $"qhat", $"n_test", $"n_covered",
        ($"n_covered".cast("double") / $"n_test").as("coverage"),
        lit((100 - AlphaPct) / 100.0).as("target"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_conformal_interval" -> (conformalInterval _))

  val oracle: Map[String, String] = Map(
    "agg_conformal_interval" -> s"""WITH rows_ AS (
  SELECT o_orderpriority AS g, floor(o_totalprice)::BIGINT AS x,
         ${Md5Hash.h32Sql("'cp:' || o_orderkey::VARCHAR")} % 4 AS fold
  FROM orders),
model AS (
  SELECT g, sum(x) // count(*) AS pred
  FROM rows_ WHERE fold <= 1 GROUP BY g),
calib AS (
  SELECT abs(r.x - m.pred)::BIGINT AS res
  FROM rows_ r JOIN model m USING (g) WHERE r.fold = 2),
n_calib AS (SELECT count(*)::BIGINT AS n_calib FROM calib),
qhat AS (
  SELECT min(res)::BIGINT AS qhat
  FROM (SELECT res,
               sum(count(*)) OVER (ORDER BY res
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM calib GROUP BY res) c
  CROSS JOIN n_calib
  WHERE cum * 100 >= (n_calib + 1) * ${100 - AlphaPct}),
test AS (
  SELECT count(*)::BIGINT AS n_test,
         sum((abs(r.x - m.pred) <= q.qhat)::INT)::BIGINT AS n_covered
  FROM rows_ r JOIN model m USING (g) CROSS JOIN qhat q
  WHERE r.fold = 3)
SELECT (SELECT count(*) FROM rows_ WHERE fold <= 1)::BIGINT AS n_train,
       n_calib.n_calib, qhat.qhat, test.n_test, test.n_covered,
       test.n_covered::DOUBLE / test.n_test AS coverage,
       ${(100 - AlphaPct) / 100.0} AS target
FROM n_calib CROSS JOIN qhat CROSS JOIN test""")
}

package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Top principal component of the embedding corpus by EXACT integer power
  * iteration — the anisotropy audit (Ethayarajh 2019; Mu & Viswanath
  * 2018's "all-but-the-top" postprocessing starts exactly here): a
  * dominant direction with a high explained-variance share means cosine
  * similarities are inflated by a common component and the ANN index's
  * contrast is degraded.
  *
  * Everything until the final normalization is integer-exact, which is
  * what makes a 4-round iterative eigensolver hash-comparable across
  * engines:
  *  - embeddings quantize to x̂ = floor(1024·x + 0.5) + 2048 (the shift
  *    keeps every sum non-negative, so DuckDB's floor-divide `//` and
  *    Spark's truncating `div` agree on the integer mean);
  *  - centering subtracts the integer mean μ̂ = S div n (≤ 1/1024 residual,
  *    deterministic);
  *  - each iteration applies M = Σᵢ dᵢdᵢᵀ to v̂ in ONE corpus aggregate of
  *    64 BIGINT sums (dot·d_e per dimension) — map-side combined,
  *    order-independent, |s_e| ≤ 2^41·n (int64-exact to n ≈ 4·10⁶;
  *    beyond that the same sums ride DECIMAL — documented envelope);
  *  - v̂ re-quantizes to ~2^10 scale via floor(x+0.5) of a double whose
  *    every input is an exact integer (int64→double is the blessed
  *    conversion; the norm is a FIXED-ORDER 64-term fold, never a float
  *    aggregate through a shuffle).
  * The emitted loadings are the LAST iterate normalized in double;
  * explained_share is the Rayleigh quotient over the exact trace.
  *
  * Scale: 6 linear passes over the corpus (quantize+mean, trace, 4 power
  * steps), each reducing to ≤ 64 integers; the v̂ row broadcasts. DuckDB
  * replays all four iterations as unrolled CTE pairs, so the whole
  * trajectory is verified, not just the final direction.
  *
  * Convergence caveat (spec-pinned): [[Rounds]] power steps converge at
  * rate (λ₂/λ₁)^t — decisive on the anisotropic corpora the audit exists
  * for, deliberately NOT on this near-isotropic synthetic fixture
  * (λ₂/λ₁ ≈ 0.93), where the audit's "no dominant direction" verdict
  * (explained_share ≈ 1/dims) is itself the correct answer. The spec
  * therefore pins the ITERATE against a same-round float reference, not
  * against the asymptotic eigenvector.
  */
object PcaPower {

  /** Embedding dimensionality (the corpus's fixed width). */
  val Dims = 64

  /** Quantization scale for data and iterate (2^10). */
  val Scale = 1024

  /** Power-iteration rounds. */
  val Rounds = 4

  private val dims = 0 until Dims

  // ---- shared expression builders: one string per engine, same algebra ----
  private def xhatSpark(e: Int) =
    s"CAST(floor(CAST(element_at(embedding, ${e + 1}) AS DOUBLE) * $Scale + 0.5) AS BIGINT) + 2048"
  private def xhatDuck(e: Int) =
    s"(floor(embedding[${e + 1}]::DOUBLE * $Scale + 0.5))::BIGINT + 2048"
  private def dotExpr = dims.map(e => s"c$e * v$e").mkString(" + ")
  private def normExpr(col: Int => String) =
    "sqrt(" + dims.map(e => s"CAST(${col(e)} AS DOUBLE) * CAST(${col(e)} AS DOUBLE)")
      .mkString(" + ") + ")"
  private def vNextExpr(e: Int) =
    s"CAST(floor(CAST(s$e AS DOUBLE) * $Scale / nrm + 0.5) AS BIGINT) AS v$e"
  private def rayleighNum = dims.map(e =>
    s"CAST(v$e AS DOUBLE) * CAST(s$e AS DOUBLE)").mkString(" + ")
  private def rayleighDen = dims.map(e => s"v$e * v$e").mkString(" + ")

  /** Collapse a one-row model DataFrame to a memoized LITERAL one-row
    * frame (collect of exactly ONE row — bounded by construction). The
    * model plans chain 4 sequential corpus aggregates; without this,
    * every downstream reference (the ABTT audit touches the model three
    * times) re-evaluated the whole chain — 26 s at sf0.1 for what is 65
    * doubles of state.
    */
  private def memoRow(spark: SparkSession, key: String,
      mk: => DataFrame): DataFrame =
    // buildLoadings re-enters this memo for the mean row: Scratch builds nest
    graft.Scratch.memo(spark, "graft-pca-row", key) { _ =>
      val df = mk
      spark.createDataFrame(java.util.Arrays.asList(df.collect()(0)), df.schema)
    }

  /** Integer mean row (m0..m63 in shifted 1024-scale, plus n) — shared
    * with the [[AbttResidual]] audit.
    */
  private[graft] def muRow(spark: SparkSession, dir: String): DataFrame =
    memoRow(spark, s"mu:$dir", {
      Tables.embeddings(spark, dir)
        .selectExpr(dims.map(d => s"${xhatSpark(d)} AS x$d"): _*)
        .selectExpr(
          (dims.map(d => s"sum(x$d) AS sx$d") :+ "count(1) AS n"): _*)
        .selectExpr((dims.map(d => s"sx$d div n AS m$d") :+ "n"): _*)
    })

  /** One-row model: loadings l0..l63 (unit double), explained_share,
    * n_vectors — shared with the [[AbttResidual]] audit.
    */
  private[graft] def loadingsRow(spark: SparkSession, dir: String): DataFrame =
    memoRow(spark, s"load:$dir", buildLoadings(spark, dir))

  private def buildLoadings(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val xhat = e.selectExpr(dims.map(d => s"${xhatSpark(d)} AS x$d"): _*)
    val mu = muRow(spark, dir)
    val centered = xhat.crossJoin(broadcast(mu))
      .selectExpr((dims.map(d => s"x$d - m$d AS c$d") :+ "n"): _*)
    val trace = centered.selectExpr(
      s"sum(${dims.map(d => s"c$d * c$d").mkString(" + ")}) AS tr",
      "min(n) AS n")

    var v = mu.selectExpr(dims.map(d => s"CAST($Scale AS BIGINT) AS v$d"): _*)
    var s: DataFrame = null
    var vPrev: DataFrame = null
    for (_ <- 1 to Rounds) {
      vPrev = v
      s = centered.crossJoin(broadcast(v))
        .selectExpr((s"($dotExpr) AS dot" +: dims.map(d => s"c$d"): _*))
        .selectExpr(dims.map(d => s"sum(dot * c$d) AS s$d"): _*)
      v = s.selectExpr((dims.map(d => s"s$d") :+
          s"${normExpr(e => s"s$e")} AS nrm"): _*)
        .selectExpr(dims.map(vNextExpr): _*)
    }
    s.crossJoin(broadcast(vPrev)).crossJoin(broadcast(trace))
      .selectExpr(
        (dims.map(d => s"CAST(s$d AS DOUBLE) / ${normExpr(e => s"s$e")} AS l$d") ++
          Seq(s"(($rayleighNum) / ($rayleighDen)) / CAST(tr AS DOUBLE) AS explained_share",
            "n AS n_vectors")): _*)
  }

  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val finalRow = loadingsRow(spark, dir)
    val stackExpr = s"stack($Dims, " +
      dims.map(d => s"$d, l$d").mkString(", ") + ") AS (dim, loading)"
    finalRow.selectExpr(stackExpr, "explained_share", "n_vectors")
      .selectExpr("CAST(dim AS INT) AS dim", "loading", "explained_share",
        "n_vectors")
      .orderBy(col("dim"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pca_power" -> (pcaPower _))

  /** DuckDB CTE chain through `final` (the one-row model) — the oracle
    * here and [[AbttResidual]]'s compose on top of it.
    */
  private[similarity] def modelCtes: String = {
    val iterCtes = (1 to Rounds).map { r =>
      s"""it$r AS (
  SELECT ${dims.map(d => s"sum(dot * c$d)::BIGINT AS s$d").mkString(", ")}
  FROM (SELECT ($dotExpr) AS dot, ${dims.map(d => s"c$d").mkString(", ")}
        FROM centered CROSS JOIN v${r - 1})),
v$r AS (
  SELECT ${dims.map(d => s"CAST(floor(CAST(s$d AS DOUBLE) * $Scale / nrm + 0.5) AS BIGINT) AS v$d").mkString(", ")}
  FROM (SELECT *, ${normExpr(e => s"s$e")} AS nrm FROM it$r))"""
    }.mkString(",\n")
    s"""xhat AS (
  SELECT ${dims.map(d => s"${xhatDuck(d)} AS x$d").mkString(", ")}
  FROM embeddings),
mu AS (
  SELECT ${dims.map(d => s"sx$d // n AS m$d").mkString(", ")}, n
  FROM (SELECT ${dims.map(d => s"sum(x$d)::BIGINT AS sx$d").mkString(", ")},
               count(*)::BIGINT AS n
        FROM xhat)),
centered AS (
  SELECT ${dims.map(d => s"x$d - m$d AS c$d").mkString(", ")}, n
  FROM xhat CROSS JOIN mu),
trace AS (
  SELECT sum(${dims.map(d => s"c$d * c$d").mkString(" + ")})::BIGINT AS tr,
         min(n)::BIGINT AS n
  FROM centered),
v0 AS (SELECT ${dims.map(d => s"$Scale::BIGINT AS v$d").mkString(", ")}),
$iterCtes,
final AS (
  SELECT ${dims.map(d => s"CAST(s$d AS DOUBLE) / ${normExpr(e => s"s$e")} AS l$d").mkString(",\n         ")},
         (($rayleighNum) / ($rayleighDen)) / CAST(tr AS DOUBLE) AS explained_share,
         n AS n_vectors
  FROM it$Rounds CROSS JOIN v${Rounds - 1} CROSS JOIN trace)"""
  }

  val oracle: Map[String, String] = {
    val loadRows = dims.map(d =>
      s"SELECT $d AS dim, l$d AS loading, explained_share, n_vectors FROM final")
      .mkString("\nUNION ALL ")
    Map("sim_pca_power" -> s"""WITH $modelCtes
$loadRows
ORDER BY dim""")
  }
}

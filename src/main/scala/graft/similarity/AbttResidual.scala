package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** All-but-the-top residual audit (Mu & Viswanath 2018) — the transform
  * [[PcaPower]]'s anisotropy number argues for, measured: subtract the
  * mean and project out the top principal direction, then compare mean
  * |cosine| over the probe×corpus pair set before vs after. On an
  * anisotropic corpus the drop is dramatic (the common component was
  * inflating every similarity); near zero drop means the space was
  * already isotropic and the postprocess can be skipped — either way the
  * decision is a number, not a vibe.
  *
  * Algebra that avoids materializing residual vectors: with unit top
  * direction v and centered vectors a, b,
  *
  *   a'·b' = a·b − (a·v)(b·v),  ‖a'‖² = ‖a‖² − (a·v)²
  *
  * so the pair pass needs ONE 64-term cross fold (a·b) plus per-VECTOR
  * scalars (a·v, ‖a‖²) computed once in a linear pass. Mean |cos| is
  * aggregated as floor(1e9·cos + 0.5) BIGINTs — the fixed-point trick
  * that lets a float statistic cross a shuffle bit-stably — divided once.
  *
  * Scale: the model (mean + direction) is [[PcaPower]]'s 6 linear passes;
  * the audit adds one per-vector pass and one probe-bounded pair pass
  * (probes broadcast). The DuckDB oracle stacks the full model CTE chain
  * under the audit, so model AND measurement replay end to end.
  */
object AbttResidual {

  /** Fixed-point scale for the cosine statistics. */
  val CosScale = 1000000000L

  private val dims = 0 until PcaPower.Dims

  // centered element e of an embedding col (μ̂ is shifted 1024-scale ints)
  private def cenSpark(arr: String, e: Int) =
    s"(CAST(element_at($arr, ${e + 1}) AS DOUBLE) - CAST(m$e - 2048 AS DOUBLE) / 1024)"
  private def cenDuck(arr: String, e: Int) =
    s"($arr[${e + 1}]::DOUBLE - CAST(m$e - 2048 AS DOUBLE) / 1024)"

  def abttResidual(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r13 measured spread ALONE hurting here (1.08 → 1.81 s): the corpus
    // fed four subtrees (cen twice, both pair sides) so the exchange
    // multiplied instead of amortizing. r14 restructures to TWO subtrees,
    // each derived once: the probe side carries its own centered
    // components + scalars straight out of the pruned scan (vec_id <
    // NumProbes pushes down — 40 rows) and broadcasts; the corpus side
    // computes raw embedding + centered components + scalars in ONE pass
    // (plan: 8 embeddings scans → 2, of which one reads 40 rows), spread
    // so the pair kernel parallelizes. (A lazily-checkpointed shared base
    // was measured bimodal here — 0.75 s … 11 s — the checkpoint
    // materializing under the broadcast thread races the main job; the
    // two-subtree form has no shared materialization to race on.)
    val e = Tables.embeddings(spark, dir)
    val model = PcaPower.loadingsRow(spark, dir)
      .crossJoin(broadcast(PcaPower.muRow(spark, dir)))
    val probes = e.filter($"vec_id" < Similarity.NumProbes)
      .crossJoin(broadcast(model))
      .selectExpr((Seq("vec_id AS qid", "embedding AS qe") ++
        dims.map(d => s"${cenSpark("embedding", d)} AS q$d") ++
        Seq(s"(${dims.map(d => s"${cenSpark("embedding", d)} * l$d").mkString(" + ")}) AS qcv",
          s"(${dims.map(d => s"${cenSpark("embedding", d)} * ${cenSpark("embedding", d)}").mkString(" + ")}) AS qn2")): _*)
    val corpus = Similarity.spread(e).crossJoin(broadcast(model))
      .selectExpr((Seq("vec_id AS nid", "embedding AS ne") ++
        dims.map(d => s"${cenSpark("embedding", d)} AS b$d") ++
        Seq(s"(${dims.map(d => s"${cenSpark("embedding", d)} * l$d").mkString(" + ")}) AS bcv",
          s"(${dims.map(d => s"${cenSpark("embedding", d)} * ${cenSpark("embedding", d)}").mkString(" + ")}) AS bn2")): _*)
    val pairs = broadcast(probes)
      .join(corpus, $"qid" =!= $"nid")
      .selectExpr("graft_cosine(qe, ne) AS cos_before",
        s"(${dims.map(d => s"q$d * b$d").mkString(" + ")}) AS ab",
        "qcv", "bcv", "qn2", "bn2")
      .selectExpr("cos_before",
        "(ab - qcv * bcv) / (sqrt(greatest(qn2 - qcv * qcv, 0.0)) * " +
          "sqrt(greatest(bn2 - bcv * bcv, 0.0))) AS cos_after")
    pairs.selectExpr(
      "count(1) AS n_pairs",
      s"sum(CAST(floor(abs(cos_before) * $CosScale + 0.5) AS BIGINT)) AS qb",
      s"sum(CAST(floor(abs(cos_after) * $CosScale + 0.5) AS BIGINT)) AS qa")
      .crossJoin(broadcast(PcaPower.loadingsRow(spark, dir)
        .selectExpr("explained_share")))
      .selectExpr("n_pairs",
        s"CAST(qb AS DOUBLE) / n_pairs / $CosScale AS mean_abs_cos_before",
        s"CAST(qa AS DOUBLE) / n_pairs / $CosScale AS mean_abs_cos_after",
        "explained_share")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_abtt_residual" -> (abttResidual _))

  val oracle: Map[String, String] = Map(
    "sim_abtt_residual" -> s"""WITH ${PcaPower.modelCtes},
cen AS (
  SELECT e.vec_id,
         ${dims.map(d => s"${cenDuck("e.embedding", d)} AS c$d").mkString(",\n         ")},
         (${dims.map(d => s"${cenDuck("e.embedding", d)} * l$d").mkString(" + ")}) AS cv,
         (${dims.map(d => s"${cenDuck("e.embedding", d)} * ${cenDuck("e.embedding", d)}").mkString(" + ")}) AS n2
  FROM embeddings e CROSS JOIN mu CROSS JOIN final),
pairs AS (
  SELECT ${Similarity.cosSql("q.embedding", "n.embedding")} AS cos_before,
         (${dims.map(d => s"a.c$d * b.c$d").mkString(" + ")}) AS ab,
         a.cv AS qcv, b.cv AS bcv, a.n2 AS qn2, b.n2 AS bn2
  FROM embeddings q
  JOIN embeddings n ON q.vec_id < ${Similarity.NumProbes}
                   AND q.vec_id <> n.vec_id
  JOIN cen a ON a.vec_id = q.vec_id
  JOIN cen b ON b.vec_id = n.vec_id),
scored AS (
  SELECT cos_before,
         (ab - qcv * bcv) / (sqrt(greatest(qn2 - qcv * qcv, 0.0)) *
           sqrt(greatest(bn2 - bcv * bcv, 0.0))) AS cos_after
  FROM pairs)
SELECT count(*)::BIGINT AS n_pairs,
       CAST(sum(CAST(floor(abs(cos_before) * $CosScale + 0.5) AS BIGINT)) AS DOUBLE)
         / count(*) / $CosScale AS mean_abs_cos_before,
       CAST(sum(CAST(floor(abs(cos_after) * $CosScale + 0.5) AS BIGINT)) AS DOUBLE)
         / count(*) / $CosScale AS mean_abs_cos_after,
       (SELECT explained_share FROM final) AS explained_share
FROM scored""")
}

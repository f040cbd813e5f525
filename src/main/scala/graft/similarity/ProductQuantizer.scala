package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compact vector code production ANN
  * indexes pair with IVF cells (FAISS IVF-PQ; Jégou et al., TPAMI 2011 —
  * public algorithm): split each embedding into [[M]] contiguous subvectors
  * and replace every subvector with the id of its nearest codebook entry, so
  * a d-dim float vector stores as M small ints (here 64×4 B → 4×1 B, 64×
  * smaller) while distances remain approximable from per-code lookup tables.
  *
  * Codebooks here are md5-seeded corpus subvectors (the deterministic
  * seeding device of [[IvfIndex]]; its fixed-point Lloyd refinement applies
  * per subspace unchanged and is deliberately not repeated — PQ's NEW
  * content is the subspace decomposition, code assignment, and
  * reconstruction-error accounting). Everything is engine-exact:
  * assignment distances accumulate IN ARRAY ORDER (the in-order contract
  * every cosine oracle here proves), argmin ties break on code id, and the
  * per-vector squared error sums its [[M]] subspace minima in a fixed
  * expression order — so the DuckDB twin reproduces codes and errors
  * bit-for-bit.
  *
  * Scale notes (100 TB): codebooks are tiny (M·K subvectors) and broadcast;
  * assignment is one map-side pass per vector (the M×K distance loop), and
  * the emitted codes are fixed-width. The distance kernel is an interpreted
  * HOF here — at production scale it gets the
  * [[graft.functions.CosineSimilarity]] native-Expression treatment, same
  * loop shape.
  */
object ProductQuantizer {

  /** Subspaces (testdata dim 64 → 16 dims per subvector). */
  val M = 4

  /** Codes per subspace codebook. */
  val K = 8

  private[similarity] def subDim(dim: Int) = dim / M

  /** In-order squared L2 distance between two float arrays (HOF form whose
    * accumulation order matches DuckDB's list_sum).
    */
  private[similarity] def d2(a: String, b: String) = expr(
    s"""aggregate(zip_with($a, $b,
       |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
       |          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
       |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)

  /** (subspace, code, subvec) codebook rows: per subspace, the K corpus
    * subvectors with lowest md5 rank (TakeOrderedAndProject per subspace —
    * distributed, no global window), code id = rank order.
    */
  private[similarity] def codebook(spark: SparkSession, dir: String, dim: Int): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val sd = subDim(dim)
    (0 until M).map { s =>
      e.withColumn("r",
          md5(concat(lit(s"pq_seed:$s:"), $"vec_id".cast("string"))))
        .orderBy($"r")
        .limit(K)
        .select($"r", slice($"embedding", s * sd + 1, sd).as("codevec"))
    }.zipWithIndex.map { case (df, s) =>
      val rows = df.collect().sortBy(_.getString(0)).zipWithIndex
        .map { case (row, code) => (s, code, row.getSeq[Float](1)) }
      rows.toSeq.toDF("s", "code", "codevec")
    }.reduce(_ unionByName _)
  }

  /** Per-vector PQ codes (c0..c{M−1}) and the total squared reconstruction
    * error (sum of the M subspace minima, fixed expression order).
    */
  def codes(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val dim = e.select(size($"embedding")).head.getInt(0)
    val sd = subDim(dim)
    val cb = codebook(spark, dir, dim)
    val subs = e.select($"vec_id",
      explode(expr(
        s"""transform(sequence(0, ${M - 1}),
           |  s -> struct(s AS s, slice(embedding, s * $sd + 1, $sd) AS sub))""".stripMargin)).as("x"))
      .select($"vec_id", $"x.s", $"x.sub")
    val w = Window.partitionBy($"vec_id", $"s").orderBy($"dist", $"code")
    val assigned = subs.join(broadcast(cb), "s")
      .withColumn("dist", d2("sub", "codevec"))
      // window: ascending distance; a negated key would move NaNs
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
    val codeCols = (0 until M).map(s =>
      max(when($"s" === s, $"code")).as(s"c$s"))
    val errCols = (0 until M).map(s =>
      max(when($"s" === s, $"dist")).as(s"e$s"))
    assigned.groupBy($"vec_id")
      .agg((codeCols ++ errCols).head, (codeCols ++ errCols).tail: _*)
      // fixed-order sum of the M subspace errors — never a float shuffle agg
      .withColumn("sq_err",
        (0 until M).map(s => col(s"e$s")).reduce(_ + _))
      .select(Seq($"vec_id") ++ (0 until M).map(s => col(s"c$s"))
        :+ $"sq_err": _*)
      .orderBy($"vec_id")
  }

  /** Fixed-point scale for the distortion mean's exact accumulation. */
  val ErrFxScale = 1000000L

  /** Codebook utilization + distortion audit — the report to read BEFORE
    * trusting a PQ index: per (subspace, code), how many subvectors the
    * code absorbs and with what squared error. A fat code (high n, high
    * max) means the codebook under-fits its region; codes absent from the
    * output are DEAD (never the argmin) and waste index bits. This is the
    * aggregate twin of [[codes]]' per-vector `sq_err`.
    *
    * Mean error follows the fixed-point discipline: each per-assignment
    * distance is a deterministic double (in-order [[d2]] accumulation),
    * floor-scaled to [[ErrFxScale]]ths and summed as exact BIGINT, divided
    * once. Min/max are order-independent over deterministic doubles.
    */
  def distortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val dim = e.select(size($"embedding")).head.getInt(0)
    val sd = subDim(dim)
    val cb = codebook(spark, dir, dim)
    val subs = e.select($"vec_id",
      explode(expr(
        s"""transform(sequence(0, ${M - 1}),
           |  s -> struct(s AS s, slice(embedding, s * $sd + 1, $sd) AS sub))""".stripMargin)).as("x"))
      .select($"vec_id", $"x.s", $"x.sub")
    val w = Window.partitionBy($"vec_id", $"s").orderBy($"dist", $"code")
    subs.join(broadcast(cb), "s")
      .withColumn("dist", d2("sub", "codevec"))
      // window: ascending distance; a negated key would move NaNs
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .groupBy($"s", $"code")
      .agg(
        count(lit(1)).as("n_assigned"),
        min($"dist").as("min_err"),
        max($"dist").as("max_err"),
        sum(floor($"dist" * ErrFxScale).cast("long")).as("fx"))
      .select($"s", $"code", $"n_assigned", $"min_err", $"max_err",
        round($"fx" * lit(1.0) / ($"n_assigned" * lit(ErrFxScale)), 6)
          .as("mean_err"))
      .orderBy($"s", $"code")
  }

  /** DuckDB twin of [[distortion]] off the shared assignment CTE chain. */
  def distortionOracleSql: String =
    s"""WITH $codesCtes
SELECT s::INT AS s, code::INT AS code,
       count(*)::BIGINT AS n_assigned,
       min(d) AS min_err, max(d) AS max_err,
       round(sum(CAST(floor(d * $ErrFxScale) AS BIGINT)) * 1.0
               / (count(*) * $ErrFxScale), 6) AS mean_err
FROM best WHERE rk = 1
GROUP BY s, code ORDER BY s, code"""

  /** Oracle-side subvector width (the testdata dimensionality is
    * interpolated as a literal; the Spark side sizes from the actual corpus).
    */
  private[similarity] val OracleSubDim = 64 / M

  /** The code-assignment CTE chain (codebooks `cb0..cb{M−1}`+`cb`, subvector
    * melt `subs`, distances `dist`, argmin `best`, per-vector wide codes
    * `px`) — shared between [[oracleSql]] and the IVF-PQ search twin
    * ([[IvfPq.oracleSql]]), so one definition can't desynchronize the two.
    */
  private[similarity] def codesCtes: String = {
    val sd = OracleSubDim
    def cbSql(s: Int) =
      s"""cb$s AS (
  SELECT $s AS s, row_number() OVER (
           ORDER BY md5('pq_seed:$s:' || CAST(vec_id AS VARCHAR))) - 1 AS code,
         embedding[${s * sd + 1}:${s * sd + sd}] AS codevec
  FROM embeddings
  QUALIFY code < $K)"""
    val subSelects = (0 until M).map(s =>
      s"  SELECT vec_id, $s AS s, embedding[${s * sd + 1}:${s * sd + sd}] AS sub FROM embeddings")
      .mkString("\n  UNION ALL\n")
    s"""${(0 until M).map(cbSql).mkString(",\n")},
cb AS (${(0 until M).map(s => s"SELECT * FROM cb$s").mkString(" UNION ALL ")}),
subs AS (
$subSelects),
dist AS (
  SELECT v.vec_id, v.s, c.code,
         list_sum(list_transform(range(1, $sd + 1),
           i -> (CAST(v.sub[i] AS DOUBLE) - CAST(c.codevec[i] AS DOUBLE))
              * (CAST(v.sub[i] AS DOUBLE) - CAST(c.codevec[i] AS DOUBLE)))) AS d
  FROM subs v JOIN cb c ON v.s = c.s),
best AS (
  SELECT vec_id, s, code, d,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rk
  FROM dist),
px AS (
  SELECT vec_id,
${(0 until M).map(s =>
      s"         max(CASE WHEN s = $s THEN code END)::INT AS c$s,").mkString("\n")}
${(0 until M).map(s =>
      s"         max(CASE WHEN s = $s THEN d END) AS e$s").mkString(",\n")}
  FROM best WHERE rk = 1 GROUP BY vec_id)"""
  }

  /** DuckDB twin: same md5 seeds, same slices, same in-order distance
    * accumulation, same argmin tiebreak, same fixed-order error sum.
    */
  def oracleSql: String =
    s"""WITH $codesCtes
SELECT vec_id, ${(0 until M).map(s => s"c$s").mkString(", ")},
       ${(0 until M).map(s => s"e$s").mkString(" + ")} AS sq_err
FROM px
ORDER BY vec_id"""
}

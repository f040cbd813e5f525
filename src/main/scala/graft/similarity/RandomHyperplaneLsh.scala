package graft.similarity

import graft.Tables
import graft.functions.GraftFunctions.round2
import graft.functions.{Md5Hash, TopK}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sign-random-projection (random hyperplane) LSH for approximate nearest
  * neighbors — the scale path next to [[Similarity.bruteForceTopK]].
  *
  * Signature: `Planes` pseudo-random hyperplanes whose components are
  * md5-derived doubles in [−1, 1): component (p, j) is
  * `h32("plane<p>:<j>") / 2^31 − 1` with the integer h32 interpolated as a
  * plan literal (computed once at plan time — NOT per row; round 3 hashed
  * per (row × plane × dimension), which at a billion vectors re-hashes the
  * same 256 constants 10¹¹ times) and the division done in-engine, so the
  * DuckDB oracle reproduces every signature bit-exactly from the same
  * integers. Bit p of the signature is sign(v·h_p). For vectors at angle θ,
  * P[bits agree] = 1 − θ/π — near duplicates collide with high probability.
  *
  * Search: the signature index is memoized to parquet partitioned by
  * bucket ([[index]]) so a probe's candidate scan prunes to its probe
  * buckets' partitions instead of the full corpus; each probe
  * scans its own bucket plus all buckets at Hamming distance 1 (multi-probe
  * — recovers most of the recall lost to boundary flips for tiny extra
  * fan-out), then exact-ranks candidates with the codegen'd cosine kernel.
  *
  * Plane count trades recall for candidate-set size: 2^Planes buckets over
  * |corpus| vectors ⇒ ~|corpus|/2^Planes candidates per probe. 4 planes fit
  * the 500–2000-vector test corpus; a billion-vector corpus wants 16–24
  * planes (and/or IVF re-ranking), same code shape.
  */
object RandomHyperplaneLsh {

  val Planes = 4

  /** Near-dup cosine threshold, interpolated into BOTH engines (Spark
    * default and the oracle SQL) so the τ literal can't desynchronize.
    */
  val EmbeddingTau = 0.4

  /** Largest dimension the interpolated oracle supports (testdata is 64);
    * the Spark side sizes its literal arrays to the actual corpus dim.
    */
  val OracleMaxDim = 128

  /** Hyperplane component integers: h32("plane<p>:<j>") — identical values
    * on the Scala, Spark, and DuckDB sides by construction.
    */
  def planeInts(dim: Int): IndexedSeq[IndexedSeq[Long]] =
    (0 until Planes).map(p => (0 until dim).map(j =>
      Md5Hash.md5Int(s"plane$p:$j")))

  /** v·h_p via the native codegen'd [[graft.functions.PlaneDot]] kernel:
    * the integer components travel as a foldable array literal, are scaled
    * once at plan time, and the per-row work is one fused primitive loop
    * with strict left-to-right double accumulation (the oracle-parity
    * summation order; bit-identical to the interpreted `aggregate(zip_with)`
    * form it replaces).
    */
  private def planeDot(emb: String, ints: Seq[Long]): Column =
    expr(s"graft_plane_dot($emb, array(${ints.map(_ + "L").mkString(", ")}))")

  /** The signature column expression over column `emb` of dimension `dim`. */
  def signature(emb: String, dim: Int): Column = {
    val planes = planeInts(dim)
    (0 until Planes).map { p =>
      when(planeDot(emb, planes(p)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Signatures at Hamming distance ≤ 1 from `sig` (multi-probe set). */
  private[similarity] def probeSignatures(sig: Column): Column =
    array((sig +: (0 until Planes).map(p =>
      sig.bitwiseXOR(lit(1 << p)))): _*)

  // signature index built once per (application, corpus) and persisted as
  // parquet PARTITIONED BY bucket — signatures are a build step, probes only
  // read, and a probe's candidate scan prunes to its probe buckets'
  // partitions instead of the full corpus (same layout as IvfIndex's cells)
  def index(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.memo(spark, "graft-rhlsh", dir) { base =>
      Similarity.register(spark)
      val e = Tables.embeddings(spark, dir)
      // index-build metadata: one-row scan for the corpus dimensionality
      val dim = e.select(size(col("embedding"))).head.getInt(0)
      e.select(col("vec_id"), col("embedding"),
          signature("embedding", dim).as("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(base)
      spark.read.parquet(base)
    }

  def topK(spark: SparkSession, dir: String, k: Int = Similarity.TopK): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val idx = index(spark, dir)
    val corpus = idx.select($"vec_id".as("neighbor_id"),
      $"embedding".as("n_emb"), $"bucket")
    val probes = idx.filter($"vec_id" < Similarity.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        explode(probeSignatures($"bucket")).as("bucket"))
    // a neighbour found through several probe buckets repeats with the
    // same score; the kernel keeps one copy
    val scored = broadcast(probes)
      .join(corpus, "bucket")
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos", expr("graft_cosine(q_emb, n_emb)"))
    TopK.rank(scored, Seq("query_id"), "cos", "neighbor_id", k)
      .select($"query_id", $"neighbor_id", $"rank", round2($"cos").as("cosine_r2"))
      .orderBy($"query_id", $"rank")
  }

  /** Embedding-space near-duplicate detection at scale — the LSH-bucketed
    * form of [[Similarity.cosinePairs]]: candidates are the within-bucket
    * pairs of the signature self-join (≈ n²/2^Planes rows instead of n²),
    * verified with the exact codegen'd cosine at the SAME τ, so the output
    * is by construction a subset of the exact pair scan whose surviving
    * pairs carry identical cosines (SimilaritySpec pins both). Recall is the
    * S-curve of sign-agreement: vectors at angle θ share all `Planes` bits
    * with probability (1 − θ/π)^Planes — near-dup pairs (θ→0) essentially
    * always collide. At a billion vectors the corpus is written partitioned
    * by bucket and each partition self-joins locally.
    */
  def embeddingNearDups(spark: SparkSession, dir: String,
      threshold: Double = EmbeddingTau): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val sigs = index(spark, dir)
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        expr("graft_cosine(a.embedding, b.embedding)").as("cos"))
      .filter($"cos" >= threshold)
      .select($"vec_a", $"vec_b", round2($"cos").as("cosine_r2"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** DuckDB dot-product twin of [[planeDot]] for plane `p` — ONE definition
    * shared by both oracles (a scaling/layout change edited in one oracle but
    * not the other would silently break the un-edited one while the edited
    * one stays green).
    */
  private def dotSql(emb: String, p: Int): String =
    s"""list_sum(list_transform(range(1, len($emb) + 1),
       |    i -> CAST($emb[i] AS DOUBLE)
       |      * ([${planeInts(OracleMaxDim)(p).mkString(", ")}][i] / 2147483648.0 - 1.0)))""".stripMargin

  /** DuckDB signature twin of [[signature]] over column `embedding`. */
  private[similarity] lazy val sigSql: String = (0 until Planes).map { p =>
    s"CASE WHEN ${dotSql("embedding", p)} > 0 THEN ${1 << p} ELSE 0 END"
  }.mkString("\n         + ")

  /** DuckDB twin of [[embeddingNearDups]]. */
  def embeddingNearDupsOracleSql: String =
    s"""WITH sig AS (
  SELECT vec_id, embedding,
         $sigSql AS bucket
  FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ${Similarity.cosSql("a.embedding", "b.embedding")} AS cos
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, ${Similarity.r2("cos")} AS cosine_r2
FROM scored WHERE cos >= $EmbeddingTau
ORDER BY vec_a, vec_b"""

  /** DuckDB twin: same literal plane integers, same in-engine division,
    * same left-to-right dot accumulation, same multi-probe expansion, then
    * the proven exact-cosine ranking recipe.
    */
  def oracleSql: String = {
    val probeBuckets = ("bucket" +: (0 until Planes).map(p =>
      s"xor(bucket, ${1 << p})")).mkString(", ")
    s"""WITH sig AS (
  SELECT vec_id, embedding,
         $sigSql AS bucket
  FROM embeddings),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb,
         unnest([$probeBuckets]) AS bucket
  FROM sig WHERE vec_id < ${Similarity.NumProbes}),
scored AS (
  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id,
         ${Similarity.cosSql("p.q_emb", "s.embedding")} AS cos
  FROM probes p JOIN sig s ON p.bucket = s.bucket AND p.query_id <> s.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ${Similarity.r2("cos")} AS cosine_r2
FROM ranked WHERE rank <= ${Similarity.TopK}
ORDER BY query_id, rank"""
  }
}

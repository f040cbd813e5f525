package graft.dedup

import graft.functions.Md5Hash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection — the corpus-scale path.
  *
  * Pipeline: word-3-gram shingles → k=32 permutation-min-hash signature
  * (materialized once per corpus) → 8 bands of 4 rows → band-bucket
  * equi-join for candidates → exact Jaccard verify against the shared
  * [[DocIndex]]. With bands of r=4 over k=32, a pair with Jaccard j collides
  * in at least one band with probability 1−(1−j⁴)⁸ (≈97 % at j=0.5, ≈100 %
  * at j≥0.7) — the standard S-curve; the τ=0.2 verify keeps the output
  * aligned with [[Dedup.ngramJaccard]] and DedupSpec pins the realized
  * recall.
  *
  * Hashing: each shingle is hashed ONCE (h = [[Md5Hash.h32]] mod p); the 32
  * permutations are universal hashes (aᵢ·h + bᵢ) mod p over that single base
  * hash, with (aᵢ, bᵢ) fixed md5-derived constants interpolated as literals.
  * Two payoffs vs round 3's nested-HOF xxhash64 kernel:
  *
  *  - **codegen**: the signature is explode(shingles) → one hash aggregate
  *    with 32 `min((aᵢ·h+bᵢ) % p)` columns — whole-stage-codegen'd with
  *    map-side partial mins, instead of ~32×|shingles| interpreted lambda
  *    calls with per-call string concat (the single most expensive kernel in
  *    the round-3 bench);
  *  - **oracle**: md5 is shared with DuckDB, so signatures / band buckets /
  *    the final pair set are reproducible in SQL ([[oracleSql]]) and the
  *    query is hash-checked like any other — round 3 could only spec-pin it.
  *
  * Scale notes (100 TB): unlike the inverted-index join, candidate fan-out is
  * bounded by band-bucket collisions (md5 buckets — no accidental mass
  * collisions), and the signature is a fixed 32×8 bytes per doc regardless of
  * document length. The signature table is computed ONCE and memoized to
  * parquet ([[sigsForDir]]): the plan references the signature relation three
  * times (both sides of the bucket self-join + banding) — round 1 recomputed
  * it per reference, which alone was 78 % of the bench. The verify step joins
  * candidate pairs back to the materialized doc index instead of carrying
  * shingle arrays through the bucket join, so shuffle rows are (id, id)
  * pairs, not documents.
  */
object MinHashLsh {

  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = 4

  /** The banding S-curve as a queryable tuning table: for each candidate
    * Jaccard similarity s (5%..95% in 5-point steps), the probability the
    * [[Bands]]×[[RowsPerBand]] scheme emits the pair as a candidate,
    * p = 1 − (1 − s^r)^b — the table an operator reads to pick (b, r) for
    * a target threshold. No data touched; the curve is the configuration's
    * spec sheet. Every power is expanded to an explicit square-and-multiply
    * chain (s⁴ = (s²)², t⁸ = ((t²)²)²) with the identical association on
    * both engines, so the doubles hash-compare without any rounding — the
    * same fixed-order-expression discipline as the PQ distance sums.
    */
  def sCurve(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    require(RowsPerBand == 4 && Bands == 8,
      "sCurve's expanded power chain is specialized to r=4, b=8")
    val s = (col("pct").cast("double") / lit(100.0)).as("s")
    spark.range(1, 20).select(($"id" * 5).cast("int").as("pct"))
      .select(col("pct"), s)
      .withColumn("s2", col("s") * col("s"))
      .withColumn("s4", col("s2") * col("s2"))
      .withColumn("t", lit(1.0) - col("s4"))
      .withColumn("t2", col("t") * col("t"))
      .withColumn("t4", col("t2") * col("t2"))
      .withColumn("t8", col("t4") * col("t4"))
      .select(col("pct"), col("s"),
        col("s4").as("p_band_match"),
        (lit(1.0) - col("t8")).as("p_candidate"))
      .orderBy(col("pct"))
  }

  /** (aᵢ, bᵢ) universal-hash coefficients, md5-derived (engine-independent
    * constants): aᵢ ∈ [1, p), bᵢ ∈ [0, p).
    */
  val Coeffs: IndexedSeq[(Long, Long)] = (0 until NumHashes).map { i =>
    (Md5Hash.md5Int(s"minhash_a:$i") % (Md5Hash.P - 1) + 1,
      Md5Hash.md5Int(s"minhash_b:$i") % Md5Hash.P)
  }

  /** doc_id → minhash signature (array of 32 longs); empty-shingle docs drop
    * (explode emits nothing for them). `docs` must carry (doc_id, sh) — pass
    * [[DocIndex.forDir]]. One codegen'd hash aggregate; h is computed once
    * per (doc, shingle) and all 32 permutation mins fold map-side.
    */
  def signatures(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(col("sh")).as("tok"))
      .select(col("doc_id"), (Md5Hash.h32(col("tok")) % Md5Hash.P).as("h"))
    val mins = Coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * lit(a) + lit(b)) % lit(Md5Hash.P)).as(s"s$i")
    }
    hashed.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** Signature table materialized once per (app, corpus) — same
    * memo-to-parquet pattern as [[DocIndex.forDir]]. At cluster scale this is
    * the signature table a 100 TB dedup pass writes once (partitioned by
    * doc_id hash) and reuses across the banding join and any re-run.
    */
  def sigsForDir(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-minhash", dir)(
      signatures(DocIndex.forDir(spark, dir)))

  /** (doc_id, band, bucket) rows of a signature table. Band bucket = md5 of
    * the comma-joined 4 signature values (md5 rather than xxhash64 so the
    * DuckDB oracle reproduces the buckets exactly).
    */
  private def bandedOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, ${Bands - 1}),
           |  b -> struct(b AS band,
           |              md5(concat_ws(',',
           |                transform(slice(sig, b * $RowsPerBand + 1, $RowsPerBand),
           |                          v -> cast(v AS STRING)))) AS bucket))
           |""".stripMargin)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** Candidate pairs from band-bucket collisions, then the shared
    * exact-Jaccard verify ([[Dedup.jaccardVerify]] — ids only through the
    * bucket join, shingles join in at verify time).
    */
  def nearDuplicates(spark: SparkSession, dir: String,
      threshold: Double = Dedup.BaseTau): DataFrame = {
    import spark.implicits._
    val banded = bandedOf(sigsForDir(spark, dir))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    Dedup.jaccardVerify(spark, dir, candidates, threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Membership predicate of the simulated NEW BATCH (a deterministic ~1/16
    * of the corpus: first md5 hex digit of "batch:"+id is 'f') — stands in
    * for the arrival-time predicate a real ingest carries.
    */
  private def isNewBatch(id: Column): Column =
    substring(md5(concat(lit("batch:"), id.cast("string"))), 1, 1) === "f"

  /** Incremental near-duplicate detection — the operator that keeps dedup
    * affordable at 100 TB: when a batch lands, its signatures join the
    * ALREADY-MATERIALIZED signature index ([[sigsForDir]]); nothing
    * re-scans or re-pairs the existing corpus. Candidate cost is
    * |batch bands| × bucket occupancy, independent of corpus-pair count.
    * Emits batch-internal pairs once (least/greatest normalization) and
    * every (batch doc ↔ corpus doc) collision, each tagged `pair_type`,
    * verified with the same exact Jaccard at the same τ — so the result is
    * by construction the τ-pair set of [[nearDuplicates]] restricted to
    * pairs touching the batch (DedupSpec pins the equality).
    */
  def incrementalNearDuplicates(spark: SparkSession, dir: String,
      threshold: Double = Dedup.BaseTau): DataFrame = {
    import spark.implicits._
    val banded = bandedOf(sigsForDir(spark, dir))
    val candidates = banded.filter(isNewBatch($"doc_id")).as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    Dedup.jaccardVerify(spark, dir, candidates, threshold)
      .select($"doc_a", $"doc_b", $"jaccard",
        when(isNewBatch($"doc_a") && isNewBatch($"doc_b"), "batch_internal")
          .otherwise("vs_corpus").as("pair_type"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Shared oracle CTE prefix: shingles → signatures → band buckets — the
    * exact pipeline both [[oracleSql]] and [[incrementalOracleSql]] candidate
    * joins read from (one definition, like the Spark side's [[bandedOf]]).
    */
  private def pipelineSqlPrefix: String = {
    val p = Md5Hash.P
    val sigCols = Coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $p) AS s$i"
    }.mkString(",\n         ")
    val bandSelects = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"  SELECT doc_id, $b AS band, md5($cols) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
  WHERE len(t) >= 3),
hashed AS (
  SELECT doc_id, ${Md5Hash.h32Sql("shingle")} % $p AS h
  FROM sh),
sigs AS (
  SELECT doc_id,
         $sigCols
  FROM hashed GROUP BY doc_id),
banded AS (
$bandSelects)"""
  }

  /** Shared oracle verify tail: exact Jaccard over a `cand(doc_a, doc_b)`
    * CTE, τ-filtered.
    */
  private def verifySqlTail(extraCols: String = ""): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT c.doc_a, c.doc_b, count(*) AS o
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2)
SELECT doc_a, doc_b, o * 1.0 / (sa.n + sb.n - o) AS jaccard$extraCols
FROM ov
JOIN sizes sa ON ov.doc_a = sa.doc_id
JOIN sizes sb ON ov.doc_b = sb.doc_id
WHERE o * 1.0 / (sa.n + sb.n - o) >= ${Dedup.BaseTau}
ORDER BY doc_a, doc_b"""

  /** DuckDB twin of the full pipeline (shingles → signatures → banding →
    * candidates → exact-Jaccard verify), re-derived rather than translated:
    * the same md5-based constants are interpolated into both engines.
    */
  def oracleSql: String =
    s"""WITH $pipelineSqlPrefix,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
${verifySqlTail()}"""

  /** DuckDB twin of [[incrementalNearDuplicates]]. */
  def incrementalOracleSql: String = {
    def isNew(id: String) =
      s"substring(md5('batch:' || CAST($id AS VARCHAR)), 1, 1) = 'f'"
    s"""WITH $pipelineSqlPrefix,
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
  WHERE ${isNew("a.doc_id")}),
${verifySqlTail(
      s""",
       CASE WHEN ${isNew("ov.doc_a")} AND ${isNew("ov.doc_b")}
            THEN 'batch_internal' ELSE 'vs_corpus' END AS pair_type""")}"""
  }
}

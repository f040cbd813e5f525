package graft.dedup

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edit-distance fuzzy join — the character-level member of the near-dup
  * family ([[MinHashLsh]] = token-set Jaccard, [[SimHash]] = hashed
  * cosine, [[SemDedup]] = embedding cosine; this one catches small
  * EDITS: typo-level mutations that keep most characters in place, which
  * token-set methods under-weight when the token count is small).
  *
  * The scalable shape is block-then-verify, never verify-all-pairs:
  *
  *  1. BLOCK on (md5 of the first [[BlockTokens]] normalized tokens,
  *     n_chars DIV [[LenBucket]]) — candidates must agree on both, which
  *     a ≤[[MaxDist]]-edit mutation of a ≥100-char document almost
  *     always preserves (prefix edits and ±20-char growth move the doc
  *     to a sibling bucket; recall policy is documented, not hidden).
  *  2. CAP: blocks larger than [[MaxBlock]] docs are excluded from pair
  *     generation (quadratic guard — a boilerplate-heavy corpus at
  *     100 TB would otherwise detonate one reducer; the cap is a
  *     REPORTED policy, see `dedup_fuzzy_block_stats`, not a silent
  *     truncation).
  *  3. VERIFY pairs inside surviving blocks with
  *     `levenshtein(prefix_a, prefix_b) ≤ MaxDist` over the first
  *     [[PrefixChars]] normalized chars — O(P²) per candidate pair,
  *     paid only on the blocked candidates (22 pairs at sf0.001, vs
  *     124,750 brute-force).
  *
  * Queries: `dedup_fuzzy_pairs` (the verified pair set),
  * `dedup_fuzzy_block_stats` (block histogram + candidate-pair ledger —
  * the audit that prices step 3 BEFORE paying it, including which
  * blocks the cap dropped), `dedup_fuzzy_keep` (per-doc keep flag:
  * keeper = smallest doc_id among its fuzzy matches; flag not filter).
  *
  * 100 TB: one map pass computes block keys; the pair join shuffles on
  * the compound block key (selectivity = vocabulary³ × length buckets);
  * `levenshtein` is a codegen'd built-in in both engines with identical
  * unit-cost semantics, so the verify stage hash-matches bit-for-bit.
  */
object FuzzyJoin {

  /** ONE definition each, interpolated into both engines. */
  val BlockTokens = 3
  val LenBucket = 20
  val MaxBlock = 64
  val PrefixChars = 120
  val MaxDist = 24

  private def blocked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars", trim(lower($"text")).as("norm"))
      .select($"doc_id",
        md5(concat_ws(" ",
          slice(split($"norm", "\\s+"), 1, BlockTokens))).as("blk"),
        expr(s"CAST(n_chars DIV $LenBucket AS BIGINT)").as("lb"),
        substring($"norm", 1, PrefixChars).as("prefix"))
  }

  /** Block-cap-join pipeline, shared by both verify kernels: ONE
    * definition of the candidate set so the banded twin can never
    * desynchronize from [[fuzzyPairs]]'s blocking or cap policy (their
    * shared oracle depends on identical candidates). `dist` maps the two
    * prefix columns to the distance expression.
    */
  private def cappedPairs(spark: SparkSession, dir: String,
      dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    val b = blocked(spark, dir)
    val sizes = b.groupBy($"blk".as("s_blk"), $"lb".as("s_lb"))
      .agg(count(lit(1)).as("block_n"))
    // spread before the self-join: the admitted side otherwise rides the
    // one-row-group documents scan as a single task, and the O(P²)/O(P·k)
    // verify kernel downstream of the broadcast join serializes on one
    // core (Tables.spreadNarrowScan — exchange only exists for inputs too
    // small to split; the verify is the wall, not the candidate set)
    val capped = Tables.spreadNarrowScan(b.join(sizes,
        $"blk" === $"s_blk" && $"lb" === $"s_lb")
      .filter($"block_n" <= MaxBlock)
      .select($"doc_id", $"blk", $"lb", $"prefix"))
    val l = capped.select($"doc_id".as("doc_a"), $"blk", $"lb",
      $"prefix".as("pa"))
    val r = capped.select($"doc_id".as("doc_b"), $"blk".as("r_blk"),
      $"lb".as("r_lb"), $"prefix".as("pb"))
    l.join(r, $"blk" === $"r_blk" && $"lb" === $"r_lb" &&
        $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", dist($"pa", $"pb").as("dist"))
  }

  /** Verified fuzzy pairs: blocked candidates within [[MaxDist]] edits. */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cappedPairs(spark, dir, levenshtein(_, _))
      .filter($"dist" <= MaxDist)
      .orderBy($"doc_a", $"doc_b")
  }

  /** The banded twin of [[fuzzyPairs]]: same blocked candidates, but the
    * verify stage runs the native O(P·k) banded kernel
    * ([[graft.functions.EditWithin]], saturating at MaxDist+1) instead of
    * the built-in O(P²) full dynamic program. Distances within the band
    * are exact and rows beyond it are filtered on both engines, so this
    * shares [[fuzzyPairs]]'s oracle verbatim — the hash match is the
    * kernel's cross-engine correctness proof.
    */
  def fuzzyPairsBanded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cappedPairs(spark, dir, (pa, pb) =>
        call_function("graft_edit_within", pa, pb, lit(MaxDist)))
      .filter($"dist" <= MaxDist)
      .orderBy($"doc_a", $"doc_b")
  }

  /** The cost audit: per block-size bucket, how many blocks, docs, and
    * candidate pairs — split by whether the cap admits them. Reading
    * this BEFORE running the verify stage is the 100 TB discipline.
    */
  def blockStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    blocked(spark, dir)
      .groupBy($"blk", $"lb").agg(count(lit(1)).as("block_n"))
      .groupBy($"block_n")
      .agg(count(lit(1)).as("n_blocks"))
      .select($"block_n", $"n_blocks",
        ($"block_n" * $"n_blocks").as("n_docs"),
        ($"n_blocks" * $"block_n" * ($"block_n" - 1) / lit(2))
          .cast("long").as("cand_pairs"),
        ($"block_n" <= MaxBlock).as("admitted"))
      .orderBy($"block_n")
  }

  /** Keep ledger: a doc is kept unless it fuzzy-matches a smaller
    * doc_id (greedy representative; flag not filter, unique corpora
    * still verify).
    */
  def fuzzyKeep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dropped = fuzzyPairs(spark, dir).select($"doc_b".as("d_id")).distinct()
    Tables.documents(spark, dir)
      .select($"doc_id")
      .join(dropped, $"doc_id" === $"d_id", "left")
      .select($"doc_id", $"d_id".isNull.as("keep"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_fuzzy_pairs" -> (fuzzyPairs _),
    "dedup_fuzzy_pairs_banded" -> (fuzzyPairsBanded _),
    "dedup_fuzzy_block_stats" -> (blockStats _),
    "dedup_fuzzy_keep" -> (fuzzyKeep _))

  private def blockedCte: String =
    s"""WITH b AS (
  SELECT doc_id,
         md5(array_to_string(
           (string_split_regex(trim(lower(text)), '\\s+'))[1:$BlockTokens],
           ' ')) AS blk,
         (n_chars // $LenBucket)::BIGINT AS lb,
         substring(trim(lower(text)), 1, $PrefixChars) AS prefix
  FROM documents),
sizes AS (SELECT blk, lb, count(*)::BIGINT AS block_n FROM b GROUP BY blk, lb),
capped AS (
  SELECT b.* FROM b JOIN sizes USING (blk, lb) WHERE block_n <= $MaxBlock),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         levenshtein(x.prefix, y.prefix)::INT AS dist
  FROM capped x JOIN capped y
    ON x.blk = y.blk AND x.lb = y.lb AND x.doc_id < y.doc_id)"""

  private def pairsSql: String = s"""$blockedCte
SELECT doc_a, doc_b, dist FROM pairs
WHERE dist <= $MaxDist
ORDER BY doc_a, doc_b"""

  val oracle: Map[String, String] = Map(
    "dedup_fuzzy_pairs" -> pairsSql,
    // the banded kernel is exact within the band and filtered beyond it:
    // same oracle text, verbatim
    "dedup_fuzzy_pairs_banded" -> pairsSql,

    "dedup_fuzzy_block_stats" -> s"""$blockedCte
SELECT block_n, count(*)::BIGINT AS n_blocks,
       (block_n * count(*))::BIGINT AS n_docs,
       (count(*) * block_n * (block_n - 1) / 2)::BIGINT AS cand_pairs,
       block_n <= $MaxBlock AS admitted
FROM sizes
GROUP BY block_n
ORDER BY block_n""",

    "dedup_fuzzy_keep" -> s"""$blockedCte,
dropped AS (SELECT DISTINCT doc_b FROM pairs WHERE dist <= $MaxDist)
SELECT d.doc_id, dropped.doc_b IS NULL AS keep
FROM documents d LEFT JOIN dropped ON d.doc_id = dropped.doc_b
ORDER BY d.doc_id""")
}

package graft.dedup

import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) dedup ledger — the shift-resistant
  * sibling of [[SegmentDedup.segmentExact]]'s fixed-width segments.
  *
  * Fixed-width segmentation breaks under INSERTION: one token prepended to
  * a duplicated passage shifts every later segment boundary, so no segment
  * fingerprint matches the original's and the duplicate goes undetected.
  * CDC (the rsync/LBFS/backup-dedup trick, public literature) instead cuts
  * where the CONTENT says so: a boundary falls after token p iff the hash
  * of the k-gram starting at p satisfies `h % D == 0`. Boundaries are then
  * a function of local content alone — an insertion perturbs only the one
  * chunk it lands in, and every later chunk re-aligns and re-matches.
  * Expected chunk length is D tokens (geometric).
  *
  * Pipeline: chunking is a ROW-LOCAL fact (boundaries depend only on the
  * document's own token k-grams), so the codegen'd
  * [[graft.functions.CdcChunkFps]] kernel emits finished
  * (fingerprint, start) chunk rows MAP-SIDE — the explode-every-token →
  * per-doc-window → collect_list form this replaced shuffled the whole
  * token stream twice to assemble strings each row already held (5.3 MB /
  * ~3s at sf0.1; ~1s with the kernel). What still shuffles is what the
  * semantics require: global keep-first canonicalization — the
  * lexicographic (doc_id, start) struct-min on the fingerprint key, the
  * exact [[SegmentDedup]] recipe, so the two ledgers differ ONLY in how
  * boundaries are chosen — and the per-doc rollup; both move 2-column
  * chunk rows, never tokens.
  *
  * Determinism: boundaries/fingerprints are md5-derived ([[Md5Hash.h32]] /
  * md5 hex, same byte-fold definitions); token order inside a chunk is
  * pinned by position; all emitted values are integer counts plus one
  * rounded percentage. The unchanged DuckDB oracle recomputes the whole
  * pipeline declaratively — the kernel's parity gate.
  */
object CdcChunks {

  /** Tokens hashed per boundary test (the gram width). */
  val GramK = 3

  /** Boundary divisor: P[boundary] = 1/D per position → expected chunk
    * length D tokens. One value, both engines.
    */
  val Divisor = 8

  def cdcLedger(spark: SparkSession, dir: String): DataFrame =
    cdcLedgerDf(Dedup.dupFeed(spark, dir))

  /** Injection point for the shift-resistance spec: the ledger over ANY
    * (doc_id, text) feed.
    */
  private[graft] def cdcLedgerDf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = docs
      .select($"doc_id", explode(expr("graft_cdc_chunks(text)")).as("ch"))
      .select($"doc_id", $"ch.fp".as("fp"), $"ch.s".as("s"))
    val canon = chunks.groupBy($"fp")
      .agg(min(struct($"doc_id", $"s")).as("first_key"))
    chunks.join(canon, "fp")
      .withColumn("kept",
        when(struct($"doc_id", $"s") === $"first_key", 1L).otherwise(0L))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum($"kept").as("n_kept"),
        (count(lit(1)) - sum($"kept")).as("n_dropped"),
        round((count(lit(1)) - sum($"kept")) * lit(100.0) / count(lit(1)), 2)
          .as("pct_dropped"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> (cdcLedger _))

  private val feedSql = """SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0"""

  val oracle: Map[String, String] = Map(
    "dedup_cdc_chunks" -> s"""WITH feed AS ($feedSql),
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM feed),
pos AS (
  SELECT doc_id, p, t[p+1] AS tok,
         CASE WHEN p + $GramK <= len(t)
               AND ${Md5Hash.h32Sql(s"array_to_string(t[p+1 : p+$GramK], ' ')")}
                   % $Divisor = 0
              THEN 1 ELSE 0 END AS flag
  FROM toks, LATERAL (SELECT unnest(range(0, len(t))) AS p)),
chunked AS (
  SELECT doc_id, p, tok,
         coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
  FROM pos),
chunks AS (
  SELECT doc_id, cid, md5(string_agg(tok, ' ' ORDER BY p)) AS fp,
         min(p) AS s
  FROM chunked GROUP BY doc_id, cid),
canon AS (
  SELECT fp, min({'doc_id': doc_id, 's': s}) AS first_key
  FROM chunks GROUP BY fp)
SELECT c.doc_id,
       count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN {'doc_id': c.doc_id, 's': c.s} = k.first_key
                THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       (count(*) - sum(CASE WHEN {'doc_id': c.doc_id, 's': c.s} = k.first_key
                            THEN 1 ELSE 0 END))::BIGINT AS n_dropped,
       round((count(*) - sum(CASE WHEN {'doc_id': c.doc_id, 's': c.s} = k.first_key
                                  THEN 1 ELSE 0 END)) * 100.0 / count(*), 2)
         AS pct_dropped
FROM chunks c JOIN canon k USING (fp)
GROUP BY c.doc_id
ORDER BY c.doc_id""")
}

package graft.streaming

import graft.dedup.MinHashLsh
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming NEAR-duplicate dedup — MinHash-LSH bucket claims held in
  * `flatMapGroupsWithState` (the custom-state operator SURVEY §2.9 calls
  * for beyond the built-in `dropDuplicates*`).
  *
  * [[IncrementalIngest.dedupDocs]] drops EXACT re-deliveries (fingerprint
  * equality); a corpus ingest also sees *near*-duplicates — syndicated
  * mirrors, boilerplate-wrapped re-crawls — that no exact key catches. The
  * batch answer is [[MinHashLsh]]; the streaming answer keeps the SAME
  * signature pipeline map-side (shingles → 32 universal-hash mins →
  * 8 banded buckets, identical md5-derived constants) and replaces the
  * bucket self-JOIN with bucket STATE: the first document to carry a
  * (band, bucket) claims it; any later document whose EVERY band is
  * already claimed by someone else is a near-duplicate and is dropped.
  * "First" is by doc_id within a micro-batch (deterministic — no
  * arrival-order dependence) and by batch order across batches (state
  * persists in the checkpoint, so a bucket claimed on Monday still kills
  * Tuesday's mirror).
  *
  * Scale notes (100 TB/day): the stream never joins or shuffles documents
  * — each doc's signature is computed map-side, and the only shuffle is
  * the (band, bucket) keyed exchange into the state store, 8 small rows
  * per doc. State is one boolean per distinct bucket WITHIN THE CLAIM
  * HORIZON: every claim carries an event-time timeout
  * (`GroupStateTimeout.EventTimeTimeout`, expiry = claim time +
  * [[DefaultClaimHorizonMs]]) and is REMOVED once the watermark passes it,
  * so state size is bounded by the horizon's bucket diversity, not by
  * corpus size — for novel text at 100 TB/day those are very different
  * numbers. The contract is the one `dropDuplicatesWithinWatermark`
  * documents: a mirror inside the horizon is dropped, a re-delivery past
  * it is kept (and re-claims); StreamNearDedupSpec proves both directions
  * plus the post-expiry state bound. Greedy
  * any-band-collision is the standard streaming relaxation of
  * LSH-then-verify: candidates are dropped without the exact-Jaccard
  * confirmation pass (which needs the full shingle index), trading the
  * S-curve's false-positive rate ([[MinHashLsh.sCurve]]) for a
  * single-pass, join-free ingest.
  *
  * Every constant is shared with the batch family ([[MinHashLsh.Coeffs]],
  * [[Md5Hash.P]]), so the DuckDB oracle re-derives signatures, buckets,
  * first-claims (`row_number() OVER (PARTITION BY band, bucket ORDER BY
  * doc_id)`), and the per-language survivor ledger exactly.
  */
object StreamNearDedup {

  /** Every 3rd document re-arrives as a near-dup "syndicated mirror":
    * fresh id, a few appended boilerplate tokens (median corpus doc has
    * ~54 shingles, so mirror Jaccard ≈ 0.9 → ≥99 % of mirrors collide in
    * at least one band). One definition, both engines.
    */
  val MirrorModulo = 3L
  val MirrorIdOffset = 1000000L
  val MirrorSuffix = " syndicated mirror copy"

  /** Event-time claim horizon: a (band, bucket) claim older than this (and
    * not refreshed by newer hits) expires out of the state store. 30 days
    * covers the re-crawl clustering a syndication feed exhibits while
    * keeping state bounded by a month's bucket diversity instead of the
    * corpus's lifetime size.
    */
  val DefaultClaimHorizonMs: Long = 30L * 86400L * 1000L

  /** Deterministic event time for the oracle-checked feed — one constant,
    * so the single-batch entry can never interact with the watermark and
    * the ledger stays exactly the batch first-claim semantics.
    */
  val FeedEpochSec = 1700000000L

  // public: codegen'd row projections live outside this object and cannot
  // touch private classes
  case class BandRow(doc_id: Long, lang: String, band: Int, bucket: String,
      ts: java.sql.Timestamp)
  case class BandVerdict(doc_id: Long, lang: String, band: Int, fresh: Boolean)

  /** First-claim state function: a (band, bucket) group's state is the
    * NEWEST event time at which the bucket was hit (its existence = "the
    * bucket is claimed"). Within a batch the min-doc_id row is the
    * claimant (deterministic); across batches the checkpointed state wins.
    * Every invocation with data refreshes the claim's event-time timeout
    * to (max-seen hit + horizon) — max over ALL batches, not just this
    * one, so an out-of-order (non-late) re-delivery can never move the
    * expiry BACKWARD below a newer hit's horizon. When the watermark
    * passes the timeout the group is invoked with `hasTimedOut` and the
    * claim is REMOVED — a later re-delivery of the same content claims
    * the bucket afresh. Emits one verdict row per (doc, band).
    */
  private def claim(horizonMs: Long)(key: (Int, String),
      rows: Iterator[BandRow],
      state: GroupState[Long]): Iterator[BandVerdict] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = rows.toArray.sortBy(_.doc_id)
      val alreadyClaimed = state.exists
      val batchMax = sorted.map(_.ts.getTime).max
      val maxSeen =
        if (alreadyClaimed) math.max(state.get, batchMax) else batchMax
      state.update(maxSeen)
      // watermark-filtered input guarantees batchMax >= watermark, so the
      // timeout is always legally in the watermark's future
      state.setTimeoutTimestamp(maxSeen + horizonMs)
      sorted.iterator.zipWithIndex.map { case (r, i) =>
        BandVerdict(r.doc_id, r.lang, r.band, !alreadyClaimed && i == 0)
      }
    }
  }

  /** Map-side banded signature of a (doc_id, text, lang) stream: one row
    * per (doc, band). No aggregation, no shuffle — the whole signature is
    * ONE native kernel call per row ([[graft.functions.MinHashSignature]],
    * invoked from whole-stage codegen). The declarative HOF chain this
    * replaces (split → shingle transform → md5 transform → 32 array_min
    * transforms) was the entry's real cost: interpreted lambdas plus
    * optimizer project-collapsing re-inlining the upstream arrays into
    * every consumer put 10–14 s of a 15 s wall into addBatch at sf0.1
    * (see the kernel's scaladoc). After the swap the full sf0.1 stream
    * runs 4.6–5.4 s quiet, and the remainder is measured HARNESS FLOOR,
    * not per-row work (graft.StreamProfile: a 100-row feed costs ~8 s on
    * a cold session — codegen warm-up + state-store init — and the warm
    * fixed cost is ≈ 1.5 s startup + ≈ 2–3 s batch-0 scheduling/commit +
    * ≈ 1 s for the watermark's no-data timeout batch; the 6.7k-doc feed
    * adds under 1 s on top). Values are bit-identical (same md5-h32,
    * same coefficients, same band buckets), so the DuckDB oracle text is
    * unchanged.
    */
  private def banded(docs: DataFrame): DataFrame = {
    docs
      .withColumn("sig", expr("graft_minhash_sig(text)"))
      .filter(size(col("sig")) > 0) // <3-token docs: no shingles, drop
      .select(col("doc_id"), col("lang"), col("ts"),
        explode(expr(
          s"""transform(sequence(0, ${MinHashLsh.Bands - 1}),
             |  b -> struct(CAST(b AS INT) AS band,
             |              md5(concat_ws(',',
             |                transform(slice(sig, b * ${MinHashLsh.RowsPerBand} + 1,
             |                                ${MinHashLsh.RowsPerBand}),
             |                          v -> cast(v AS STRING)))) AS bucket))
             |""".stripMargin)).as("bb"))
      .select(col("doc_id"), col("lang"), col("bb.band"), col("bb.bucket"),
        col("ts"))
  }

  /** The streaming query: file source → map-side banding → bucket-claim
    * state (event-time claim expiry after `horizonMs`) → per-(doc, band)
    * verdict rows appended to `outDir`.
    */
  def nearDedup(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String,
      horizonMs: Long = DefaultClaimHorizonMs,
      watermarkDelay: String = "0 seconds"): StreamingQuery = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, ts TIMESTAMP"))
      .parquet(srcDir)
      .filter(col("ts").isNotNull)
      // zero-delay watermark by default: claims expire as soon as observed
      // event time passes them; a feed with out-of-order arrival sets its
      // lateness tolerance here (which is also what makes the max-seen
      // timeout discipline in [[claim]] observable — see the rewind spec)
      .withWatermark("ts", watermarkDelay)
    StreamRun.parquet(banded(docs)
      .as[BandRow]
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(claim(horizonMs)),
      outDir, checkpointDir)
  }

  /** Doc-level survivor ledger of a verdict sink: greedy LSH dedup drops
    * a doc when ANY of its buckets was already claimed by another doc, so
    * kept ⇔ ALL bands fresh. (A doc that loses some bands but claims
    * others is a partial near-match — the conservative ingest drops it;
    * the S-curve governs how often that fires on genuinely-novel text.)
    */
  private[graft] def ledger(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(when(col("fresh"), 1).otherwise(0)).as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("bigint").as("n_kept"),
        (count(lit(1)) - sum(col("keep"))).cast("bigint").as("n_dropped"))
      .orderBy(col("lang"))

  /** The duplicate-bearing feed: corpus + near-dup mirrors of every
    * [[MirrorModulo]]-th doc.
    */
  private[graft] def feed(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"),
        timestamp_seconds(lit(FeedEpochSec)).as("ts"))
    docs.unionByName(docs
      .filter(pmod(col("doc_id"), lit(MirrorModulo)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(MirrorIdOffset))
      .withColumn("text", concat(col("text"), lit(MirrorSuffix))))
  }

  /** End-to-end oracle-checked entry: land the mirror-bearing feed, run
    * the stateful stream to termination (one AvailableNow micro-batch —
    * in-batch claim order is min-doc_id, matching the oracle's
    * `row_number`), and emit the per-language survivor ledger.
    * StreamNearDedupSpec drives the same pipeline across TWO micro-batches
    * to prove checkpointed claims kill later-batch mirrors.
    */
  def entry(spark: SparkSession, dir: String): DataFrame =
    ledger(spark.read.parquet(run(spark, dir).out))

  /** The run of [[entry]], whose checkpoint the state readers inspect. */
  private def run(spark: SparkSession, dir: String): StreamRun.Dirs =
    // NOT skipNoDataBatches: the ledger sink would be unchanged (the
    // timeout path emits nothing), but stream_state_metadata reads this
    // run's checkpoint and its oracle PINS the no-data batch's existence
    // (max_batch = 1) — the trailing batch is part of the checked output
    StreamRun(spark, "graft-stream-neardedup", dir) { (ss, r) =>
      feed(spark, dir).write.mode("overwrite").parquet(r.src)
      nearDedup(ss, r.src, r.out, r.ckpt)
    }

  /** The claim state read BACK through Spark's state-store data source
    * (`spark.read.format("statestore")`) — the operational window every
    * stateful deployment needs: how many (band, bucket) claims does the
    * checkpoint actually hold, per band? After the entry's single
    * micro-batch, every distinct bucket in the feed holds exactly one
    * claim, so the DuckDB twin recomputes the per-band DISTINCT bucket
    * count from the shared signature pipeline — the internal state store's
    * content is hash-verified against an independent engine, which also
    * pins the store's row count = the bound the eviction scaladoc claims.
    */
  def stateInspect(spark: SparkSession, dir: String): DataFrame = {
    spark.read.format("statestore")
      .option("path", run(spark, dir).ckpt)
      .load()
      .select(col("key._1").as("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("band"))
  }

  /** The checkpoint's operator-metadata catalog
    * (`spark.read.format("state-metadata")`) — the first question an
    * on-call engineer asks of an unfamiliar checkpoint: which stateful
    * operators does it hold, under how many state partitions, across which
    * batch range? Every field is deterministic for the entry's single
    * AvailableNow batch (operator 0 = flatMapGroupsWithState,
    * [[IncrementalIngest.StreamShufflePartitions]] partitions, batch 0..0),
    * so the oracle is a constant row — which is precisely the check: the
    * checkpoint layout itself is pinned cross-engine.
    */
  def stateMetadata(spark: SparkSession, dir: String): DataFrame = {
    spark.read.format("state-metadata")
      .load(run(spark, dir).ckpt)
      .select(col("operatorId").cast("bigint").as("operator_id"),
        col("operatorName").as("operator_name"),
        col("stateStoreName").as("store_name"),
        col("numPartitions").cast("bigint").as("n_partitions"),
        col("minBatchId").cast("bigint").as("min_batch"),
        col("maxBatchId").cast("bigint").as("max_batch"))
      .orderBy(col("operator_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_near_dedup" -> (entry _),
    "stream_state_inspect" -> (stateInspect _),
    "stream_state_metadata" -> (stateMetadata _))

  /** DuckDB twin, re-derived from the shared constants: feed → shingles →
    * 32-min signatures → 8 band buckets → first-claim by
    * `row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id)` →
    * all-bands-fresh verdict → per-language ledger.
    */
  val oracle: Map[String, String] = {
    val p = Md5Hash.P
    val sigCols = MinHashLsh.Coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $p) AS s$i"
    }.mkString(",\n         ")
    val bandSelects = (0 until MinHashLsh.Bands).map { b =>
      val cols = (0 until MinHashLsh.RowsPerBand)
        .map(r => s"s${b * MinHashLsh.RowsPerBand + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"  SELECT doc_id, $b AS band, md5($cols) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n")
    // shared CTE chain (feed → … → banded): the ledger oracle extends it
    // with claims/verdict; the state-inspect oracle counts its buckets
    val bandedCte = s"""WITH feed AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + $MirrorIdOffset, text || '$MirrorSuffix', lang
  FROM documents WHERE doc_id % $MirrorModulo = 0),
toks AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM feed),
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
    Map(
      // max_batch is 1, not 0: after the data batch advances the
      // watermark, the engine runs one no-data batch to fire event-time
      // timeouts — the checkpoint records both
      "stream_state_metadata" -> s"""SELECT 0::BIGINT AS operator_id,
       'flatMapGroupsWithState' AS operator_name,
       'default' AS store_name,
       ${IncrementalIngest.StreamShufflePartitions}::BIGINT AS n_partitions,
       0::BIGINT AS min_batch,
       1::BIGINT AS max_batch""",

      "stream_state_inspect" -> s"""$bandedCte
SELECT band::INT AS band,
       count(DISTINCT bucket)::BIGINT AS n_buckets
FROM banded
GROUP BY band
ORDER BY band""",

      "stream_near_dedup" -> s"""$bandedCte,
claims AS (
  SELECT doc_id, band, bucket,
         row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) = 1
           AS fresh
  FROM banded),
verdict AS (
  SELECT doc_id, CASE WHEN bool_and(fresh) THEN 1 ELSE 0 END AS keep
  FROM claims GROUP BY 1)
SELECT t.lang,
       count(*)::BIGINT AS n_docs,
       sum(v.keep)::BIGINT AS n_kept,
       (count(*) - sum(v.keep))::BIGINT AS n_dropped
FROM verdict v JOIN toks t USING (doc_id)
GROUP BY t.lang
ORDER BY t.lang""")
  }
}

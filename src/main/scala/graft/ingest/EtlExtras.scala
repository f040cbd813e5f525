package graft.ingest

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ETL hygiene beyond the reference's pipeline (SURVEY §2.2): schema
  * evolution across feed generations, deterministic pseudonymization, and
  * sequence-gap detection — the three ops a long-lived ingest grows into
  * (feeds drift, compliance wants keys masked, upstream loses batches).
  */
object EtlExtras {

  /** Old-generation rows (even event_id) arrive WITHOUT the later-added
    * `value`/`props` columns. The id filter is null-rejecting on BOTH
    * branches (pmod(NULL) is NULL → neither generation), so the oracle
    * mirrors it with an explicit `event_id IS NOT NULL`.
    */
  private def isGen0 = pmod(col("event_id"), lit(2)) === 0

  /** Ids are dropped in runs of [[GapRun]] to plant recoverable sequence
    * gaps ((id div GapRun) ≡ 7 mod [[GapEvery]] — the raw feed is dense, so
    * the detector must be fed genuine holes).
    */
  val GapRun = 10
  val GapEvery = 50

  /** Land the two feed generations as genuinely differently-schemaed parquet
    * (gen0 lacks `value`/`props`), once per (app, corpus).
    */
  private def landGenerations(spark: SparkSession, dir: String): (String, String) =
    graft.Scratch.memo(spark, "graft-evolve", dir, perRun = true) { base =>
      val e = Tables.events(spark, dir)
      e.filter(isGen0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$base/gen0")
      e.filter(!isGen0)
        .write.mode("overwrite").parquet(s"$base/gen1")
      (s"$base/gen0", s"$base/gen1")
    }

  /** Schema-evolution ingest: two feed generations land with drifted
    * schemas; `Sources.unionEvolved` aligns them by NAME with declared
    * defaults (value → 0.0, props → '{}'), and the result rolls up per
    * generation so the back-fill is visible (`n_defaulted` = every gen0
    * row). The same pair of directories read with parquet `mergeSchema`
    * plans the identical union (EtlExtrasSpec pins the semantics).
    *
    * Scale shape: the union is metadata-only (no shuffle); the rollup is a
    * 2-group aggregate with map-side partials.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (gen0, gen1) = landGenerations(spark, dir)
    val g0 = spark.read.schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING").parquet(gen0).withColumn("gen", lit(0))
    val g1 = spark.read.schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING").parquet(gen1)
      .withColumn("gen", lit(1))
    graft.sources.Sources.unionEvolved(
      Seq(g0, g1),
      Map("value" -> lit(0.0), "props" -> lit("{}")))
      .groupBy($"gen")
      .agg(
        count(lit(1)).as("n"),
        count(when($"props" === "{}", 1)).as("n_defaulted"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("value_sum"),
        countDistinct($"event_type").as("n_types"))
      .orderBy($"gen")
  }

  /** Deterministic pseudonymization: `user_id` → salted md5 surrogate. The
    * mapping is stable (same input, same surrogate — referential integrity
    * across tables survives) yet the raw key never leaves the query. Output
    * is the per-surrogate activity profile, proving the surrogate still
    * joins/aggregates like the original key.
    */
  def pseudonymize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(
        md5(concat(lit("pseud:"), $"user_id".cast("string"))).as("user_key"),
        $"event_type", $"ts")
      .groupBy($"user_key")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"event_type").as("n_types"),
        to_date(min($"ts")).as("first_date"),
        to_date(max($"ts")).as("last_date"))
      .orderBy($"user_key")
  }

  /** Sequence-gap detection (gaps-and-islands over the id space): report
    * each missing [from, to] run of event_ids. One window pass ordered
    * within the single id sequence; the planted drops make the detector's
    * output non-trivial.
    *
    * Scale note: the global `lag` orders the whole id space — at 100 TB
    * this runs per natural partition (day/shard) with only the per-
    * partition boundary ids reconciled on the driver; the in-partition
    * query is exactly this one.
    */
  def idGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kept = Tables.events(spark, dir)
      .filter(pmod(expr(s"event_id DIV $GapRun"), lit(GapEvery)) =!= 7)
      .select($"event_id")
    val w = Window.orderBy($"event_id")
    kept
      .withColumn("prev_id", lag($"event_id", 1).over(w))
      .filter($"prev_id".isNotNull && $"event_id" - $"prev_id" > 1)
      .select(
        ($"prev_id" + 1).as("gap_from"),
        ($"event_id" - 1).as("gap_to"),
        ($"event_id" - $"prev_id" - 1).as("gap_width"))
      .orderBy($"gap_from")
  }

  /** Max name edit distance for a [[recordLinkage]] candidate match — one
    * value, both engines.
    */
  val LinkMaxDist = 1

  /** Blocking-based record linkage — the master-data-management operator a
    * patient registry (the reference's domain) runs to find probable
    * duplicate identities across feeds: candidate pairs are scored by
    * `levenshtein` name distance, keeping pairs within [[LinkMaxDist]]
    * inside a nation block.
    *
    * Candidate generation is a SymSpell-style SUBSTITUTION-NEIGHBORHOOD
    * index, not a block-quadratic join: each name emits one wildcard key
    * per character position (position i replaced by '*'), and two
    * same-length names at substitution distance ≤ 1 provably share the
    * wildcard key at their (single) differing position — the same
    * pigeonhole that drives the SimHash chunk buckets. The candidate join
    * is a plain equi-join on (nation, position, key) whose groups are
    * near-singletons, so the pair space never materializes Σ|block|² (the
    * within-nation quadratic form of this query measured ~12 s at sf0.1;
    * this one is sub-second for identical output). The id scheme here is
    * fixed-width, so substitution distance IS edit distance; feeds with
    * variable-length names extend the index with SymSpell's deletion keys
    * to cover indels — same plan shape. `levenshtein` (codegen'd Spark ↔
    * classic exact DuckDB) re-scores each candidate, so emitted distances
    * hash-compare bit-for-bit; the oracle is the unindexed within-nation
    * join, which doubles as the recall proof.
    *
    * Fan-out bound (the df-cap question, audited): a (nation, i, wkey)
    * group is the set of names identical everywhere EXCEPT position i, so
    * with distinct names its size is capped by the alphabet at that
    * position (≤ 10 for the digit positions here, ≤ |Σ| generally) —
    * constant, never corpus-linear. Under exact-name DUPLICATION a group
    * grows with the duplicate count d, but every within-group pair is then
    * a TRUE dist-0 match the operator must emit, so candidate volume is
    * Θ(output) — a df-cap would drop required matches, unlike the
    * curate_ngram_overlap case where capped grams are redundant evidence.
    * The production guard for duplicate-heavy feeds is upstream: collapse
    * exact identities first (`etl_staging_dedup`), then link the distinct
    * names. Shuffle volume is |rows|·L wildcard keys — linear in corpus
    * size with a fixed-width id scheme.
    */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread the scan: the L-position wildcard expansion and the
    // levenshtein re-score otherwise run in the customer file's single
    // row-group task (Tables.spreadNarrowScan — exchange only for inputs
    // too small to split)
    val c = Tables.spreadNarrowScan(Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_nationkey"))
    val keyed = c
      .select($"c_custkey", $"c_name", $"c_nationkey",
        explode(expr("sequence(1, length(c_name))")).as("i"))
      .withColumn("wkey", expr(
        """concat(substring(c_name, 1, i - 1), '*',
          |       substring(c_name, i + 1, length(c_name)))""".stripMargin))
    keyed.as("a").join(keyed.as("b"),
        col("a.c_nationkey") === col("b.c_nationkey")
          && col("a.i") === col("b.i")
          && col("a.wkey") === col("b.wkey")
          && col("a.c_custkey") < col("b.c_custkey"))
      .select(
        col("a.c_custkey").as("id_a"),
        col("b.c_custkey").as("id_b"),
        col("a.c_name").as("name_a"),
        col("b.c_name").as("name_b"),
        levenshtein(col("a.c_name"), col("b.c_name")).as("name_dist"),
        col("a.c_nationkey").as("block_key"))
      .filter($"name_dist" <= LinkMaxDist)
      .distinct()
      .orderBy($"id_a", $"id_b")
  }

  /** Per-source freshness ledger — the first page of every pipeline-ops
    * dashboard: row volume and the newest event/business timestamp per
    * landed table, as epoch-day ints (a DATE/TIMESTAMP output column is
    * banned by the cross-engine compare; days are what staleness alerts
    * key on anyway). A stale `latest_day` is how silent upstream stalls
    * surface — the check runs BEFORE any correctness question makes
    * sense. Each row is one count+max scan of only the timestamp column;
    * at 100 TB these fold to parquet footer statistics.
    */
  def freshnessReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      ("events", Tables.events(spark, dir)
        .filter($"ts".isNotNull)
        .agg(count(lit(1)).as("n_rows"),
          max(datediff(to_date($"ts"), lit("1970-01-01"))).as("latest_day"))),
      ("orders", Tables.orders(spark, dir)
        .agg(count(lit(1)).as("n_rows"),
          max(datediff(to_date($"o_orderdate"), lit("1970-01-01")))
            .as("latest_day"))),
      ("lineitem", Tables.lineitem(spark, dir)
        .agg(count(lit(1)).as("n_rows"),
          max(datediff(to_date($"l_shipdate"), lit("1970-01-01")))
            .as("latest_day"))))
    rows.map { case (name, df) =>
      df.select(lit(name).as("table_name"), $"n_rows", $"latest_day")
    }.reduce(_ unionByName _)
      .orderBy($"table_name")
  }

  /** Planted outage: days with day_no ≡ [[OutageResidue]] (mod
    * [[OutageEvery]]) are withheld from the landed set — the raw feed has
    * no naturally missing days, and the planner must be fed real holes
    * (same fixture philosophy as the [[GapRun]] id drops).
    */
  val OutageEvery = 37
  val OutageResidue = 5

  /** Backfill planner — the first step of every recovery runbook: diff the
    * landed partition set against the expected calendar spine and emit the
    * missing ranges as contiguous [from, to] windows (one backfill job per
    * window, not per day). Gaps-and-islands over the CALENDAR-sized day
    * table: `day_no − row_number()` is constant within a contiguous run,
    * so one window pass + one group-by compresses the holes. At 100 TB the
    * landed set comes from partition listings/manifest, not a scan — the
    * plan below only ever touches day-grain rows either way.
    */
  def backfillPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select(datediff(to_date($"ts"), lit("1970-01-01")).as("day_no"))
      .distinct()
    val landed = days.filter(pmod($"day_no", lit(OutageEvery)) =!= OutageResidue)
    val bounds = days.agg(min($"day_no").as("lo"), max($"day_no").as("hi"))
    val spine = bounds.select(
      explode(sequence($"lo", $"hi")).as("day_no"))
    val missing = spine.join(landed, Seq("day_no"), "left_anti")
    val w = Window.orderBy($"day_no")
    missing
      .withColumn("grp", $"day_no" - row_number().over(w))
      .groupBy($"grp")
      .agg(min($"day_no").as("from_day"), max($"day_no").as("to_day"),
        count(lit(1)).as("n_days"))
      .select($"from_day", $"to_day", $"n_days")
      .orderBy($"from_day")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_backfill_plan" -> (backfillPlan _),
    "src_schema_evolution" -> (schemaEvolution _),
    "etl_pseudonymize" -> (pseudonymize _),
    "etl_record_linkage" -> (recordLinkage _),
    "etl_freshness_report" -> (freshnessReport _),
    "etl_id_gaps" -> (idGaps _))

  val oracle: Map[String, String] = Map(
    "etl_backfill_plan" -> s"""WITH days AS (
  SELECT DISTINCT datediff('day', DATE '1970-01-01', ts::DATE) AS day_no
  FROM events WHERE ts IS NOT NULL),
landed AS (
  SELECT day_no FROM days WHERE day_no % $OutageEvery <> $OutageResidue),
spine AS (
  SELECT unnest(range((SELECT min(day_no) FROM days),
                      (SELECT max(day_no) FROM days) + 1)) AS day_no),
missing AS (
  SELECT s.day_no FROM spine s
  ANTI JOIN landed l ON s.day_no = l.day_no),
runs AS (
  SELECT day_no,
         day_no - row_number() OVER (ORDER BY day_no) AS grp
  FROM missing)
SELECT min(day_no)::INT AS from_day, max(day_no)::INT AS to_day,
       count(*)::BIGINT AS n_days
FROM runs GROUP BY grp
ORDER BY from_day""",

    "etl_freshness_report" -> """SELECT 'events' AS table_name,
       count(*)::BIGINT AS n_rows,
       max(datediff('day', DATE '1970-01-01', ts::DATE))::INT AS latest_day
FROM events WHERE ts IS NOT NULL
UNION ALL
SELECT 'orders', count(*)::BIGINT,
       max(datediff('day', DATE '1970-01-01', o_orderdate::DATE))::INT
FROM orders
UNION ALL
SELECT 'lineitem', count(*)::BIGINT,
       max(datediff('day', DATE '1970-01-01', l_shipdate::DATE))::INT
FROM lineitem
ORDER BY table_name""",

    "etl_record_linkage" -> s"""SELECT
       a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name)::INT AS name_dist,
       a.c_nationkey AS block_key
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) <= $LinkMaxDist
ORDER BY id_a, id_b""",

    // the oracle reconstructs the generation split semantically: gen0 rows
    // are exactly the even event_ids with value/props default-filled
    "src_schema_evolution" -> """WITH unioned AS (
  -- mirrors the Spark side exactly: NULL event_ids fall out of BOTH
  -- generation filters, and unionEvolved's declared defaults coalesce a
  -- naturally-NULL gen1 value/props too, not just the gen0 back-fill
  SELECT event_id, event_type,
         CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS gen,
         CASE WHEN event_id % 2 = 0 THEN 0.0 ELSE coalesce(value, 0.0) END
           AS value,
         CASE WHEN event_id % 2 = 0 THEN '{}' ELSE coalesce(props, '{}') END
           AS props
  FROM events WHERE event_id IS NOT NULL)
SELECT gen, count(*)::BIGINT AS n,
       count(CASE WHEN props = '{}' THEN 1 END)::BIGINT AS n_defaulted,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum,
       count(DISTINCT event_type)::BIGINT AS n_types
FROM unioned GROUP BY gen ORDER BY gen""",

    "etl_pseudonymize" -> """SELECT
  md5('pseud:' || CAST(user_id AS VARCHAR)) AS user_key,
  count(*)::BIGINT AS n_events,
  count(DISTINCT event_type)::BIGINT AS n_types,
  CAST(min(ts) AS DATE) AS first_date,
  CAST(max(ts) AS DATE) AS last_date
FROM events
GROUP BY 1 ORDER BY user_key""",

    "etl_id_gaps" -> s"""WITH kept AS (
  SELECT event_id FROM events
  WHERE (event_id // $GapRun) % $GapEvery <> 7),
seq AS (
  SELECT event_id,
         lag(event_id) OVER (ORDER BY event_id) AS prev_id
  FROM kept)
SELECT prev_id + 1 AS gap_from, event_id - 1 AS gap_to,
       event_id - prev_id - 1 AS gap_width
FROM seq
WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
ORDER BY gap_from""")
}

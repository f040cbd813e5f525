package graft.sources

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sample/synthetic operators (SURVEY §2.1 S1-S4 + J9) — the
  * reference's external-ingest surface re-expressed deterministically.
  *
  * The reference's external source is a HuggingFace download with a seeded
  * shuffle-sample and a synthetic fallback generator
  * (`/root/reference/src/etl_pipeline.py:20-63`); its "random assignment"
  * join picks a random patient/facility per staged record (`:142-147`).
  * Random choices are replaced by md5-bucket determinism so every operator
  * is reproducible across retries, cluster sizes, AND the DuckDB oracle —
  * nondeterminism in a distributed pipeline is a correctness bug the
  * reference only tolerates because it runs single-threaded.
  *
  * Scale notes: hash-sampling is a pure map-side filter (no orderBy-rand
  * global sort, which would shuffle the full corpus to sample 12 % of it);
  * the assignment join broadcasts the 16-row pool.
  */
object Sources {

  /** S2: deterministic sample — hash-bucket filter (md5 first hex digit in
    * 0..1 → exactly-reproducible ~1/8 sample) instead of
    * `shuffle(seed).select(range(n))`: same capability, no global sort, no
    * RNG state, identical on any engine.
    */
  def seededSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter(substring(md5($"event_id".cast("string")), 1, 1) < "2")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** Exact-N per stratum for [[stratifiedSample]]. */
  val StratumN = 20

  /** Exact-N stratified sample: exactly min(N, |stratum|) documents per
    * source, chosen as the N lowest md5 ranks within the stratum — the
    * eval-set construction primitive (rate-based sampling like
    * [[seededSample]] can't promise a count; a seeded global shuffle can't
    * promise reproducibility across engines). One keyed window per stratum
    * (partitioned — never a global sort); the rank is a pure function of
    * the id, so membership is recomputable anywhere.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(md5(concat(lit("strat:"), $"doc_id".cast("string"))))
    Tables.documents(spark, dir)
      .withColumn("rank_in_stratum", row_number().over(w))
      .filter($"rank_in_stratum" <= StratumN)
      .select($"source", $"rank_in_stratum", $"doc_id", $"lang", $"n_chars")
      .orderBy($"source", $"rank_in_stratum")
  }

  /** S3: synthetic fallback source — `spark.range` + deterministic column
    * expressions replaces the Faker row loop (the driver-testdata generator
    * plays the reference's `generate_synthetic_data.py` role; this operator
    * is the engine-side fallback-source capability).
    */
  def syntheticEvents(spark: SparkSession, n: Int = 1000): DataFrame = {
    import spark.implicits._
    spark.range(n).select(
      $"id".as("event_id"),
      to_timestamp(lit("2024-01-01 00:00:00")).plus(
        expr("make_interval(0, 0, 0, 0, 0, id, 0)")).as("ts"),
      pmod($"id", lit(97)).as("user_id"),
      element_at(
        array(lit("click"), lit("view"), lit("signup"), lit("purchase"), lit("error")),
        (pmod($"id", lit(5)) + 1).cast("int")).as("event_type"),
      (pmod($"id" * 37, lit(10000)) / lit(100.0)).as("value"))
  }

  private def synthetic(spark: SparkSession, dir: String): DataFrame =
    syntheticEvents(spark).orderBy(col("event_id"))

  /** J9: assignment join — each event deterministically "assigned" an owner
    * from a 16-row pool (reference: `ORDER BY RANDOM() LIMIT k` pool +
    * `random.choice` per record). Bucket = first md5 hex digit of the key;
    * pool = the 16 lowest customer keys, indexed 0-15; broadcast join.
    */
  def assignmentJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hexDigit = ascii(substring(md5($"event_id".cast("string")), 1, 1))
    val bucket = when(hexDigit < 58, hexDigit - 48).otherwise(hexDigit - 87)
    val pool = Tables.customer(spark, dir)
      .orderBy($"c_custkey").limit(16)
      .select(($"c_custkey" - 1).cast("int").as("pool_idx"),
        $"c_custkey".as("assigned_patient"), $"c_name".as("assigned_name"))
    Tables.events(spark, dir)
      .select($"event_id", bucket.as("pool_idx"))
      .join(broadcast(pool), "pool_idx")
      .select($"event_id", $"assigned_patient", $"assigned_name")
      .orderBy($"event_id")
  }

  /** F13: multi-valued field split — word-frequency rollup of the document
    * corpus (`labels TEXT` comma-list analog): split → explode → count.
    */
  def wordFrequency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
  }

  // ---------------------------------------------------------------------
  // S4: Faker-style synthetic VOLUME generator — the reference's
  // `generate_synthetic_data.py:19-161` (facilities → patients → 1-8
  // encounters each → 1-3 procedures + 1-2 distinct diagnoses per
  // encounter, dates over a 2-year window, choices over fixed vocab
  // lists, facilities = patients/500 per `main()`).
  //
  // The reference's row-at-a-time Faker/`random` loop becomes
  // `spark.range` + md5-derived column expressions: every "choice" is
  // h32(tag:key) mod |options|, so the generated volume is identical on
  // every engine, retry, and cluster size — which is what makes a volume
  // generator USABLE as a distributed source (re-running a failed task
  // must regenerate the same rows) and lets DuckDB replay the whole
  // hierarchy for a bit-exact oracle.
  //
  // Scale: range sources are embarrassingly parallel (no input, no
  // shuffle); the per-patient encounter fan-out is bounded (≤8) via
  // explode(sequence), and the only join is a broadcast of the tiny
  // facility dimension. Generating 100 TB is `VolumePatients` scaled up —
  // no architectural change.

  private[graft] val VolumePatients = 2000
  private[graft] val VolumeFacilities = VolumePatients / 500
  private val FacilityTypes = Seq("Hospital", "Clinic", "Medical Center", "Urgent Care")
  private val EncounterTypes = Seq("Inpatient", "Outpatient", "Emergency")
  private val Modalities = Seq("X-Ray", "CT", "MRI", "Ultrasound")
  private val Projections = Seq("PA", "AP", "Lateral", "Oblique")
  // ICD-10 vocabulary from the reference's COMMON_DIAGNOSES
  // (/root/reference/src/config.py:32-43) — data semantics, codes only.
  private val DiagnosisCodes = Seq("J18.9", "J98.11", "I50.9", "J81.0",
    "J44.1", "R91.8", "J96.00", "J18.1", "I27.20", "J84.10")

  /** `random.choice(options)` twin: h32-indexed 1-based list pick. */
  private def pick(options: Seq[String], h: Column): Column =
    element_at(array(options.map(lit): _*),
      (h % options.size).cast("int") + 1)

  /** Patients exploded to encounter grain with the per-encounter derived
    * counts/choices; facility attrs linked by broadcast join.
    */
  private def encounterFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import Md5Hash.h32
    val facilities = spark.range(VolumeFacilities).select(
      ($"id" + 1).as("facility_id"),
      concat(lit("Facility "), $"id" + 1).as("facility_name"),
      pick(FacilityTypes, h32(concat(lit("ft:"), $"id" + 1))).as("facility_type"))
    val patients = spark.range(VolumePatients).select(
      ($"id" + 1).as("patient_id"),
      (lit(18) + h32(concat(lit("pa:"), $"id" + 1)) % 73).as("age"),
      pick(Seq("Male", "Female", "Other"),
        h32(concat(lit("ps:"), $"id" + 1))).as("sex"),
      (lit(1L) + h32(concat(lit("pe:"), $"id" + 1)) % 8).as("num_encounters"))
    patients
      .select($"patient_id", $"age", $"sex",
        explode(sequence(lit(1L), $"num_encounters")).as("enc_seq"))
      // dense deterministic surrogate: patient's slot-block + slot
      .withColumn("encounter_id", ($"patient_id" - 1) * 8 + $"enc_seq")
      .withColumn("ek", $"encounter_id".cast("string"))
      .withColumn("facility_id", lit(1L) + h32(concat(lit("ef:"), $"ek")) % VolumeFacilities)
      .join(broadcast(facilities), "facility_id")
  }

  /** S4 encounter grain: one row per generated encounter with patient +
    * facility attributes, a 2-year dated visit, and the encounter's
    * diagnosis sample (primary always; distinct secondary for the
    * `random.sample(codes, 2)` case).
    */
  def volumeEncounters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import Md5Hash.h32
    val codes = array(DiagnosisCodes.map(lit): _*)
    encounterFrame(spark)
      .withColumn("pidx", h32(concat(lit("d1:"), $"ek")) % 10)
      .select(
        $"encounter_id", $"patient_id", $"age", $"sex",
        date_add(to_date(lit("2022-06-01")),
          (h32(concat(lit("ed:"), $"ek")) % 731).cast("int")).as("encounter_date"),
        pick(EncounterTypes, h32(concat(lit("et:"), $"ek"))).as("encounter_type"),
        $"facility_id", $"facility_name", $"facility_type",
        (lit(1L) + h32(concat(lit("np:"), $"ek")) % 3).as("num_procedures"),
        element_at(codes, $"pidx".cast("int") + 1).as("primary_code"),
        when(h32(concat(lit("nd:"), $"ek")) % 2 === 1,
          element_at(codes,
            (($"pidx" + 1 + h32(concat(lit("d2:"), $"ek")) % 9) % 10).cast("int") + 1))
          .as("secondary_code"))
      .orderBy($"encounter_id")
  }

  /** S4 procedure grain: 1-3 imaging procedures per generated encounter,
    * `'{modality} {projection} Chest'`-named like the reference loop.
    */
  def volumeProcedures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import Md5Hash.h32
    encounterFrame(spark)
      .withColumn("num_procedures", lit(1L) + h32(concat(lit("np:"), $"ek")) % 3)
      .select($"encounter_id",
        explode(sequence(lit(1L), $"num_procedures")).as("proc_seq"))
      .withColumn("pk", concat($"encounter_id", lit(":"), $"proc_seq"))
      .withColumn("modality", pick(Modalities, h32(concat(lit("pm:"), $"pk"))))
      .withColumn("projection", pick(Projections, h32(concat(lit("pp:"), $"pk"))))
      .select($"encounter_id", $"proc_seq",
        concat($"modality", lit(" "), $"projection", lit(" Chest")).as("procedure_name"),
        $"modality", $"projection")
      .orderBy($"encounter_id", $"proc_seq")
  }

  /** JSONL corpus ingest — the de-facto LLM training-corpus interchange
    * format. The testdata ships parquet, so the operator first LANDS the
    * documents table as JSONL once per (app, corpus) (the sink half of the
    * format support), then reads it back with an EXPLICIT schema — never
    * schema inference, which at 100 TB is a full extra pass over the corpus
    * before the real one — and re-emits the table. The DuckDB oracle is the
    * original parquet table itself: the round trip must be lossless, field
    * for field (JSON string escaping, 64-bit ids, column order all exercised).
    */
  def jsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.memo(spark, "graft-jsonl", dir, perRun = true) { p =>
      Tables.documents(spark, dir).write.mode("overwrite").json(p)
      p
    }
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
      .json(path)
      .orderBy(col("doc_id"))
  }

  /** ORC corpus round trip — the OTHER columnar interchange format a lake
    * ingests beside parquet (Hive-era feeds still arrive as ORC). Lands
    * the documents table as ORC once per (app, corpus), reads it back with
    * the explicit schema, and re-emits; the DuckDB oracle is the original
    * parquet table, so the round trip is proven lossless field-for-field
    * (the oracle engine cannot read ORC — content equality against the
    * source is exactly the right check). ORC scans keep the same
    * pushdown/pruning properties as parquet in Spark, so downstream
    * operators are layout-agnostic.
    */
  def orcIngest(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.memo(spark, "graft-orc", dir, perRun = true) { p =>
      Tables.documents(spark, dir).write.mode("overwrite").orc(p)
      p
    }
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
      .orc(path)
      .orderBy(col("doc_id"))
  }

  /** Fixed-width (mainframe/COBOL-style) feed ingest — the third legacy
    * interchange format beside CSV and JSONL: no delimiters, columns live
    * at byte offsets. Spark has no fixed-width reader, and the CORRECT
    * native shape is exactly this: `spark.read.text` + `substring` column
    * expressions (codegen'd, pushdown-friendly) — never a per-line UDF.
    * The feed is landed once per (app, corpus) from the events table
    * (zero-padded ids, space-padded type, cents-scaled value so the
    * layout is sign- and decimal-free), then parsed back and proven
    * lossless against the parquet original by the oracle.
    *
    * Layout: event_id [1,12] · user_id [13,12] · event_type [25,12] ·
    * value_cents [37,12].
    */
  def fixedWidthIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = graft.Scratch.memo(spark, "graft-fixedwidth", dir, perRun = true) { p =>
      Tables.events(spark, dir)
        .filter($"event_id".isNotNull && $"user_id".isNotNull &&
          $"event_type".isNotNull && $"value".isNotNull)
        .select(format_string("%012d%012d%-12s%012d",
          $"event_id", $"user_id", $"event_type",
          ($"value".cast("decimal(12,2)") * 100).cast("long")).as("value"))
        .write.mode("overwrite").text(p)
      p
    }
    spark.read.text(path)
      .select(
        substring($"value", 1, 12).cast("bigint").as("event_id"),
        substring($"value", 13, 12).cast("bigint").as("user_id"),
        trim(substring($"value", 25, 12)).as("event_type"),
        substring($"value", 37, 12).cast("bigint").as("value_cents"))
      .orderBy($"event_id")
  }

  /** Rows corrupted in the landed CSV feed: every id with this residue mod
    * [[CsvCorruptEvery]] becomes a single-field junk line.
    */
  val CsvCorruptEvery = 101
  val CsvCorruptAt = 13

  /** CSV feed ingest with malformed-row quarantine — the other interchange
    * format next to [[jsonlIngest]], plus the failure mode JSONL doesn't
    * have (arity drift: truncated/garbage lines). The operator lands the
    * events feed as CSV once per (app, corpus) with deterministic planted
    * corruption, then reads it back with an EXPLICIT schema in PERMISSIVE
    * mode and `columnNameOfCorruptRecord` — bad lines surface as data (the
    * quarantine column) instead of failing the job or silently vanishing
    * (DROPMALFORMED). Output is the clean feed; SourcesSpec pins that clean
    * + quarantined = landed, and that exactly the planted lines quarantine.
    *
    * Scale shape: CSV parse is map-side (one pass, no shuffle but the
    * presentation sort); the corrupt-or-not split never re-reads the feed.
    */
  def csvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    csvRead(spark, dir)
      .filter(col("_corrupt").isNull)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  private[graft] def csvRead(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.memo(spark, "graft-csv", dir, perRun = true) { p =>
      Tables.events(spark, dir)
        .select(when(
          pmod(col("event_id"), lit(CsvCorruptEvery)) === CsvCorruptAt,
          concat(lit("GARBAGE|"), col("event_id").cast("string")))
          .otherwise(concat_ws(",",
            col("event_id"), col("user_id"), col("event_type"),
            col("value").cast("string")))
          .as("line"))
        .write.mode("overwrite").text(p)
      p
    }
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
  }

  /** Schema-evolution union: land batches whose schemas drifted (columns
    * added over time) as ONE frame. `unionByName(allowMissingColumns)`
    * aligns by NAME (positional union would silently misassign columns —
    * the classic evolved-feed corruption), null-fills history, then each
    * declared default back-fills its column so downstream code never sees
    * evolution nulls. The reference's fixed DDL sidesteps this; a long-kept
    * parquet feed cannot. Lazy and map-side: no shuffle, defaults are
    * column expressions, and parquet `mergeSchema` reads of the same
    * batches plan the identical union.
    */
  def unionEvolved(batches: Seq[DataFrame],
      defaults: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    val unioned = batches.reduce(_.unionByName(_, allowMissingColumns = true))
    defaults.foldLeft(unioned) { case (df, (c, d)) =>
      df.withColumn(c, coalesce(col(c), d))
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_seeded_sample" -> (seededSample _),
    "src_stratified_sample" -> (stratifiedSample _),
    "src_synthetic_events" -> (synthetic _),
    "src_assignment_join" -> (assignmentJoin _),
    "src_word_frequency" -> (wordFrequency _),
    "src_volume_encounters" -> (volumeEncounters _),
    "src_volume_procedures" -> (volumeProcedures _),
    "src_jsonl_roundtrip" -> (jsonlIngest _),
    "src_orc_roundtrip" -> (orcIngest _),
    "src_fixed_width" -> (fixedWidthIngest _),
    "src_csv_quarantine" -> (csvQuarantine _))

  /** DuckDB h32 of a VARCHAR expression (shared parity base). */
  private def H(e: String): String = Md5Hash.h32Sql(e)

  /** The generator hierarchy replayed in DuckDB: same range sources, same
    * h32-derived choices, same explode (unnest) fan-out.
    */
  private def volumeEncSql: String = s"""WITH fac AS (
  SELECT g + 1 AS facility_id,
         'Facility ' || (g + 1)::VARCHAR AS facility_name,
         (['Hospital','Clinic','Medical Center','Urgent Care'])
           [(${H("'ft:' || (g + 1)::VARCHAR")} % 4)::INT + 1] AS facility_type
  FROM range($VolumeFacilities) t(g)),
pts AS (
  SELECT g + 1 AS patient_id,
         (18 + ${H("'pa:' || (g + 1)::VARCHAR")} % 73)::BIGINT AS age,
         (['Male','Female','Other'])
           [(${H("'ps:' || (g + 1)::VARCHAR")} % 3)::INT + 1] AS sex,
         (1 + ${H("'pe:' || (g + 1)::VARCHAR")} % 8)::BIGINT AS num_encounters
  FROM range($VolumePatients) t(g)),
enc0 AS (
  SELECT patient_id, age, sex,
         unnest(range(1, num_encounters + 1)) AS enc_seq
  FROM pts),
enc AS (
  SELECT patient_id, age, sex,
         (patient_id - 1) * 8 + enc_seq AS encounter_id,
         ((patient_id - 1) * 8 + enc_seq)::VARCHAR AS ek
  FROM enc0),
enc2 AS (
  SELECT *,
         (1 + ${H("'ef:' || ek")} % $VolumeFacilities)::BIGINT AS facility_id,
         (${H("'d1:' || ek")} % 10)::BIGINT AS pidx
  FROM enc)
SELECT encounter_id, patient_id, age, sex,
       DATE '2022-06-01' + (${H("'ed:' || ek")} % 731)::INT AS encounter_date,
       (['Inpatient','Outpatient','Emergency'])
         [(${H("'et:' || ek")} % 3)::INT + 1] AS encounter_type,
       facility_id, facility_name, facility_type,
       (1 + ${H("'np:' || ek")} % 3)::BIGINT AS num_procedures,
       (['J18.9','J98.11','I50.9','J81.0','J44.1','R91.8','J96.00','J18.1','I27.20','J84.10'])
         [pidx::INT + 1] AS primary_code,
       CASE WHEN ${H("'nd:' || ek")} % 2 = 1 THEN
         (['J18.9','J98.11','I50.9','J81.0','J44.1','R91.8','J96.00','J18.1','I27.20','J84.10'])
           [((pidx + 1 + ${H("'d2:' || ek")} % 9) % 10)::INT + 1]
       END AS secondary_code
FROM enc2 JOIN fac USING (facility_id)
ORDER BY encounter_id"""

  private def volumeProcSql: String = s"""WITH pts AS (
  SELECT g + 1 AS patient_id,
         (1 + ${H("'pe:' || (g + 1)::VARCHAR")} % 8)::BIGINT AS num_encounters
  FROM range($VolumePatients) t(g)),
enc0 AS (
  SELECT patient_id, unnest(range(1, num_encounters + 1)) AS enc_seq FROM pts),
enc AS (
  SELECT (patient_id - 1) * 8 + enc_seq AS encounter_id,
         ((patient_id - 1) * 8 + enc_seq)::VARCHAR AS ek
  FROM enc0),
enc2 AS (
  SELECT encounter_id,
         (1 + ${H("'np:' || ek")} % 3)::BIGINT AS num_procedures
  FROM enc),
proc0 AS (
  SELECT encounter_id, unnest(range(1, num_procedures + 1)) AS proc_seq FROM enc2),
proc AS (
  SELECT encounter_id, proc_seq,
         encounter_id::VARCHAR || ':' || proc_seq::VARCHAR AS pk
  FROM proc0),
named AS (
  SELECT encounter_id, proc_seq,
         (['X-Ray','CT','MRI','Ultrasound'])
           [(${H("'pm:' || pk")} % 4)::INT + 1] AS modality,
         (['PA','AP','Lateral','Oblique'])
           [(${H("'pp:' || pk")} % 4)::INT + 1] AS projection
  FROM proc)
SELECT encounter_id, proc_seq,
       modality || ' ' || projection || ' Chest' AS procedure_name,
       modality, projection
FROM named
ORDER BY encounter_id, proc_seq"""

  val oracle: Map[String, String] = Map(
    // the JSONL round trip must reproduce the parquet table losslessly
    "src_jsonl_roundtrip" -> """SELECT doc_id, text, lang, source, n_chars
FROM documents ORDER BY doc_id""",

    // the ORC round trip must likewise reproduce the parquet table
    "src_orc_roundtrip" -> """SELECT doc_id, text, lang, source, n_chars
FROM documents ORDER BY doc_id""",

    // the fixed-width round trip reproduces the clean slice exactly, with
    // value carried as exact cents through the byte layout
    "src_fixed_width" -> """SELECT event_id, user_id, event_type,
       (value::DECIMAL(12,2) * 100)::BIGINT AS value_cents
FROM events
WHERE event_id IS NOT NULL AND user_id IS NOT NULL
  AND event_type IS NOT NULL AND value IS NOT NULL
ORDER BY event_id""",

    // the CSV round trip drops exactly the planted-corrupt lines; double
    // formatting round-trips losslessly (shortest-repr write, exact parse)
    "src_csv_quarantine" -> s"""SELECT event_id, user_id, event_type, value
FROM events
WHERE event_id % $CsvCorruptEvery <> $CsvCorruptAt
ORDER BY event_id""",

    "src_seeded_sample" -> """SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) < '2'
ORDER BY event_id""",

    "src_stratified_sample" -> s"""SELECT source, rank_in_stratum, doc_id, lang, n_chars
FROM (
  SELECT source, doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR))) AS rank_in_stratum
  FROM documents)
WHERE rank_in_stratum <= $StratumN
ORDER BY source, rank_in_stratum""",

    "src_synthetic_events" -> """SELECT i AS event_id,
       TIMESTAMP '2024-01-01 00:00:00' + to_minutes(i) AS ts,
       i % 97 AS user_id,
       ['click','view','signup','purchase','error'][(i % 5) + 1] AS event_type,
       (i * 37 % 10000) / 100.0 AS value
FROM range(1000) t(i)
ORDER BY event_id""",

    "src_assignment_join" -> """WITH pool AS (
  SELECT (c_custkey - 1)::INT AS pool_idx, c_custkey AS assigned_patient,
         c_name AS assigned_name
  FROM customer ORDER BY c_custkey LIMIT 16),
bucketed AS (
  SELECT event_id,
         CASE WHEN ascii(substring(md5(CAST(event_id AS VARCHAR)), 1, 1)) < 58
              THEN ascii(substring(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 48
              ELSE ascii(substring(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 87
         END AS pool_idx
  FROM events)
SELECT event_id, assigned_patient, assigned_name
FROM bucketed JOIN pool USING (pool_idx)
ORDER BY event_id""",

    "src_word_frequency" -> """SELECT word, count(*)::BIGINT AS n
FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      FROM documents)
GROUP BY word
ORDER BY n DESC, word""",

    "src_volume_encounters" -> volumeEncSql,
    "src_volume_procedures" -> volumeProcSql)
}

package graft.privacy

import graft.{Scratch, Tables}
import graft.functions.GraftFunctions.round2
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy / re-identification governance over the patient-shaped corpus —
  * the audit a training-data pipeline runs BEFORE releasing any record-level
  * extract (Sweeney's k-anonymity and Machanavajjhala's l-diversity, both
  * public literature). The reference stores raw patient demographics
  * (`/root/reference/sql/01_schema.sql` patients + JSONB audit); a release
  * pipeline at 100 TB needs the compliance view of exactly those columns.
  *
  * Quasi-identifier (QI) triple = the classic demographic trio in the
  * engine's role mapping (SURVEY §7.1): age_group (c_acctbal CASE), sex
  * (c_mktsegment), location (nation name). Sensitive attribute for
  * l-diversity = diagnosis code family (p_brand) reached through the
  * patient→encounter→diagnosis bridge.
  *
  * Scale shape: every operator here is groupBy over the QI key — hash
  * shuffle with map-side partials, no windows over corpus-scale rows, dims
  * broadcast. Equivalence-class tables are bounded by the QI domain
  * (|age_group|×|sex|×|location| ≈ 625), so the audit rollups are tiny.
  */
object Privacy {

  /** k-anonymity threshold: an equivalence class smaller than K is a
    * re-identification risk. One value, both engines.
    */
  val K = 5

  /** l-diversity threshold: a QI class whose members share fewer than L
    * distinct sensitive values leaks the sensitive attribute by membership
    * alone.
    */
  val L = 3

  private def ageGroup(bal: Column) =
    when(bal < 0, "Unknown")
      .when(bal < 2500, "18-30")
      .when(bal < 5000, "31-50")
      .when(bal < 7500, "51-70")
      .otherwise("71+")

  private def qi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey", "left")
      .select(
        $"c_custkey".as("patient_id"),
        ageGroup($"c_acctbal").as("age_group"),
        $"c_mktsegment".as("sex"),
        $"n_name".as("location"))
  }

  /** k-anonymity audit per age_group: equivalence classes over the full QI
    * triple, minimum class size (the k actually achieved), and how many
    * classes/rows sit below [[K]] (the suppression candidates). The
    * equivalence-class table is QI-domain-bounded, so this second aggregate
    * is over ≤ a few hundred rows regardless of corpus size.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    qi(spark, dir)
      .groupBy($"age_group", $"sex", $"location")
      .agg(count(lit(1)).as("class_size"))
      .groupBy($"age_group")
      .agg(
        count(lit(1)).as("n_classes"),
        sum($"class_size").as("n_rows"),
        min($"class_size").as("k_achieved"),
        count(when($"class_size" < K, 1)).as("n_risky_classes"),
        sum(when($"class_size" < K, $"class_size").otherwise(0))
          .as("n_risky_rows"))
      .orderBy($"age_group")
  }

  /** l-diversity audit: within each QI class, how many distinct diagnosis
    * code families (p_brand) do members carry — a class below [[L]] lets an
    * adversary who can place a patient in the class infer their diagnosis.
    * Pipeline: patient → orders (encounters) → lineitem (diagnosis links) →
    * part (code dim, broadcast). The distinct-count runs per QI class after
    * one orderkey shuffle; the class table is again QI-domain-bounded.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val diag = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"o_custkey".as("patient_id"), $"p_brand")
    // The two distinct counts are over DIFFERENT columns, and a combined
    // countDistinct pair makes Catalyst Expand-duplicate every input row
    // once per function. Dedup to the (class, patient, brand) triple
    // grain FIRST: duplicate diagnosis links (the corpus-proportional
    // part — a patient's repeat encounters with the same code family)
    // collapse before the Expand ever sees them, so the Expand doubles
    // only the distinct-link table (bounded by patients × code families),
    // not the fact join. One pipeline: the earlier three-aggregate
    // no-Expand form executed 2× faster but paid ~+0.7 s of single-shot
    // planning/codegen on every bench run — this shape keeps the
    // data-proportional win and the single plan.
    qi(spark, dir)
      .join(diag, "patient_id")
      .select($"age_group", $"sex", $"location", $"patient_id", $"p_brand")
      .distinct()
      .groupBy($"age_group", $"sex", $"location")
      .agg(
        countDistinct($"patient_id").as("class_size"),
        countDistinct($"p_brand").as("l_achieved"))
      .groupBy($"age_group")
      .agg(
        count(lit(1)).as("n_classes"),
        min($"l_achieved").as("min_l"),
        count(when($"l_achieved" < L, 1)).as("n_low_diversity_classes"),
        sum(when($"l_achieved" < L, $"class_size").otherwise(0))
          .as("n_patients_at_risk"))
      .orderBy($"age_group")
  }

  /** Generalization ladder: k-anonymity achieved at each QI coarsening
    * level (0 = full triple … 3 = fully generalized). The release decision
    * reads this table to pick the least generalization that clears [[K]] —
    * the lattice walk of the Datafly/Incognito family collapsed to the
    * monotone chain a release pipeline actually uses. One corpus scan per
    * level over the same QI projection; each level is a groupBy on a prefix
    * of the QI key.
    */
  def generalizationLadder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = qi(spark, dir)
    val levels = Seq(
      (0, Seq($"age_group", $"sex", $"location")),
      (1, Seq($"age_group", $"sex")),
      (2, Seq($"age_group")),
      (3, Seq(lit("*").as("all")))
    )
    levels.map { case (lvl, keys) =>
      base.groupBy(keys: _*)
        .agg(count(lit(1)).as("class_size"))
        .agg(
          count(lit(1)).as("n_classes"),
          min($"class_size").as("k_achieved"),
          sum($"class_size").as("n_rows"),
          sum(when($"class_size" >= K, $"class_size").otherwise(0))
            .as("n_anonymous_rows"))
        .select(
          lit(lvl).as("level"),
          $"n_classes", $"k_achieved",
          round2($"n_anonymous_rows" * lit(100.0) / $"n_rows")
            .as("pct_k_anonymous"))
    }.reduce(_ unionByName _)
      .orderBy($"level")
  }

  /** t-closeness leak threshold: a QI class whose sensitive-value
    * distribution sits further than T (total variation) from the global
    * one reveals information by membership even when k and l pass.
    */
  val T = 0.5

  /** t-closeness audit (Li et al. 2007, categorical instance): per QI
    * class, the total-variation distance between the class's diagnosis
    * distribution and the corpus-wide one, rolled up per age_group like the
    * sibling audits. Completes the k-anonymity / l-diversity / t-closeness
    * release-gate triad.
    *
    * Determinism: TVD is computed from an exact BIGINT numerator via the
    * absent-value identity
    * Σ_v |c_gv·n − c_v·n_g| = n_g·n + Σ_{v∈g} (|c_gv·n − c_v·n_g| − c_v·n_g)
    * (values absent from the class contribute c_v·n_g, which telescopes to
    * n_g·n), so only ONE float division per class — no float sum whose
    * order could differ across engines. At extreme scale c_gv·n can exceed
    * int64 (n beyond ~3·10⁹ link rows); the fallback is dividing first at
    * the cost of a per-term float — a documented trade, not a plan change.
    *
    * Scale: one shuffle keyed (QI, value); the value-marginal table is
    * |domain|-bounded and broadcast; the class table is QI-domain-bounded.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = qi(spark, dir)
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey"),
          $"o_orderkey" === $"l_orderkey")
        .join(broadcast(Tables.part(spark, dir)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .select($"o_custkey".as("patient_id"), $"p_brand"), "patient_id")
      .select($"age_group", $"sex", $"location", $"p_brand")
    // ONE corpus pass: aggregate to (class, brand) grain first — the
    // marginal and the total are ALGEBRAIC rollups of that tiny table
    // (sum of c_gv over classes / over everything), so deriving them from
    // `cv` instead of from `rows` deletes two full re-runs of the
    // qi⋈orders⋈lineitem join (r13 profile: 3.24M scan rows → 1.4M). The
    // class×brand table (QI-domain × brand-vocabulary bounded) is reused
    // so its three consumers don't re-aggregate.
    val cv = Scratch.reuse(rows
      .groupBy($"age_group", $"sex", $"location", $"p_brand")
      .agg(count(lit(1)).as("c_gv")))
    val marginal = cv.groupBy($"p_brand").agg(sum($"c_gv").as("c_v"))
    val total = marginal.agg(sum($"c_v").as("n"))
    val classValue = cv
      .join(broadcast(marginal), "p_brand")
      .crossJoin(broadcast(total))
    val ng = classValue.groupBy($"age_group", $"sex", $"location")
      .agg(sum($"c_gv").as("n_g"))
    classValue
      .join(ng, Seq("age_group", "sex", "location"))
      .groupBy($"age_group", $"sex", $"location")
      .agg(
        first($"n_g").as("n_g"),
        first($"n").as("n"),
        sum(abs($"c_gv" * $"n" - $"c_v" * $"n_g") - $"c_v" * $"n_g")
          .as("present_terms"))
      .select($"age_group",
        (($"n_g" * $"n" + $"present_terms") * lit(1.0)
          / (lit(2.0) * $"n_g" * $"n")).as("tvd"))
      .groupBy($"age_group")
      .agg(
        count(lit(1)).as("n_classes"),
        max($"tvd").as("max_t"),
        count(when($"tvd" > T, 1)).as("n_leaky_classes"))
      .orderBy($"age_group")
  }

  /** The release operator the audits gate: a record-level extract with
    * direct identifiers pseudonymized (salted md5, the
    * [[graft.ingest.Ingest]] pseudonymization convention — stable joins,
    * raw key never emitted) and QI suppression applied: rows in an
    * equivalence class below [[K]] get their sex/location generalized to
    * `*` (one Datafly suppression step; [[generalizationLadder]] prices
    * the full lattice, this applies its cheapest rung). The `suppressed`
    * flag makes the masking auditable — a release diff can count exactly
    * which rows paid privacy cost.
    *
    * Scale: one window over the QI key for class sizes (QI-domain-bounded
    * partitions), pure map-side masking after.
    */
  def releaseExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"age_group", $"sex", $"location")
    qi(spark, dir)
      .withColumn("class_size", count(lit(1)).over(w))
      .select(
        md5(concat(lit("rel:"), $"patient_id".cast("string")))
          .as("pseudo_id"),
        $"age_group",
        when($"class_size" >= K, $"sex").otherwise("*").as("sex"),
        when($"class_size" >= K, $"location").otherwise("*").as("location"),
        ($"class_size" < K).as("suppressed"))
      .orderBy($"pseudo_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "priv_k_anonymity" -> (kAnonymity _),
    "priv_l_diversity" -> (lDiversity _),
    "priv_t_closeness" -> (tCloseness _),
    "priv_release_extract" -> (releaseExtract _),
    "priv_generalization_ladder" -> (generalizationLadder _))

  /** DuckDB twins. QI construction is shared via the CTE; the age CASE
    * mirrors [[graft.warehouse.Warehouse.ageGroup]]'s oracle prelude.
    */
  private val qiSql = """SELECT
    c_custkey AS patient_id,
    CASE WHEN c_acctbal < 0 THEN 'Unknown'
         WHEN c_acctbal < 2500 THEN '18-30'
         WHEN c_acctbal < 5000 THEN '31-50'
         WHEN c_acctbal < 7500 THEN '51-70'
         ELSE '71+' END AS age_group,
    c_mktsegment AS sex,
    n_name AS location
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey"""

  val oracle: Map[String, String] = Map(
    "priv_k_anonymity" -> s"""WITH qi AS ($qiSql),
classes AS (
  SELECT age_group, sex, location, count(*)::BIGINT AS class_size
  FROM qi GROUP BY 1, 2, 3)
SELECT age_group,
       count(*)::BIGINT AS n_classes,
       sum(class_size)::BIGINT AS n_rows,
       min(class_size)::BIGINT AS k_achieved,
       count(CASE WHEN class_size < $K THEN 1 END)::BIGINT AS n_risky_classes,
       sum(CASE WHEN class_size < $K THEN class_size ELSE 0 END)::BIGINT
         AS n_risky_rows
FROM classes GROUP BY age_group ORDER BY age_group""",

    "priv_l_diversity" -> s"""WITH qi AS ($qiSql),
diag AS (
  SELECT o_custkey AS patient_id, p_brand
  FROM orders
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN part ON l_partkey = p_partkey),
classes AS (
  SELECT age_group, sex, location,
         count(DISTINCT qi.patient_id)::BIGINT AS class_size,
         count(DISTINCT p_brand)::BIGINT AS l_achieved
  FROM qi JOIN diag ON qi.patient_id = diag.patient_id
  GROUP BY 1, 2, 3)
SELECT age_group,
       count(*)::BIGINT AS n_classes,
       min(l_achieved)::BIGINT AS min_l,
       count(CASE WHEN l_achieved < $L THEN 1 END)::BIGINT
         AS n_low_diversity_classes,
       sum(CASE WHEN l_achieved < $L THEN class_size ELSE 0 END)::BIGINT
         AS n_patients_at_risk
FROM classes GROUP BY age_group ORDER BY age_group""",

    "priv_release_extract" -> s"""WITH qi AS ($qiSql),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY age_group, sex, location)
              AS class_size
  FROM qi)
SELECT md5('rel:' || patient_id::VARCHAR) AS pseudo_id,
       age_group,
       CASE WHEN class_size >= $K THEN sex ELSE '*' END AS sex,
       CASE WHEN class_size >= $K THEN location ELSE '*' END AS location,
       class_size < $K AS suppressed
FROM sized ORDER BY pseudo_id""",

    "priv_t_closeness" -> s"""WITH qi AS ($qiSql),
rows_ AS (
  SELECT age_group, sex, location, p_brand
  FROM qi
  JOIN (SELECT o_custkey AS patient_id, p_brand
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN part ON l_partkey = p_partkey) diag
    ON qi.patient_id = diag.patient_id),
marginal AS (SELECT p_brand, count(*)::BIGINT AS c_v FROM rows_ GROUP BY 1),
total AS (SELECT sum(c_v)::BIGINT AS n FROM marginal),
cv AS (
  SELECT age_group, sex, location, r.p_brand,
         count(*)::BIGINT AS c_gv, c_v, n
  FROM rows_ r JOIN marginal m ON r.p_brand = m.p_brand CROSS JOIN total
  GROUP BY 1, 2, 3, 4, c_v, n),
ng AS (
  SELECT age_group, sex, location, sum(c_gv)::BIGINT AS n_g
  FROM cv GROUP BY 1, 2, 3),
tvds AS (
  SELECT cv.age_group,
         (any_value(ng.n_g) * any_value(cv.n)
            + sum(abs(c_gv * n - c_v * n_g) - c_v * n_g)) * 1.0
           / (2.0 * any_value(ng.n_g) * any_value(cv.n)) AS tvd
  FROM cv JOIN ng USING (age_group, sex, location)
  GROUP BY cv.age_group, cv.sex, cv.location)
SELECT age_group,
       count(*)::BIGINT AS n_classes,
       max(tvd) AS max_t,
       count(CASE WHEN tvd > $T THEN 1 END)::BIGINT AS n_leaky_classes
FROM tvds GROUP BY age_group ORDER BY age_group""",

    "priv_generalization_ladder" -> s"""WITH qi AS ($qiSql),
l0 AS (SELECT count(*)::BIGINT AS class_size FROM qi
       GROUP BY age_group, sex, location),
l1 AS (SELECT count(*)::BIGINT AS class_size FROM qi
       GROUP BY age_group, sex),
l2 AS (SELECT count(*)::BIGINT AS class_size FROM qi GROUP BY age_group),
l3 AS (SELECT count(*)::BIGINT AS class_size FROM qi),
lvl AS (
  SELECT 0 AS level, count(*)::BIGINT AS n_classes,
         min(class_size)::BIGINT AS k_achieved,
         sum(class_size) AS n_rows,
         sum(CASE WHEN class_size >= $K THEN class_size ELSE 0 END)
           AS n_anon
  FROM l0
  UNION ALL
  SELECT 1, count(*)::BIGINT, min(class_size)::BIGINT, sum(class_size),
         sum(CASE WHEN class_size >= $K THEN class_size ELSE 0 END) FROM l1
  UNION ALL
  SELECT 2, count(*)::BIGINT, min(class_size)::BIGINT, sum(class_size),
         sum(CASE WHEN class_size >= $K THEN class_size ELSE 0 END) FROM l2
  UNION ALL
  SELECT 3, count(*)::BIGINT, min(class_size)::BIGINT, sum(class_size),
         sum(CASE WHEN class_size >= $K THEN class_size ELSE 0 END) FROM l3)
SELECT level::INT AS level, n_classes, k_achieved,
       floor((n_anon * 100.0 / n_rows) * 100 + 0.5) / 100.0
         AS pct_k_anonymous
FROM lvl ORDER BY level""")
}

package graft.dedup

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators over the `documents` table — the
  * training-data-pipeline extension surface (the reference dedups its staging
  * feed on a single key, `/root/reference/sql/01_schema.sql:106`; a 100 TB
  * text corpus needs exact and *near* duplicate detection).
  *
  * Four families:
  *  - exact:     hash-groupBy on a normalized-text fingerprint
  *  - n-gram:    token-shingle Jaccard via an inverted-index self-join
  *  - MinHash:   k-min-hash signatures + LSH banding (the scale path —
  *               candidates come from equi-joins on band buckets, never a
  *               pairwise product) [[MinHashLsh]]
  *  - SimHash:   64-bit sign-hash + chunk-bucketed Hamming search
  *               [[SimHash]]
  *
  * Scale notes (100 TB): the exact and n-gram paths shuffle on fingerprint /
  * shingle — both keys are high-cardinality, so the shuffle is balanced; the
  * n-gram inverted index's join fan-out is Σ df², which is why ubiquitous
  * shingles must be rare (true for wide-enough shingles — see withShingles; for corpora with
  * boilerplate add a document-frequency cap or go through MinHash-LSH whose
  * fan-out is bounded by band-bucket size).
  */
object Dedup {

  /** Tokens of the normalized text (shared by every dedup family). */
  private[dedup] def tokens: Column = split(trim(lower(col("text"))), "\\s+")

  /** doc_id + distinct word-3-gram shingle array (`sh`); empty for sub-3-token
    * docs. Two deliberate choices, both load-bearing at scale:
    *
    *  - Tokenization is materialized into a column FIRST — referencing
    *    `split(...)` inside the shingle lambda would re-tokenize the whole
    *    text on every loop iteration (quadratic per document; measured
    *    148 s → 3 s on 500 docs).
    *  - 3-grams, not 2-grams: this corpus has a ~30-word vocabulary, so the
    *    2-gram space (≈950 shingles) is saturated and the inverted-index
    *    self-join fans out to Σ df² ≈ 73 M rows at sf0.1; 3-grams are
    *    discriminative (27 k shingles, fan-out 2.8 M — 25× less) and detect
    *    the identical near-dup pair set at τ=0.2. Shingle width is THE
    *    fan-out knob for Jaccard at corpus scale.
    */
  private[graft] def withShingles(df: DataFrame): DataFrame =
    df.withColumn("toks", tokens)
      .withColumn("sh",
        when(size(col("toks")) >= 3,
          array_distinct(expr(
            """transform(sequence(0, size(toks) - 3),
              |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2),
              |              ' ', element_at(toks, i + 3)))""".stripMargin)))
          .otherwise(array().cast("array<string>")))

  /** The duplicate-bearing feed: the corpus plus re-keyed copies of every
    * 10th document — a deterministic stand-in for the re-crawled/re-delivered
    * duplicates a real ingest sees (the raw testdata is dup-free).
    */
  private[dedup] def dupFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    docs.unionByName(
      docs.filter(pmod($"doc_id", lit(10)) === 0)
        .withColumn("doc_id", $"doc_id" + lit(1000000L)))
  }

  /** Exact dedup: group by md5 of the normalized text; the canonical survivor
    * is the min doc_id (deterministic, unlike keep-first). Emits every
    * duplicate group with its size — the dedup ledger.
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dupFeed(spark, dir)
      .groupBy(md5(lower(trim($"text"))).as("fingerprint"))
      .agg(
        min($"doc_id").as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .filter($"n_copies" > 1)
      .orderBy($"canonical_id")
  }

  /** n-gram Jaccard near-dup: inverted-index self-join on shared shingles,
    * exact Jaccard = |A∩B| / (|A|+|B|−|A∩B|), threshold 0.2. No pairwise
    * product anywhere — only docs sharing at least one shingle ever meet.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
      threshold: Double = BaseTau): DataFrame = {
    import spark.implicits._
    val docs = DocIndex.forDir(spark, dir)
    val sizes = docs.select($"doc_id", size($"sh").as("n"))
    val inv = docs.select($"doc_id", explode($"sh").as("shingle"))
    val overlap = inv.as("a")
      .join(inv.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("overlap"))
    overlap
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        ($"overlap" * lit(1.0) / ($"n_a" + $"n_b" - $"overlap")).as("jaccard"))
      .filter($"jaccard" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }

  /** n-gram Jaccard with a document-frequency cap — the corpus-scale form
    * of [[ngramJaccard]]. The inverted-index join's fan-out is Σ df² over
    * shingle document frequencies, so one boilerplate shingle shared by n
    * docs alone contributes n² candidate rows; capping df drops ubiquitous
    * shingles from the CANDIDATE join (the standard trick for corpora with
    * boilerplate) while emitted Jaccards stay EXACT over the full shingle
    * sets. Recall trade, explicit and bounded: only pairs whose every
    * shared shingle is ubiquitous (df > `dfCap`) can be missed —
    * ScaleVariantsSpec pins the subset/equality relationships against the
    * uncapped join.
    *
    * Plan shape — ONE self-join pass, no distinct, no re-verify: the
    * rare-shingle self-join aggregates straight to (pair, o_rare), which IS
    * the candidate set (o_rare ≥ 1) with most of the overlap already
    * counted; the common-shingle remainder is then recovered per CANDIDATE
    * (a candidate-keyed join against the df > cap postings — fan-out
    * |candidates|·common-shingles-per-doc, never Σ_{df>cap} df², which is
    * exactly the term the cap exists to avoid), and o = o_rare + o_common
    * feeds the exact Jaccard. The earlier candidates.distinct() +
    * jaccardVerify formulation re-joined the full index twice and measured
    * ~4× slower at sf0.1 for identical output.
    */
  /** Default per-shingle df cap — one Scala value interpolated into the
    * Spark default AND the DuckDB oracle (parity rule). High enough that it
    * never binds at test SFs (ScaleVariantsSpec pins capped == uncapped
    * there); at corpus scale it is the boilerplate-shingle knob.
    */
  val JaccardDfCap = 1000L

  def ngramJaccardCapped(spark: SparkSession, dir: String,
      threshold: Double = BaseTau, dfCap: Long = JaccardDfCap): DataFrame = {
    import spark.implicits._
    val docs = DocIndex.forDir(spark, dir)
    val sizes = docs.select($"doc_id", size($"sh").as("n"))
    val inv = docs.select($"doc_id", explode($"sh").as("shingle"))
    val df = inv.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val invRare = inv.join(df.filter($"df" <= dfCap).select($"shingle"),
      "shingle")
    val oRare = invRare.as("a")
      .join(invRare.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("o_rare"))
    val invCommon = inv.join(df.filter($"df" > dfCap).select($"shingle"),
      "shingle")
    val oCommon = oRare.select($"doc_a", $"doc_b")
      .join(invCommon.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
      .join(invCommon.select($"doc_id".as("doc_b"), $"shingle"),
        Seq("doc_b", "shingle"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("o_common"))
    oRare.join(oCommon, Seq("doc_a", "doc_b"), "left")
      .withColumn("o", $"o_rare" + coalesce($"o_common", lit(0L)))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        ($"o" * lit(1.0) / ($"n_a" + $"n_b" - $"o")).as("jaccard"))
      .filter($"jaccard" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Similarity-threshold sweep over the materialized pair table — the
    * tuning report behind every dedup τ choice: pair counts per 0.1-wide
    * Jaccard band plus the running count of pairs surviving τ ≥ band
    * (cumulative from the top). A curation run reads this ONCE to see how
    * aggressive each candidate threshold is before committing a drop pass;
    * at 100 TB it prices τ changes without re-running the pair join (the
    * pair table is the write-once artifact all dedup consumers share).
    * Banding is `floor(j·10)` — identical IEEE multiply+floor both
    * engines; the cumulative window runs over ≤ 10 band rows.
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"band".desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pairsForDir(spark, dir)
      .withColumn("band", floor($"jaccard" * 10).cast("int"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_at_or_above", sum($"n_pairs").over(w))
      .select(($"band" / 10.0).as("tau_band"), $"n_pairs",
        $"n_pairs_at_or_above")
      .orderBy($"tau_band")
  }

  /** Containment threshold — interpolated into Spark + oracle (parity rule). */
  val ContainTau = 0.8

  /** Asymmetric containment near-dup: |A∩B| / |A| ≥ [[ContainTau]] flags A
    * as (near-)contained in B. Jaccard misses subset duplication when
    * lengths mismatch — a 40-shingle doc fully embedded in a 400-shingle
    * doc has J ≈ 0.1 but containment 1.0; quote farms, wrapper pages, and
    * doc+boilerplate reassemblies are exactly this shape, and a curation
    * pass wants them as (contained, container) DIRECTED pairs. Same
    * inverted-index equi-join as [[ngramJaccard]] (no pairwise product);
    * emitted per direction, smaller side first when both contain.
    */
  def containment(spark: SparkSession, dir: String,
      threshold: Double = ContainTau): DataFrame = {
    import spark.implicits._
    val docs = DocIndex.forDir(spark, dir)
    val sizes = docs.select($"doc_id", size($"sh").as("n"))
    val inv = docs.select($"doc_id", explode($"sh").as("shingle"))
    val overlap = inv.as("a")
      .join(inv.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("contained_id"),
        col("b.doc_id").as("container_id"))
      .agg(count(lit(1)).as("overlap"))
    overlap
      .join(sizes.select($"doc_id".as("contained_id"), $"n".as("n_a")),
        "contained_id")
      .select($"contained_id", $"container_id",
        ($"overlap" * lit(1.0) / $"n_a").as("containment"))
      .filter($"containment" >= threshold)
      .orderBy($"contained_id", $"container_id")
  }

  /** Prefix-filtered Jaccard join (PPJoin-style) — the EXACT corpus-scale
    * form of [[ngramJaccard]]. The plain inverted index pays Σ df² candidate
    * fan-out over every shingle; prefix filtering indexes only each
    * document's `|d| − ⌈τ·|d|⌉ + 1` RAREST shingles under one global
    * (df, shingle) order. Any pair with Jaccard ≥ τ provably shares at
    * least one shingle inside both prefixes, so candidate recall is 100% —
    * unlike the df-cap heuristic ([[ngramJaccardCapped]]) this is a pure
    * win: identical output to the full join, fan-out shrunk to Σ df² over
    * prefix entries, and the boilerplate (high-df) shingles that dominate
    * the quadratic term are exactly the ones the prefixes exclude.
    *
    * The companion length filter drops candidate pairs whose sizes alone
    * bound Jaccard below τ (|A∩B| ≤ min ⇒ J ≤ min/max < τ when
    * min < τ·max) before the verify join. Survivors go through the shared
    * exact [[jaccardVerify]].
    *
    * Scale shape: df counting and prefix construction are one shuffle each
    * on shingle/doc; the candidate join is an equi-join on the (small)
    * prefix index; no global rank window — the (df, shingle) pair IS the
    * order, carried as data.
    */
  /** Prefix-join default threshold. DELIBERATELY higher than [[BaseTau]]:
    * the prefix length is `|d| − ⌈τ·|d|⌉ + 1`, so at τ=0.2 the index keeps
    * ~80% of every document and the extra df-join/sort stages cost more
    * than they prune (measured 15.6 s vs ~1 s at sf0.1); at τ=0.5 the
    * index halves and the candidate fan-out quarters — prefix filtering
    * is the HIGH-τ tool, the inverted index with df caps the low-τ one.
    */
  val PrefixTau = 0.5

  def ngramJaccardPrefix(spark: SparkSession, dir: String,
      threshold: Double = PrefixTau): DataFrame = {
    import spark.implicits._
    jaccardVerify(spark, dir, prefixCandidates(spark, dir, threshold), threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[containment]] materialized once per (app, corpus) — same write-once
    * shape as [[pairsForDir]]; the directed pair table is the artifact a
    * curation pass queries repeatedly.
    */
  def containmentForDir(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-contain-pairs", dir)(containment(spark, dir))

  /** [[ngramJaccardPrefix]] materialized once per (app, corpus, τ) — the
    * same write-once pair-table shape as [[pairsForDir]]: the index build
    * runs when the dedup pass runs, consumers re-read the small result.
    */
  def prefixPairsForDir(spark: SparkSession, dir: String,
      threshold: Double = PrefixTau): DataFrame =
    graft.Scratch.parquet(spark, "graft-prefix-pairs", s"$dir:$threshold")(
      ngramJaccardPrefix(spark, dir, threshold))

  /** Candidate pairs from the prefix index — exposed for the spec's
    * fan-out comparison against the full inverted-index join.
    */
  private[graft] def prefixCandidates(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import spark.implicits._
    // τ as an exact rational over 10⁶: IEEE `ceil(n * τ)` overshoots the
    // true ceiling whenever n·τ lands just above an integer in double
    // (e.g. 25 × 0.28 = 7.000000000000001 → ceil 8, one prefix token too
    // few — a RECALL hole). Integer arithmetic ⌈n·num/10⁶⌉ is exact for
    // any τ written with ≤6 decimals, which is every practical threshold.
    val num = math.round(threshold * 1e6)
    val denom = 1000000L
    val inv = DocIndex.forDir(spark, dir)
      .select($"doc_id", explode($"sh").as("shingle"))
    val dfCounts = inv.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val prefixes = inv.join(dfCounts, "shingle")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"shingle"))).as("ord"),
        count(lit(1)).as("n"))
      .withColumn("plen",
        ($"n" - floor(($"n" * num + (denom - 1)) / denom) + 1).cast("int"))
      .select($"doc_id", $"n",
        expr("transform(slice(ord, 1, plen), x -> x.shingle)").as("prefix"))
    val pinv = prefixes.select($"doc_id", $"n", explode($"prefix").as("shingle"))
    pinv.as("a")
      .join(pinv.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id")
          // size bound: min ≥ τ·max, else J < τ regardless of overlap —
          // same exact-rational compare (a.n·10⁶ ≥ num·b.n)
          && col("a.n") * denom >= col("b.n") * num
          && col("b.n") * denom >= col("a.n") * num)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Base threshold of the materialized pair table: the lowest τ any
    * consumer uses, so every consumer's pair set is a filter of this one.
    * Interpolated into BOTH engines (Spark defaults and the oracle SQL), so
    * the two can never silently desynchronize on the τ literal.
    */
  val BaseTau = 0.2

  /** Exact-Jaccard verify of a (doc_a, doc_b) candidate set against the
    * shared [[DocIndex]] (cheap parquet re-read) — THE verify tail of every
    * near-dup family (n-gram capped, MinHash-LSH, incremental). One
    * definition so a fix to the Jaccard formula or null/empty-set handling
    * lands everywhere. Candidates travel as bare (doc_a, doc_b) id pairs;
    * shingle arrays only join in here, after candidate generation.
    */
  private[dedup] def jaccardVerify(spark: SparkSession, dir: String,
      candidates: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val idx = DocIndex.forDir(spark, dir)
    val shA = idx.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val shB = idx.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    candidates
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("jaccard",
        size(array_intersect($"sh_a", $"sh_b")) * lit(1.0)
          / size(array_union($"sh_a", $"sh_b")))
      .filter($"jaccard" >= threshold)
      .drop("sh_a", "sh_b")
  }

  /** The exact-Jaccard pair table (doc_a, doc_b, jaccard), τ ≥ [[BaseTau]],
    * materialized ONCE per (app, corpus) and shared by every consumer —
    * the registered `dedup_ngram_jaccard` query, [[DupClusters]]' edge list,
    * and [[graft.text.Curate]]'s drop set (τ=0.5, a filter of this
    * superset). Round 1 re-ran the full inverted-index join in each of the
    * three; at 100 TB the pair table is exactly the artifact you'd persist
    * once per dedup pass and query repeatedly.
    */
  def pairsForDir(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-pairs", dir)(ngramJaccard(spark, dir, BaseTau))

  /** [[ngramJaccardCapped]] at its defaults, materialized once per
    * (app, corpus) — the capped pass is the one a boilerplate-bearing
    * corpus actually runs, so it earns the same write-once artifact
    * treatment as [[pairsForDir]] (non-default caps, e.g. the
    * ScaleVariantsSpec sweeps, still run the live plan).
    */
  def cappedPairsForDir(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-pairs-capped", dir)(
      ngramJaccardCapped(spark, dir, BaseTau, JaccardDfCap))

  /** Cross-source duplication matrix — near-dup pair counts per unordered
    * source pair, the leakage report a corpus curator reads before fixing
    * mixture weights (duplication INSIDE a source inflates its effective
    * weight; duplication ACROSS train-relevant sources is contamination).
    * Pure reuse of the materialized [[pairsForDir]] table: two id-joins to
    * the (doc_id, source) projection — at 100 TB the pair table is orders
    * of magnitude smaller than the corpus, so this is a cheap follow-up
    * query, not a re-scan. `least/greatest` canonicalize the pair so the
    * matrix is one triangle.
    */
  def crossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    pairsForDir(spark, dir)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("s_a")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("s_b")), "doc_b")
      .select(least($"s_a", $"s_b").as("source_x"),
        greatest($"s_a", $"s_b").as("source_y"))
      .groupBy($"source_x", $"source_y")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_x", $"source_y")
  }

  /** Dedup family agreement matrix — pair counts per family and overlap
    * with the exact n-gram Jaccard set, the one-look answer to "do the
    * approximate families (MinHash-LSH banding, SimHash Hamming buckets)
    * find the same duplicates the exact join finds?". Every input is a
    * memoized pair table (ids only), so at 100 TB this is a report over
    * dashboards-sized artifacts, not a corpus pass. `precision_vs_exact`
    * is an integer-ratio division (shuffle-order-proof).
    */
  def familyAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = pairsForDir(spark, dir).select($"doc_a", $"doc_b")
    val fams = Seq(
      "ngram_exact" -> exact,
      "minhash_lsh" -> MinHashLsh.nearDuplicates(spark, dir)
        .select($"doc_a", $"doc_b"),
      "simhash" -> SimHash.nearDuplicates(spark, dir)
        .select($"doc_a", $"doc_b"))
    val tagged = fams
      .map { case (f, df) => df.withColumn("family", lit(f)) }
      .reduce(_ unionByName _)
    tagged
      .join(exact.withColumn("in_exact", lit(true)),
        Seq("doc_a", "doc_b"), "left")
      .groupBy($"family")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"in_exact", lit(1L)).otherwise(lit(0L)))
          .as("n_shared_with_exact"))
      .withColumn("precision_vs_exact",
        $"n_shared_with_exact" * lit(1.0) / $"n_pairs")
      .orderBy($"family")
  }

  /** Quality-band thresholds on the stopword ratio (single-division double,
    * bit-identical cross-engine, so banding cannot drift at boundaries).
    * One definition, both engines.
    */
  val QualityLowBand = 0.05
  val QualityMidBand = 0.15

  /** Quality × duplication correlation — the curation-policy question
    * behind every filter pipeline ("do low-quality documents duplicate
    * more?") answered from artifacts both already verified: the
    * [[pairsForDir]] near-dup table and the stopword-ratio quality signal.
    * If the low band carries most of the duplication, dedup-then-filter
    * and filter-then-dedup give materially different corpora — this table
    * is how that ordering decision gets made. Map-side banding + one
    * broadcast-sized distinct dup set + a 3-group aggregate.
    */
  def qualityDupCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stopArr = graft.text.TextAnalysis.Stopwords
      .map(s => s"'$s'").mkString("(", ",", ")")
    val ratio =
      expr(s"size(filter(split(trim(text), '\\\\s+'), t -> lower(t) IN $stopArr))") *
        lit(1.0) / size(split(trim($"text"), "\\s+"))
    val band = when(ratio < QualityLowBand, "low")
      .when(ratio < QualityMidBand, "mid").otherwise("high")
    val dupDocs = pairsForDir(spark, dir).select($"doc_a".as("doc"))
      .union(pairsForDir(spark, dir).select($"doc_b".as("doc")))
      .distinct()
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars", band.as("quality_band"))
      .join(dupDocs, $"doc_id" === $"doc", "left")
      .groupBy($"quality_band")
      .agg(
        count(lit(1)).as("n_docs"),
        count($"doc").as("n_dup"),
        sum($"n_chars").as("total_chars"))
      .select($"quality_band", $"n_docs", $"n_dup",
        graft.functions.GraftFunctions.round2(
          $"n_dup" * lit(100.0) / $"n_docs").as("dup_pct"),
        ($"total_chars" * lit(1.0) / $"n_docs").as("avg_chars"))
      .orderBy($"quality_band")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_quality_correlation" -> (qualityDupCorrelation _),
    "dedup_exact" -> (exact _),
    // re-assert total order after the memoized parquet round-trip
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) =>
      pairsForDir(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_prefix_jaccard" -> ((s: SparkSession, d: String) =>
      prefixPairsForDir(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_ngram_jaccard_capped" -> ((s: SparkSession, d: String) =>
      cappedPairsForDir(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_threshold_sweep" -> (thresholdSweep _),
    "dedup_containment" -> ((s: SparkSession, d: String) =>
      containmentForDir(s, d).orderBy(col("contained_id"), col("container_id"))),
    "dedup_cross_source" -> (crossSourceMatrix _),
    "dedup_family_agreement" -> (familyAgreement _),
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => MinHashLsh.nearDuplicates(s, d)),
    "dedup_lsh_s_curve" -> ((s: SparkSession, d: String) => MinHashLsh.sCurve(s, d)),
    "dedup_incremental" -> ((s: SparkSession, d: String) =>
      MinHashLsh.incrementalNearDuplicates(s, d)),
    "dedup_simhash" -> ((s: SparkSession, d: String) => SimHash.nearDuplicates(s, d)))

  private def jaccardOracleSqlAt(tau: Double): String = s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
  WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS o
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, o * 1.0 / (sa.n + sb.n - o) AS jaccard
FROM ov
JOIN sizes sa ON ov.doc_a = sa.doc_id
JOIN sizes sb ON ov.doc_b = sb.doc_id
WHERE o * 1.0 / (sa.n + sb.n - o) >= $tau
ORDER BY doc_a, doc_b"""

  private[graft] val jaccardOracleSql: String = jaccardOracleSqlAt(BaseTau)

  val oracle: Map[String, String] = Map(
    "dedup_lsh_s_curve" -> """WITH pts AS (
  SELECT (i * 5)::INT AS pct, (i * 5) / 100.0 AS s
  FROM (SELECT unnest(range(1, 20)) AS i)),
c AS (
  SELECT pct, s, s * s AS s2 FROM pts),
c2 AS (SELECT pct, s, s2 * s2 AS s4 FROM c),
c3 AS (SELECT pct, s, s4, 1.0 - s4 AS t FROM c2),
c4 AS (SELECT pct, s, s4, t * t AS t2 FROM c3),
c5 AS (SELECT pct, s, s4, t2 * t2 AS t4 FROM c4),
c6 AS (SELECT pct, s, s4, t4 * t4 AS t8 FROM c5)
SELECT pct, s, s4 AS p_band_match, 1.0 - t8 AS p_candidate
FROM c6 ORDER BY pct""",

    "dedup_quality_correlation" -> {
      val stopArr = graft.text.TextAnalysis.Stopwords
        .map(s => s"'$s'").mkString("(", ",", ")")
      s"""WITH pairs AS ($jaccardOracleSql),
dup AS (SELECT DISTINCT unnest([doc_a, doc_b]) AS doc FROM pairs),
q AS (
  SELECT doc_id, n_chars,
         CASE WHEN r < $QualityLowBand THEN 'low'
              WHEN r < $QualityMidBand THEN 'mid'
              ELSE 'high' END AS quality_band
  FROM (
    SELECT doc_id, n_chars,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
               t -> lower(t) IN $stopArr)) * 1.0
             / length(string_split_regex(trim(text), '\\s+')) AS r
    FROM documents))
SELECT q.quality_band, count(*)::BIGINT AS n_docs,
       count(d.doc)::BIGINT AS n_dup,
       floor((count(d.doc) * 100.0 / count(*)) * 100 + 0.5) / 100.0
         AS dup_pct,
       sum(q.n_chars)::BIGINT * 1.0 / count(*) AS avg_chars
FROM q LEFT JOIN dup d ON q.doc_id = d.doc
GROUP BY 1 ORDER BY 1"""
    },

    "dedup_exact" -> """WITH feed AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0)
SELECT md5(lower(trim(text))) AS fingerprint,
       min(doc_id) AS canonical_id,
       count(*)::BIGINT AS n_copies
FROM feed
GROUP BY 1 HAVING count(*) > 1
ORDER BY canonical_id""",

    "dedup_ngram_jaccard" -> jaccardOracleSql,

    "dedup_threshold_sweep" -> s"""WITH b AS (
  SELECT CAST(floor(jaccard * 10) AS INT) AS band, count(*)::BIGINT AS n_pairs
  FROM ($jaccardOracleSql) GROUP BY 1)
SELECT band / 10.0 AS tau_band, n_pairs,
       sum(n_pairs) OVER (ORDER BY band DESC
                          ROWS UNBOUNDED PRECEDING)::BIGINT
         AS n_pairs_at_or_above
FROM b
ORDER BY tau_band""",

    // prefix filtering is EXACT (candidate recall 100%), so its oracle is
    // the identical thresholded pair table at the same τ — the strongest
    // possible check that the pruned index loses nothing
    "dedup_prefix_jaccard" -> jaccardOracleSqlAt(PrefixTau),

    // the capped oracle REPLAYS the candidate/verify split: candidates only
    // through shingles with df <= cap, exact Jaccard over full shingle sets
    "dedup_ngram_jaccard_capped" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
  WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $JaccardDfCap),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle IN (SELECT shingle FROM rare)),
ov AS (
  SELECT c.doc_a, c.doc_b, count(*) AS o
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT doc_a, doc_b, o * 1.0 / (sa.n + sb.n - o) AS jaccard
FROM ov
JOIN sizes sa ON ov.doc_a = sa.doc_id
JOIN sizes sb ON ov.doc_b = sb.doc_id
WHERE o * 1.0 / (sa.n + sb.n - o) >= $BaseTau
ORDER BY doc_a, doc_b""",

    "dedup_family_agreement" -> s"""WITH fam_exact AS (
  SELECT doc_a, doc_b FROM ($jaccardOracleSql) e),
fam_mh AS (
  SELECT doc_a, doc_b FROM (${MinHashLsh.oracleSql}) m),
fam_sh AS (
  SELECT doc_a, doc_b FROM (${SimHash.oracleSql}) s),
fams AS (
  SELECT 'ngram_exact' AS family, doc_a, doc_b FROM fam_exact
  UNION ALL SELECT 'minhash_lsh' AS family, doc_a, doc_b FROM fam_mh
  UNION ALL SELECT 'simhash' AS family, doc_a, doc_b FROM fam_sh)
SELECT f.family, count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_shared_with_exact,
       sum(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*)
         AS precision_vs_exact
FROM fams f
LEFT JOIN fam_exact e ON f.doc_a = e.doc_a AND f.doc_b = e.doc_b
GROUP BY f.family
ORDER BY f.family""",

    "dedup_cross_source" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
  WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS o
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b
  FROM ov
  JOIN sizes sa ON ov.doc_a = sa.doc_id
  JOIN sizes sb ON ov.doc_b = sb.doc_id
  WHERE o * 1.0 / (sa.n + sb.n - o) >= $BaseTau)
SELECT least(da.source, db.source) AS source_x,
       greatest(da.source, db.source) AS source_y,
       count(*)::BIGINT AS n_pairs
FROM pairs
JOIN documents da ON pairs.doc_a = da.doc_id
JOIN documents db ON pairs.doc_b = db.doc_id
GROUP BY 1, 2
ORDER BY source_x, source_y""",

    "dedup_containment" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
  WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS o
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT contained_id, container_id, o * 1.0 / sa.n AS containment
FROM ov JOIN sizes sa ON ov.contained_id = sa.doc_id
WHERE o * 1.0 / sa.n >= $ContainTau
ORDER BY contained_id, container_id""",

    // full-pipeline DuckDB twins (md5-derived hash families — see
    // MinHashLsh/SimHash scaladoc); DedupSpec additionally pins the
    // cross-family recall relationships no SQL oracle can express
    "dedup_minhash_lsh" -> MinHashLsh.oracleSql,
    "dedup_incremental" -> MinHashLsh.incrementalOracleSql,
    "dedup_simhash" -> SimHash.oracleSql)
}

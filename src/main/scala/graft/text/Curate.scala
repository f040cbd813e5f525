package graft.text

import graft.Tables
import graft.dedup.Dedup
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed training-data pipeline the
  * individual operators exist for: quality-filter → near-dup removal →
  * per-language corpus stats. One declarative DAG; each stage is the
  * already-verified operator.
  *
  * Near-dup policy: from every Jaccard-≥τ pair, the lower doc_id survives —
  * i.e. a document is dropped iff it appears as the `doc_b` of some pair
  * (deterministic greedy; at corpus scale the same rule runs over the
  * MinHash-LSH pair stream instead of the exact join, identical shape).
  *
  * Scale notes: quality filtering is map-side; the drop set is tiny
  * (near-dup pairs) and broadcast into a left-anti join; the rollup shuffles
  * once on lang.
  */
object Curate {

  val MinChars = 100
  val NearDupTau = 0.5

  def curatedStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val quality = docs.filter($"n_chars" >= MinChars)
    // τ=0.5 drop set is a filter of the shared τ=0.2 materialized pair
    // table (NearDupTau ≥ Dedup.BaseTau) — no Jaccard re-derivation
    val dropIds = Dedup.pairsForDir(spark, dir)
      .filter($"jaccard" >= NearDupTau)
      .select($"doc_b".as("drop_id")).distinct()
    quality
      .join(broadcast(dropIds), $"doc_id" === $"drop_id", "left_anti")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        // closed-form round (engine-identical), not round(): see GraftFunctions
        (floor(avg($"n_chars") * 10 + lit(0.5)) / lit(10.0)).as("avg_chars"))
      .orderBy($"lang")
  }

  /** Deterministic train/val/test assignment: first md5 hex digit of the
    * doc id → 16 buckets, 0-13 train / 14 val / 15 test (87.5 / 6.25 / 6.25).
    * A pure function of the key — reproducible across engines, retries, and
    * cluster sizes, and computable on ANY table carrying the id without a
    * join (the property [[decontaminate]] exploits). Map-side; the only
    * shuffle is the 3-row stats rollup.
    */
  private[text] def bucketOf(c: org.apache.spark.sql.Column) = {
    val h = ascii(substring(md5(c.cast("string")), 1, 1))
    when(h < 58, h - 48).otherwise(h - 87)
  }

  /** Cross-validation folds. One value, both engines. */
  val KFolds = 5

  /** Stratified k-fold assignment audit: every document lands in exactly
    * one of [[KFolds]] folds by salted md5 (stable under corpus growth —
    * adding documents never moves an existing one), and the audit reports
    * each (lang, fold) cell's doc/char volume plus its share within the
    * language — the evenness check that decides whether hash folding is
    * safe or a language is so small it needs explicit stratified dealing.
    * One groupBy over (lang, fold); the share join is against the
    * |langs|-row rollup (broadcast).
    */
  def kfoldAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fold = pmod(graft.functions.Md5Hash.h32(
      concat(lit("fold:"), $"doc_id".cast("string"))), lit(KFolds))
    val cells = Tables.documents(spark, dir)
      .groupBy($"lang", fold.as("fold"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    val perLang = cells.groupBy($"lang").agg(sum($"n_docs").as("lang_docs"))
    cells.join(broadcast(perLang), "lang")
      .select($"lang", $"fold", $"n_docs", $"total_chars",
        graft.functions.GraftFunctions.round2(
          $"n_docs" * lit(100.0) / $"lang_docs").as("pct_of_lang"))
      .orderBy($"lang", $"fold")
  }

  def trainValSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = bucketOf($"doc_id")
    val split = when(b <= 13, "train").when(b === 14, "val").otherwise("test")
    Tables.documents(spark, dir)
      .groupBy(split.as("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        countDistinct($"lang").as("n_langs"))
      .orderBy($"split")
  }

  /** Train/test decontamination ledger: every (train doc, test doc) pair
    * whose near-dup Jaccard ≥ τ — the train docs a training run must drop so
    * the test split stays uncontaminated. Because the split bucket is a pure
    * function of the id, both endpoints classify WITHOUT joining the corpus:
    * the whole query is a map-side filter over the materialized pair table
    * (val docs count as train here — they must not leak into test either).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Dedup.pairsForDir(spark, dir)
    val edges = pairs.select($"doc_a".as("x"), $"doc_b".as("y"), $"jaccard")
      .unionByName(pairs.select($"doc_b".as("x"), $"doc_a".as("y"), $"jaccard"))
    edges
      .filter(bucketOf($"x") <= 14 && bucketOf($"y") === 15)
      .select($"x".as("train_id"), $"y".as("test_id"), $"jaccard")
      .orderBy($"train_id", $"test_id")
  }

  /** Curation funnel ledger — documents surviving each pipeline stage
    * (raw → quality gate → near-dup removal → decontamination), the
    * one-table answer to "where did the corpus go?" that accompanies any
    * curation run. Each stage is the already-verified operator's predicate;
    * counts are single integer aggregates unioned into a 4-row ledger, so
    * at scale this costs one corpus scan per stage over id/metadata columns
    * (and the stages share the materialized pair table — nothing
    * re-derives Jaccard).
    */
  def funnelLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val quality = docs.filter($"n_chars" >= MinChars)
    val dropIds = Dedup.pairsForDir(spark, dir)
      .filter($"jaccard" >= NearDupTau)
      .select($"doc_b".as("drop_id")).distinct()
    val deduped = quality
      .join(broadcast(dropIds), $"doc_id" === $"drop_id", "left_anti")
    val contaminated = decontaminate(spark, dir)
      .select($"train_id".as("cid")).distinct()
    val fin = deduped
      .join(broadcast(contaminated), $"doc_id" === $"cid", "left_anti")
    Seq("1_raw" -> docs, "2_quality" -> quality,
      "3_near_dedup" -> deduped, "4_decontaminated" -> fin)
      .map { case (s, df) =>
        df.agg(count(lit(1)).as("n_docs")).select(lit(s).as("stage"), $"n_docs")
      }
      .reduce(_ unionByName _)
      .orderBy($"stage")
  }

  /** Rate buckets for the demo mix policy: target rate = (bucket+1)/4 with
    * bucket = h32("mix:"+source) mod 4 — a stand-in for the per-source
    * weights a real data-mixing config supplies. The GATE is the operator:
    * keep a doc iff its own uniform hash clears the source's rate.
    */
  val MixRateBuckets = 4

  /** Deterministic stratified down-sampling to a per-source target mix —
    * the reweighting step that turns a raw crawl into a training mixture.
    * Both sides of the decision are pure hash functions: the source's target
    * rate and the per-doc uniform draw (`h32 < rate·2³²`, integer-exact — no
    * float thresholds), so the sample is reproducible across engines,
    * retries, and cluster sizes, and any table carrying the ids can recompute
    * membership without a join. Map-side except the per-source stats rollup.
    */
  def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bucket = Md5Hash.h32(concat(lit("mix:"), $"source")) % MixRateBuckets
    // (b+1)/4 of the 2^32 hash space: threshold (b+1)·2^30, all integers
    val keep = Md5Hash.h32(concat(lit("mixdoc:"), $"doc_id".cast("string"))) <
      (bucket + 1) * lit(1073741824L)
    Tables.documents(spark, dir)
      .withColumn("target_rate", (bucket + 1) / lit(MixRateBuckets.toDouble))
      .groupBy($"source", $"target_rate")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("realized_rate", $"n_sampled" * lit(1.0) / $"n_docs")
      .orderBy($"source")
  }

  /** Shards for sequence packing — at cluster scale O(total cores), each
    * shard packs independently (embarrassingly parallel, no global order).
    */
  val PackShards = 8

  /** Token budget per packed training sequence. */
  val SeqBudget = 256

  /** Token-budget sequence packing — the concat-and-chunk layout LLM
    * pretraining uses: documents are placed on a deterministic per-shard
    * stream (md5 order), token counts accumulate, and every [[SeqBudget]]
    * tokens starts a new training sequence (documents may span a boundary —
    * `n_seqs` counts the sequences a doc touches). The cumulative sum is a
    * running window within each shard: ONE shuffle on shard id, exact long
    * arithmetic (`div`, not float division — still exact past 2⁵³ tokens),
    * and no global sort anywhere.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(
      $"doc_id",
      size(split(trim($"text"), "\\s+")).as("n_tokens"),
      (Md5Hash.h32(concat(lit("packshard:"), $"doc_id".cast("string")))
        % PackShards).cast("int").as("shard"),
      md5(concat(lit("packord:"), $"doc_id".cast("string"))).as("ord"))
    val w = Window.partitionBy($"shard").orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("cum_before",
        coalesce(sum($"n_tokens".cast("long")).over(w), lit(0L)))
      .select($"doc_id", $"shard", $"n_tokens",
        expr(s"cum_before div $SeqBudget").as("seq_id"),
        ($"cum_before" % SeqBudget).as("seq_offset"),
        (expr(s"(cum_before + n_tokens - 1) div $SeqBudget")
          - expr(s"cum_before div $SeqBudget") + 1).as("n_seqs"))
      .orderBy($"doc_id")
  }

  /** Output shard count for [[shardAssign]]. */
  val ShardK = 8

  /** Balanced output-shard assignment — the write-layout step after
    * curation: the corpus must land in [[ShardK]] files of near-equal TOKEN
    * mass (training readers stream shards round-robin; one fat shard = one
    * straggling data-loader). Plain `hash(doc) % K` balances doc COUNTS but
    * not token mass under a skewed length distribution; greedy
    * least-loaded-bin packing balances best but is inherently sequential.
    * The scalable middle: rank documents by token count (longest first)
    * within each source and deal them SERPENTINE across shards (row k of
    * each 2K-block goes to shard k, the next block reverses direction), so
    * every consecutive 2K-block of similar-sized docs spreads evenly and
    * the per-source imbalance is bounded by one document's tokens —
    * independent of corpus size. The ranking window partitions by SOURCE
    * (bounded, parallel — never a global sort); per-source balance sums to
    * global balance.
    */
  def shardAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(
      $"doc_id", $"source",
      size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy($"source").orderBy($"n_tokens".desc, $"doc_id")
    docs
      .withColumn("r", (row_number().over(w) - 1).cast("long"))
      .withColumn("shard",
        when(expr(s"(r div $ShardK) % 2") === 0, expr(s"r % $ShardK"))
          .otherwise(lit(ShardK - 1) - expr(s"r % $ShardK")))
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"))
      .orderBy($"shard")
  }

  /** Global token budget for [[budgetMix]]. */
  val TokenBudget = 20000L

  /** Token-budget mixing — the allocation step a training run makes before
    * sampling: a GLOBAL token budget splits into per-source quotas
    * proportional to the md5-lattice weights (the [[sampleMix]] policy),
    * and each source keeps the longest PREFIX of its deterministic
    * md5-ordered document stream that fits the quota (the stream is cut at
    * the first document that would overflow — a later smaller document does
    * NOT re-enter, which keeps the decision a pure function of the prefix
    * sum; a skip-and-continue greedy would need a sequential per-source
    * scan whose decisions depend on earlier keeps). Every decision is
    * integer arithmetic — `quota = B·w div Σw` over integer
    * quarter-weights, long token cumsums — so the allocation is
    * bit-reproducible at any parallelism.
    *
    * Scale notes (100 TB): the weight rollup touches only distinct sources
    * (driver scalar, like every allocation constant); the fill is ONE keyed
    * window per source (shuffle on source, running long sum); the emitted
    * ledger is one row per source. Skewed sources are the caveat at
    * cluster scale — a giant source's window serializes on one reducer, so
    * there the fill key becomes (source, shard) with per-shard sub-quotas,
    * the [[packSequences]] device.
    */
  def budgetMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // integer quarter-weights from the same md5 policy lattice as sampleMix
    val wq = (Md5Hash.h32(concat(lit("mix:"), $"source")) % MixRateBuckets) + 1
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
    val sumWq = docs.select($"source").distinct()
      .select(sum(wq).as("s")).head.getLong(0)
    val ord = md5(concat(lit("budget:"), $"doc_id".cast("string")))
    val w = Window.partitionBy($"source").orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("wq", wq)
      .withColumn("quota", expr(s"$TokenBudget * wq div $sumWq"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("kept", $"cum_before" + $"n_tokens" <= $"quota")
      .groupBy($"source")
      .agg(
        max($"quota").as("quota"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", $"n_tokens").otherwise(0L)).as("tokens_used"))
      .withColumn("utilization", $"tokens_used" * lit(1.0) / $"quota")
      .orderBy($"source")
  }

  /** Temperature-sampling mix (α = 0.5) — the standard multilingual /
    * multi-source rebalancing policy: sampling weight w_i ∝ n_i^α flattens
    * the natural size distribution so small sources are seen more than
    * proportionally (α→0 is uniform, α=1 is natural). α is fixed at 0.5
    * because n^0.5 = sqrt(n) is a correctly-rounded IEEE op on both
    * engines — a general pow() routes through exp/log, which are only
    * 1-ulp on the JVM and therefore banned from hash-compared outputs
    * (the repo's float-parity rule). Emits per source the weight, the
    * token allocation out of [[TokenBudget]], and the implied epoch count
    * (allocation / corpus size — >1 means the source repeats).
    *
    * Float parity: per-source token counts are exact long sums; the weight
    * denominator Σ sqrt(n_i) folds IN SOURCE ORDER over a collected
    * source-sorted array (the in-array-order accumulation contract every
    * cosine oracle here uses), so every derived double is bit-identical
    * cross-engine. Scale: sources are few — the rollup is one partial-
    * aggregated shuffle, the denominator a 1-row broadcast.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .select($"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tokens"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
    val den = per.agg(expr(
      """aggregate(
        |  transform(sort_array(collect_list(struct(source, n_tokens))),
        |    s -> sqrt(CAST(s.n_tokens AS DOUBLE))),
        |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
      .as("denom"))
    per.crossJoin(broadcast(den))
      .withColumn("weight", sqrt($"n_tokens".cast("double")) / $"denom")
      .withColumn("alloc_tokens", lit(TokenBudget.toDouble) * $"weight")
      .withColumn("epochs", $"alloc_tokens" / $"n_tokens".cast("double"))
      .select($"source", $"n_docs", $"n_tokens", $"weight", $"alloc_tokens",
        $"epochs")
      .orderBy($"source")
  }

  /** One-row dataset card — the summary block a corpus RELEASE ships
    * (datasheet/dataset-card practice): volume (docs, tokens, chars),
    * breadth (languages, sources), and the two curation rates every
    * consumer asks first — near-duplicate rate (fraction of docs dropped
    * by the τ=[[NearDupTau]] policy) and quality-pass rate (fraction
    * surviving the [[MinChars]] gate). Composed entirely from the
    * already-verified operators' predicates and the shared pair table;
    * one corpus scan + a broadcast drop set, folded to a single row.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens",
        size(split(trim($"text"), "\\s+")).cast("long"))
    val dropIds = Dedup.pairsForDir(spark, dir)
      .filter($"jaccard" >= NearDupTau)
      .select($"doc_b".as("drop_id")).distinct()
    docs
      .join(broadcast(dropIds), $"doc_id" === $"drop_id", "left_outer")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        sum($"n_chars").as("n_chars"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        sum(when($"drop_id".isNotNull, 1L).otherwise(0L)).as("n_near_dups"),
        sum(when($"n_chars" >= MinChars, 1L).otherwise(0L)).as("n_quality"))
      .select($"n_docs", $"n_tokens", $"n_chars", $"n_langs", $"n_sources",
        ($"n_near_dups" * lit(1.0) / $"n_docs").as("near_dup_rate"),
        ($"n_quality" * lit(1.0) / $"n_docs").as("quality_pass_rate"))
  }

  /** Width of the exact-collision n-gram for [[ngramOverlap]]. Production
    * decontamination uses 8-13; 5 fits this corpus's ~30-word vocabulary
    * (wider grams collide only on true copies, narrower ones saturate).
    */
  val OverlapGram = 5

  /** Per-gram document-frequency cap for [[ngramOverlap]]'s CANDIDATE index.
    * A gram shared by df documents alone contributes df_train·df_test
    * candidate rows, so boilerplate grams make the inverted-index join
    * superlinear under corpus duplication; grams with df > [[OverlapDfCap]]
    * are dropped from candidate generation (never from the verify — see
    * [[ngramOverlap]]). [[overlapDroppedGrams]] is the ledger of what the
    * cap dropped (the repo's no-silent-caps convention).
    */
  val OverlapDfCap = 100L

  /** Exact n-gram collision decontamination — the OTHER standard
    * decontamination contract beside [[decontaminate]]'s Jaccard pairs: a
    * train document is contaminated if it shares ANY exact [[OverlapGram]]-
    * gram with a test document (the GPT-3/PaLM "13-gram overlap" rule,
    * truncated to this corpus's scale). Emits the full collision ledger
    * (train_id, test_id, n_shared distinct grams) so the caller can set
    * their own collision threshold.
    *
    * Plan shape (the df-capped candidate/verify split, same as
    * [[graft.dedup.Dedup.ngramJaccardCapped]]): gram extraction is map-side
    * (tokenize once, slide a window); train/test classification is a pure
    * md5 function of the id (no corpus join); CANDIDATE pairs come from the
    * inverted-index join restricted to grams with df ≤ [[OverlapDfCap]], so
    * the fan-out is Σ_{df(g)≤cap} df_train(g)·df_test(g) ≤ cap·Σdf_test —
    * linear in corpus size, never Σdf² — and survives corpus duplication;
    * the VERIFY join then counts n_shared over the FULL gram sets of each
    * candidate pair (keyed on doc ids, fan-out |candidates|·grams-per-doc),
    * so emitted counts are exact. The only recall loss — pairs whose every
    * shared gram is boilerplate (df > cap) — is deliberate and ledgered by
    * [[overlapDroppedGrams]]; ScaleVariantsSpec pins capped ⊆ uncapped with
    * exact counts on every surviving pair.
    */
  def ngramOverlap(spark: SparkSession, dir: String,
      dfCap: Long = OverlapDfCap): DataFrame = {
    import spark.implicits._
    val grams = overlapGrams(spark, dir)
    val rare = grams.groupBy($"gram")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= dfCap)
      .select($"gram")
    val capped = grams.join(rare, "gram")
    val candidates = capped.filter(bucketOf($"doc_id") <= 14)
      .select($"doc_id".as("train_id"), $"gram")
      .join(capped.filter(bucketOf($"doc_id") === 15)
        .select($"doc_id".as("test_id"), $"gram"), "gram")
      .select($"train_id", $"test_id").distinct()
    val trainFull = grams.filter(bucketOf($"doc_id") <= 14)
      .select($"doc_id".as("train_id"), $"gram")
    val testFull = grams.filter(bucketOf($"doc_id") === 15)
      .select($"doc_id".as("test_id"), $"gram")
    candidates
      .join(trainFull, "train_id")
      .join(testFull, Seq("test_id", "gram"))
      .groupBy($"train_id", $"test_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"train_id", $"test_id")
  }

  /** The [[OverlapDfCap]] ledger: every gram the cap excluded from candidate
    * generation, with its document frequency — the audit trail that makes
    * the capped join's recall trade inspectable instead of silent. One
    * gram-keyed aggregate (map-side partial) + a HAVING filter.
    */
  def overlapDroppedGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    overlapGrams(spark, dir)
      .groupBy($"gram")
      .agg(count(lit(1)).as("df"))
      .filter($"df" > OverlapDfCap)
      .orderBy($"df".desc, $"gram")
  }

  /** Distinct (doc_id, gram) inverted index of [[OverlapGram]]-grams —
    * shared by [[ngramOverlap]]'s candidate/verify stages (which reference
    * it four times) and the [[overlapDroppedGrams]] ledger. Materialized
    * once per (application, corpus) as parquet — the gram extraction is an
    * interpreted per-token lambda over every document, and without
    * materialization Spark recomputes it per plan reference (this was the
    * whole cost of the round-4 query). Same write-once shape as
    * [[graft.dedup.DocIndex.forDir]]; at 100 TB this is the inverted-index
    * table a decontamination pass builds once and queries per test set.
    */
  private[graft] def overlapGrams(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.parquet(spark, "graft-overlap-grams", dir) {
      import spark.implicits._
      // Gram assembly is TOP-LEVEL expressions (explode positions, then
      // concat_ws over element_at) so whole-stage codegen covers it — the
      // equivalent transform(.., i -> concat_ws(slice(..)))-lambda runs
      // interpreted and measured 7× slower; per-doc distinct becomes one
      // (doc_id, gram) distinct on the already-exploded rows.
      Tables.documents(spark, dir)
        .withColumn("toks", split(trim(lower($"text")), "\\s+"))
        .filter(size($"toks") >= OverlapGram)
        .select($"doc_id", $"toks",
          explode(sequence(lit(0), size($"toks") - OverlapGram)).as("i"))
        .select($"doc_id",
          concat_ws(" ",
            (1 to OverlapGram).map(k => element_at($"toks", $"i" + k)): _*)
            .as("gram"))
        .distinct()
    }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_ngram_overlap" -> ((s, d) => ngramOverlap(s, d)),
    "curate_overlap_dropped_grams" -> (overlapDroppedGrams _),
    "curate_temperature_mix" -> (temperatureMix _),
    "curate_dataset_card" -> (datasetCard _),
    "curate_budget_mix" -> (budgetMix _),
    "curate_corpus" -> (curatedStats _),
    "curate_funnel" -> (funnelLedger _),
    "curate_train_val_split" -> (trainValSplit _),
    "curate_kfold_assign" -> (kfoldAssign _),
    "curate_decontaminate" -> (decontaminate _),
    "curate_sample_mix" -> (sampleMix _),
    "curate_pack_sequences" -> (packSequences _),
    "curate_shard_assign" -> (shardAssign _))

  /** DuckDB twin of [[bucketOf]] over a bigint column expression. */
  private def bucketSql(c: String): String =
    s"""CASE WHEN ascii(substring(md5(CAST($c AS VARCHAR)), 1, 1)) < 58
       |     THEN ascii(substring(md5(CAST($c AS VARCHAR)), 1, 1)) - 48
       |     ELSE ascii(substring(md5(CAST($c AS VARCHAR)), 1, 1)) - 87
       |END""".stripMargin

  private val funnelOracleSql: String = s"""WITH toks AS (
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
  SELECT doc_a, doc_b, o * 1.0 / (sa.n + sb.n - o) AS jaccard
  FROM ov JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE o * 1.0 / (sa.n + sb.n - o) >= ${Dedup.BaseTau}),
drops AS (
  SELECT DISTINCT doc_b AS drop_id FROM pairs WHERE jaccard >= $NearDupTau),
quality AS (SELECT doc_id FROM documents WHERE n_chars >= $MinChars),
dedup AS (
  SELECT doc_id FROM quality
  WHERE doc_id NOT IN (SELECT drop_id FROM drops)),
edges AS (
  SELECT doc_a AS x, doc_b AS y FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
contam AS (
  SELECT DISTINCT x AS cid FROM edges
  WHERE ${bucketSql("x")} <= 14 AND ${bucketSql("y")} = 15),
fin AS (
  SELECT doc_id FROM dedup WHERE doc_id NOT IN (SELECT cid FROM contam))
SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs FROM documents
UNION ALL SELECT '2_quality', count(*)::BIGINT FROM quality
UNION ALL SELECT '3_near_dedup', count(*)::BIGINT FROM dedup
UNION ALL SELECT '4_decontaminated', count(*)::BIGINT FROM fin
ORDER BY stage"""

  val oracle: Map[String, String] = Map(
    "curate_ngram_overlap" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+${OverlapGram - 1}], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - ${OverlapGram - 2})) AS i)
  WHERE len(t) >= $OverlapGram),
rare AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) <= $OverlapDfCap),
tr AS (
  SELECT doc_id AS train_id, gram FROM g WHERE ${bucketSql("doc_id")} <= 14),
te AS (
  SELECT doc_id AS test_id, gram FROM g WHERE ${bucketSql("doc_id")} = 15),
cand AS (
  SELECT DISTINCT train_id, test_id
  FROM tr JOIN te USING (gram)
  WHERE gram IN (SELECT gram FROM rare))
SELECT c.train_id, c.test_id, count(*)::BIGINT AS n_shared
FROM cand c
JOIN tr ON tr.train_id = c.train_id
JOIN te ON te.test_id = c.test_id AND te.gram = tr.gram
GROUP BY 1, 2
ORDER BY 1, 2""",

    "curate_overlap_dropped_grams" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+${OverlapGram - 1}], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - ${OverlapGram - 2})) AS i)
  WHERE len(t) >= $OverlapGram)
SELECT gram, count(*)::BIGINT AS df
FROM g GROUP BY gram HAVING count(*) > $OverlapDfCap
ORDER BY df DESC, gram""",

    "curate_temperature_mix" -> s"""WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens
  FROM documents GROUP BY 1),
den AS (
  SELECT list_sum(list_transform(list(n_tokens ORDER BY source),
                                 t -> sqrt(CAST(t AS DOUBLE)))) AS denom
  FROM per)
SELECT source, n_docs, n_tokens,
       sqrt(CAST(n_tokens AS DOUBLE)) / denom AS weight,
       ${TokenBudget.toDouble} * (sqrt(CAST(n_tokens AS DOUBLE)) / denom)
         AS alloc_tokens,
       (${TokenBudget.toDouble} * (sqrt(CAST(n_tokens AS DOUBLE)) / denom))
         / CAST(n_tokens AS DOUBLE) AS epochs
FROM per, den
ORDER BY source""",

    "curate_dataset_card" -> s"""WITH toks AS (
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
drops AS (
  SELECT DISTINCT doc_b AS drop_id
  FROM ov JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE o * 1.0 / (sa.n + sb.n - o) >= $NearDupTau)
SELECT count(*)::BIGINT AS n_docs,
       sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens,
       sum(n_chars)::BIGINT AS n_chars,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources,
       sum(CASE WHEN doc_id IN (SELECT drop_id FROM drops)
                THEN 1 ELSE 0 END)::BIGINT * 1.0 / count(*) AS near_dup_rate,
       sum(CASE WHEN n_chars >= $MinChars THEN 1 ELSE 0 END)::BIGINT
         * 1.0 / count(*) AS quality_pass_rate
FROM documents""",

    "curate_funnel" -> funnelOracleSql,
    "curate_budget_mix" -> s"""WITH d AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
         ((${Md5Hash.h32Sql("'mix:' || source")}) % $MixRateBuckets + 1)
           ::BIGINT AS wq,
         md5('budget:' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents),
sw AS (SELECT sum(wq)::BIGINT AS s FROM (SELECT DISTINCT source, wq FROM d)),
q AS (
  SELECT *,
         ($TokenBudget * wq) // (SELECT s FROM sw) AS quota,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM d)
SELECT source,
       max(quota)::BIGINT AS quota,
       sum(CASE WHEN cum_before + n_tokens <= quota THEN 1 ELSE 0 END)::BIGINT
         AS n_kept,
       sum(CASE WHEN cum_before + n_tokens <= quota THEN n_tokens ELSE 0 END)
         ::BIGINT AS tokens_used,
       sum(CASE WHEN cum_before + n_tokens <= quota THEN n_tokens ELSE 0 END)
         ::BIGINT * 1.0 / max(quota) AS utilization
FROM q
GROUP BY source
ORDER BY source""",

    "curate_corpus" -> s"""WITH toks AS (
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
drops AS (
  SELECT DISTINCT doc_b AS drop_id
  FROM ov JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE o * 1.0 / (sa.n + sb.n - o) >= $NearDupTau)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       floor(avg(n_chars) * 10 + 0.5) / 10.0 AS avg_chars
FROM documents
WHERE n_chars >= $MinChars
  AND doc_id NOT IN (SELECT drop_id FROM drops)
GROUP BY lang ORDER BY lang""",

    "curate_kfold_assign" -> s"""WITH cells AS (
  SELECT lang,
         (${graft.functions.Md5Hash.h32Sql("'fold:' || doc_id::VARCHAR")})
           % $KFolds AS fold,
         count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS total_chars
  FROM documents GROUP BY 1, 2),
per_lang AS (
  SELECT lang, sum(n_docs)::BIGINT AS lang_docs FROM cells GROUP BY lang)
SELECT c.lang, c.fold, c.n_docs, c.total_chars,
       floor((c.n_docs * 100.0 / p.lang_docs) * 100 + 0.5) / 100.0
         AS pct_of_lang
FROM cells c JOIN per_lang p ON c.lang = p.lang
ORDER BY c.lang, c.fold""",

    "curate_train_val_split" -> s"""WITH bucketed AS (
  SELECT *,
         CASE WHEN ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) < 58
              THEN ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48
              ELSE ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87
         END AS b
  FROM documents)
SELECT CASE WHEN b <= 13 THEN 'train' WHEN b = 14 THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM bucketed
GROUP BY 1 ORDER BY 1""",

    "curate_decontaminate" -> s"""WITH toks AS (
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
  SELECT doc_a, doc_b, o * 1.0 / (sa.n + sb.n - o) AS jaccard
  FROM ov JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE o * 1.0 / (sa.n + sb.n - o) >= ${Dedup.BaseTau}),
edges AS (
  SELECT doc_a AS x, doc_b AS y, jaccard FROM pairs
  UNION ALL SELECT doc_b, doc_a, jaccard FROM pairs),
bucketed AS (
  SELECT x, y, jaccard,
         CASE WHEN ascii(substring(md5(CAST(x AS VARCHAR)), 1, 1)) < 58
              THEN ascii(substring(md5(CAST(x AS VARCHAR)), 1, 1)) - 48
              ELSE ascii(substring(md5(CAST(x AS VARCHAR)), 1, 1)) - 87
         END AS bx,
         CASE WHEN ascii(substring(md5(CAST(y AS VARCHAR)), 1, 1)) < 58
              THEN ascii(substring(md5(CAST(y AS VARCHAR)), 1, 1)) - 48
              ELSE ascii(substring(md5(CAST(y AS VARCHAR)), 1, 1)) - 87
         END AS by
  FROM edges)
SELECT x AS train_id, y AS test_id, jaccard
FROM bucketed
WHERE bx <= 14 AND by = 15
ORDER BY train_id, test_id""",

    "curate_sample_mix" -> s"""WITH gated AS (
  SELECT source,
         (${Md5Hash.h32Sql("'mix:' || source")}) % $MixRateBuckets AS b,
         CASE WHEN (${Md5Hash.h32Sql("'mixdoc:' || CAST(doc_id AS VARCHAR)")})
                   < ((${Md5Hash.h32Sql("'mix:' || source")}) % $MixRateBuckets + 1)
                     * 1073741824 THEN 1 ELSE 0 END AS keep
  FROM documents)
SELECT source,
       (b + 1) / ${MixRateBuckets.toDouble} AS target_rate,
       count(*)::BIGINT AS n_docs,
       sum(keep)::BIGINT AS n_sampled,
       sum(keep)::BIGINT * 1.0 / count(*)::BIGINT AS realized_rate
FROM gated
GROUP BY source, b
ORDER BY source""",

    "curate_shard_assign" -> s"""WITH d AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
  FROM documents),
r AS (
  SELECT n_tokens,
         (row_number() OVER (PARTITION BY source
                             ORDER BY n_tokens DESC, doc_id) - 1)::BIGINT AS r
  FROM d),
assigned AS (
  SELECT n_tokens,
         CASE WHEN (r // $ShardK) % 2 = 0 THEN r % $ShardK
              ELSE ${ShardK - 1} - (r % $ShardK) END AS shard
  FROM r)
SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
FROM assigned GROUP BY shard ORDER BY shard""",

    "curate_pack_sequences" -> s"""WITH d AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+'))::INT AS n_tokens,
         ((${Md5Hash.h32Sql("'packshard:' || CAST(doc_id AS VARCHAR)")})
           % $PackShards)::INT AS shard,
         md5('packord:' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens::BIGINT) OVER (
           PARTITION BY shard ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS cum_before
  FROM d)
SELECT doc_id, shard, n_tokens,
       (cum_before // $SeqBudget)::BIGINT AS seq_id,
       (cum_before % $SeqBudget)::BIGINT AS seq_offset,
       ((cum_before + n_tokens - 1) // $SeqBudget
         - cum_before // $SeqBudget + 1)::BIGINT AS n_seqs
FROM c ORDER BY doc_id""")
}

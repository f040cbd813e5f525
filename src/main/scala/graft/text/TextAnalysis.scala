package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table (the reference's `reports` analog — it stores report
  * text opaquely, `/root/reference/sql/01_schema.sql:88-98`; these operators
  * are the extension surface a 100 TB corpus pipeline needs).
  *
  * All operators are pure column expressions (whole-stage codegen, no UDFs):
  * one narrow scan per query, no shuffle except the final ORDER BY for the
  * oracle's total order — at scale these run map-side over any partitioning.
  *
  * Determinism: ratios are produced by integer counts and a single double
  * division, emitted with the identical expression shape in the DuckDB
  * oracle, so the float hash-compare is bit-exact.
  */
object TextAnalysis {

  /** Shared stopword list for quality scoring (English function words —
    * the quality heuristic counts their density, a standard content-vs-
    * boilerplate signal).
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private val tokenRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private val punctClass = "[.,;:!?'\"()-]"

  /** Token statistics: whitespace tokens, BPE-ish regex tokens, char count,
    * average token length. Whitespace tokenization via `\s+` split on the
    * trimmed text (identical empty-token semantics on both engines).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        length($"text").as("n_chars"),
        size(split(trim($"text"), "\\s+")).as("n_tokens"),
        regexp_count(lower($"text"), lit(tokenRegex)).as("n_subtokens"),
        (length(regexp_replace(trim($"text"), "\\s+", "")) * lit(1.0)
          / size(split(trim($"text"), "\\s+"))).as("avg_token_len"))
      .orderBy($"doc_id")
  }

  /** Quality scoring: punctuation density, stopword density, uppercase
    * density — the length/punct/stopword-ratio heuristics used to filter
    * training corpora. Kept as raw ratios (no opaque combined score) so the
    * oracle stays exact.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = split(trim($"text"), "\\s+")
    val stopArr = Stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    Tables.documents(spark, dir)
      .select(
        $"doc_id", $"lang",
        length($"text").as("n_chars"),
        ((length($"text") - length(regexp_replace($"text", punctClass, "")))
          * lit(1.0) / length($"text")).as("punct_ratio"),
        (expr(s"size(filter(split(trim(text), '\\\\s+'), t -> lower(t) IN $stopArr))")
          * lit(1.0) / size(toks)).as("stopword_ratio"),
        ((length($"text") - length(regexp_replace($"text", "[A-Z]", "")))
          * lit(1.0) / length($"text")).as("upper_ratio"))
      .orderBy($"doc_id")
  }

  /** Marker-word language scores per language, and the argmax language with
    * a fixed tiebreak order (en > de > fr > es > zh on equal scores — the
    * greatest-first CASE). A corpus-scale lang-ID heuristic: count hits from
    * small per-language function-word profiles.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "y", "es"),
    "zh" -> Seq("de", "shi", "he", "zai"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def score(lang: String): org.apache.spark.sql.Column = {
      val arr = LangMarkers(lang).map(s => s"'$s'").mkString("(", ",", ")")
      expr(s"size(filter(split(trim(lower(text)), '\\\\s+'), t -> t IN $arr))")
    }
    val langs = Seq("en", "de", "fr", "es", "zh")
    val scored = Tables.documents(spark, dir)
      .select($"doc_id" +: $"lang".as("declared_lang") +:
        langs.map(l => score(l).as(s"score_$l")): _*)
    // argmax as a chained CASE — en wins ties, then de, fr, es, zh
    val predicted =
      when(col("score_en") >= greatest(col("score_de"), col("score_fr"),
        col("score_es"), col("score_zh")), "en")
        .when(col("score_de") >= greatest(col("score_fr"), col("score_es"),
          col("score_zh")), "de")
        .when(col("score_fr") >= greatest(col("score_es"), col("score_zh")), "fr")
        .when(col("score_es") >= col("score_zh"), "es")
        .otherwise("zh")
    scored.select(col("doc_id"), col("declared_lang"),
      col("score_en"), col("score_de"), col("score_fr"), col("score_es"),
      col("score_zh"), predicted.as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion rollup — the corpus-level QA view over
    * [[langId]]: declared × predicted counts plus each cell's share of its
    * declared language. The report a curation run reads to decide whether
    * the declared `lang` labels (crawl metadata — routinely wrong) or the
    * content-based ID should gate the language filters; off-diagonal mass
    * IS the mislabel rate. One languages²-sized aggregate over the map-side
    * per-doc scorer; the share divides exact longs, so the doubles
    * hash-compare.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"declared_lang")
    langId(spark, dir)
      .groupBy($"declared_lang", $"predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_of_declared",
        $"n_docs" * lit(1.0) / sum($"n_docs").over(w))
      .orderBy($"declared_lang", $"predicted_lang")
  }

  /** Document fingerprinting: md5 of the normalized text (exact-dup key) and
    * a coarse length bucket — the (fingerprint, bucket) pair is the
    * partition-friendly exact-dedup identity at corpus scale.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        md5(lower(trim($"text"))).as("fingerprint"),
        (floor($"n_chars" / 100) * 100).cast("long").as("length_bucket"))
      .orderBy($"doc_id")
  }

  /** Winnowing parameters: character k-grams, window of w gram hashes. */
  val WinnowK = 8
  val WinnowW = 4

  /** Rolling-hash document fingerprints, winnowed (Schleimer/Wilkerson/Aiken
    * MOSS scheme, SIGMOD'03 — public algorithm): hash every character
    * k-gram of the normalized text, slide a w-hash window, keep each
    * window's minimum, emit the distinct selected hashes. Guarantees any
    * shared substring of length ≥ k+w−1 between two documents shares a
    * selected fingerprint — the partial-overlap detector that whole-text
    * md5 ([[fingerprint]]) cannot provide. Hashes are [[Md5Hash.h32]] so
    * the DuckDB oracle reproduces the selection exactly.
    *
    * Scale note: per-document map-side work, O(|text|·k), executed by the
    * native codegen'd [[graft.functions.WinnowFingerprints]] kernel (one
    * compiled loop per row — profiling put the earlier two-HOF interpreted
    * form at the top of the bench, so it got the
    * [[graft.functions.PlaneDot]] treatment). Docs shorter than
    * k+w−1 chars emit no fingerprints.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowDf(Tables.documents(spark, dir))

  /** Injection point for the shared-substring spec: winnow any
    * (doc_id, text) frame. The kernel is the native codegen'd
    * [[graft.functions.WinnowFingerprints]]; short docs emit an empty
    * array → explode drops them.
    */
  private[graft] def winnowDf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), explode(expr("graft_winnow(t)")).as("fp"))
      .orderBy(col("doc_id"), col("fp"))
  }

  /** Repetition quality signals (the Gopher-rules family, Rae et al. 2021 —
    * public heuristics): duplicate-token fraction and the most-frequent-
    * bigram fraction. High values mark degenerate/boilerplate text a
    * training-corpus filter drops. (The corpus has no newlines, so the
    * line-level variants collapse to these token-level forms.)
    *
    * Shape at scale: the token stats are map-side; the bigram mode needs one
    * (doc_id, bigram) aggregation — map-side partial combine does most of the
    * work since repeated bigrams collapse locally — then a (doc_id) rollup.
    * Both shuffles carry counts, never text.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower($"text")), "\\s+"))
    val tokStats = docs.select($"doc_id",
      size($"toks").as("n_tokens"),
      size(array_distinct($"toks")).as("n_distinct_tokens"))
    val top = docs.filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_c"), sum($"c").as("n_bigrams"))
    tokStats.join(top, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        (lit(1.0) - $"n_distinct_tokens" * lit(1.0) / $"n_tokens")
          .as("dup_token_ratio"),
        coalesce($"top_c" * lit(1.0) / $"n_bigrams", lit(0.0))
          .as("top_bigram_ratio"))
      .orderBy($"doc_id")
  }

  /** PII patterns with Java-regex/RE2 parity (plain character classes — no
    * lookaround, no backrefs — evaluate identically on both engines).
    */
  val EmailRx = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
  val PhoneRx = "[0-9]{3}-[0-9]{4}"

  /** PII-bearing feed derived from `documents` — the testdata carries no
    * PII, so every 7th doc gets a deterministic contact line appended (the
    * [[graft.dedup.Dedup]] dupFeed pattern: a labeled, reproducible stand-in
    * for what a raw crawl contains).
    */
  private def piiFeed(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(col("text")))

  /** PII scrubbing: count and redact email/phone occurrences with fixed
    * placeholder tokens — the policy-driven redaction pass a training corpus
    * runs before anything else reads the text. Pure map-side column
    * expressions (regexes chosen for cross-engine parity, see [[EmailRx]]);
    * at 100 TB this runs in the ingest scan with zero shuffles.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    piiFeed(Tables.documents(spark, dir))
      .select(
        $"doc_id",
        regexp_count($"text", lit(EmailRx)).as("n_emails"),
        regexp_count($"text", lit(PhoneRx)).as("n_phones"),
        regexp_replace(regexp_replace($"text", EmailRx, "<EMAIL>"),
          PhoneRx, "<PHONE>").as("scrubbed"))
      .orderBy($"doc_id")
  }

  /** A token is "rare" when its corpus share is under 1/[[RareDenom]] —
    * an integer-exact test (`tf * RareDenom < total`, all BIGINT; no float
    * threshold to drift between engines).
    */
  val RareDenom = 1000L

  /** Corpus-statistics token-frequency scoring — the two-pass unigram-LM
    * quality-filter shape (score each document by how typical its tokens are
    * of the corpus): pass 1 builds the term-frequency table, pass 2 joins it
    * back and aggregates per doc. Deliberately NO `log`: Java's `Math.log`
    * is only 1-ulp-accurate (not correctly rounded), so a log-prob column
    * could hash-mismatch DuckDB on rare values; mean token probability and
    * rare-token fraction carry the same filtering signal through exact
    * integer sums and correctly-rounded IEEE divisions only.
    *
    * Scale notes (100 TB): pass 1 is a map-side-combined count per token;
    * the per-token join is a shuffle on `tok` (or a broadcast when the vocab
    * fits — AQE decides); per-doc aggregation is exact long arithmetic, so
    * accumulation order never matters. The normalization constant (total
    * corpus tokens) is one scalar off the vocab table — the same driver
    * round-trip every LM normalization makes.
    */
  def tokenFreqScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(split(trim(lower($"text")), "\\s+")).as("tok"))
    val tf = toks.groupBy($"tok").agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum($"tf")).head.getLong(0)
    toks.join(tf, "tok")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum($"tf").as("sum_tf"),
        min($"tf").as("min_tf"),
        sum(when($"tf" * lit(RareDenom) < lit(total), 1L).otherwise(0L))
          .as("n_rare"))
      .select($"doc_id", $"n_tokens", $"min_tf",
        ($"sum_tf".cast("double") / $"n_tokens" / lit(total.toDouble))
          .as("mean_token_p"),
        ($"n_rare" * lit(1.0) / $"n_tokens").as("rare_frac"))
      .orderBy($"doc_id")
  }

  /** Context-window chunking parameters: windows of [[ChunkW]] tokens
    * every [[ChunkS]] tokens (overlap = W − S), the sliding layout
    * RAG indexing and long-document pretraining prep use.
    */
  val ChunkW = 64
  val ChunkS = 48

  /** Overlapping token-window chunking: each document explodes into windows
    * of [[ChunkW]] tokens starting every [[ChunkS]] (the final windows may
    * be short; every doc emits at least one chunk). Pure map-side — a
    * sequence() of starts + slice() per row, no shuffle except the
    * presentation orderBy — so at 100 TB it runs at scan speed over any
    * partitioning. Chunk ids are derived (`start / stride`), deterministic
    * under retries.
    */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower($"text")), "\\s+"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), size($"toks") - 1, lit(ChunkS))).as("start_tok"))
      .select($"doc_id",
        ($"start_tok" / ChunkS).cast("int").as("chunk_id"),
        $"start_tok",
        least(size($"toks") - $"start_tok", lit(ChunkW)).as("n_chunk_tokens"),
        array_join(slice($"toks", $"start_tok" + 1, lit(ChunkW)), " ")
          .as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Exact-decile quality gate: drop the shortest ~10 % of documents
    * corpus-wide. The threshold is an ORDER STATISTIC computed by counting —
    * value histogram → cumulative → smallest value reaching ceil(n/10) —
    * not by float interpolation (`percentile`'s (1−f)·a+f·b arithmetic is
    * not guaranteed to match another engine bit-for-bit; an order statistic
    * is an integer-exact corpus value). The whole computation stays IN the
    * plan: the histogram is a distributed groupBy, the cumulative sum and
    * grand total are windows over the DOMAIN-sized histogram (distinct
    * n_chars — one executor task, never the driver; an unbounded domain
    * would grid-bucket first, the
    * [[graft.analytics.WindowExtras.rangeBandJoin]] device), and the
    * 1-row threshold rejoins the corpus as a broadcast — no `.collect()`
    * of a value domain anywhere, so pathological length diversity cannot
    * OOM the driver. Ties at the threshold drop with it (ledger reports
    * the realized count).
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val hist = docs.groupBy($"n_chars").agg(count(lit(1)).as("cnt"))
    val cumW = org.apache.spark.sql.expressions.Window
      .orderBy($"n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val allW = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val thr = hist
      .withColumn("cum", sum($"cnt").over(cumW))
      .withColumn("n", sum($"cnt").over(allW))
      .filter($"cum" >= expr("(n + 9) div 10"))
      .agg(min($"n_chars").cast("int").as("p10_chars"))
    docs
      .crossJoin(broadcast(thr))
      .withColumn("dropped", $"n_chars" <= $"p10_chars")
      .groupBy($"lang")
      .agg(
        max($"p10_chars").as("p10_chars"),
        count(lit(1)).as("n_docs"),
        sum(when($"dropped", 1L).otherwise(0L)).as("n_dropped"),
        min(when(!$"dropped", $"n_chars")).as("min_kept_chars"))
      .orderBy($"lang")
  }

  /** Minimum cross-document repetitions for a chunk to enter the
    * [[repeatedChunks]] ledger — one value, both engines.
    */
  val RepeatedChunkMin = 2L

  /** Passage-level duplication ledger — the SUBSTRING-granularity member of
    * the dedup family: whole-document fingerprints miss a license header or
    * boilerplate paragraph pasted into thousands of otherwise-distinct
    * documents, and those repeated passages are exactly what an LLM
    * memorizes. Token-window chunks ([[chunkWindows]] geometry) are
    * fingerprinted (md5 of the chunk text) and grouped ACROSS the corpus;
    * any fingerprint appearing in ≥ [[RepeatedChunkMin]] distinct documents
    * is a shared passage, reported with its occurrence count, document
    * reach, and canonical (minimum) location. This is the tractable
    * relational form of suffix-array substring dedup: fixed-width windows
    * instead of maximal repeats, one map-side fingerprint pass + one
    * fingerprint-keyed aggregate — scan-shaped at 100 TB, where a true
    * suffix array would need a global sort of every token position.
    * Short final windows are excluded (their truncated text collides with
    * nothing meaningful and would self-pair across strides).
    */
  def repeatedChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunkWindows(spark, dir)
      .filter($"n_chunk_tokens" === ChunkW)
      .select($"doc_id", $"chunk_id", md5($"chunk_text").as("chunk_fp"))
      .groupBy($"chunk_fp")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc_id"),
        min($"chunk_id").as("min_chunk_id"))
      .filter($"n_docs" >= RepeatedChunkMin)
      .orderBy($"chunk_fp")
  }

  /** Top bigrams per language: corpus-level n-gram reporting (the
    * repetition/boilerplate dashboard every corpus build keeps). Count per
    * (lang, bigram) with map-side partial aggregation, then top-10 per
    * language via a LANG-partitioned window over the already-aggregated
    * counts — the window input is vocabulary-sized, not corpus-sized, and
    * never global.
    */
  /** Bigrams reported per language — shared by the Spark filter and the
    * oracle (one definition, no one-sided edits). */
  val TopNgrams = 10

  def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy($"n".desc, $"bigram")
    Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower($"text")), "\\s+"))
      .filter(size($"toks") >= 2)
      .select($"lang", explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))""".stripMargin))
        .as("bigram"))
      .groupBy($"lang", $"bigram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopNgrams)
      .orderBy($"lang", $"rk")
  }

  /** Keyword-search query terms and result size — ONE definition
    * interpolated into both the Spark pipeline and the DuckDB oracle.
    */
  val SearchTerms = Seq("join", "vector", "scan")
  val SearchTopK = 10

  /** Keyword search: tf–idf top-k over the corpus — the retrieval shape an
    * inverted index serves. Per document, the term frequency of each (plan-
    * constant) query term is a map-side `filter` count over the token
    * array; document frequencies and corpus size are ONE single-row global
    * aggregate (integer sums — partial-aggregated, order-independent)
    * broadcast back to every row; the score is the FIXED expression
    * `tf0·idf0 + tf1·idf1 + …` (never a float shuffle agg, the
    * `sim_pq_codes` parity rule), idf the exact IEEE quotient N/df.
    * Top-k plans as TakeOrderedAndProject (per-partition heads, tiny driver
    * merge — no global sort).
    *
    * Scale: tf extraction is embarrassingly map-side; the stats row is
    * O(|terms|) bytes; at 100 TB the same query runs against a prebuilt
    * inverted index (term → postings) instead of re-tokenizing, but the
    * scoring and ranking algebra — and this oracle — are unchanged.
    */
  def keywordSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("toks"))
    val tf = toks.select(Seq($"doc_id") ++ SearchTerms.indices.map(i =>
      expr(s"size(filter(toks, x -> x = '${SearchTerms(i)}'))")
        .cast("long").as(s"tf$i")): _*)
    val aggs = Seq(count(lit(1)).as("n")) ++ SearchTerms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(aggs.head, aggs.tail: _*)
    tf.crossJoin(broadcast(stats))
      .withColumn("score", SearchTerms.indices.map(i =>
        col(s"tf$i").cast("double")
          * (col("n").cast("double") / col(s"df$i").cast("double")))
        .reduce(_ + _))
      .filter($"score" > 0)
      .orderBy($"score".desc, $"doc_id")
      .limit(SearchTopK)
      .select(Seq($"doc_id") ++ SearchTerms.indices.map(i => col(s"tf$i"))
        :+ $"score": _*)
  }

  /** Vocabulary cap — ONE definition for both engines. */
  val VocabSize = 1000

  /** Vocabulary build — the tokenizer-prep step of a training pipeline:
    * the [[VocabSize]] most frequent corpus tokens, each with its corpus
    * count and document frequency, ids assigned in rank order
    * (count desc, token — total order, so ids are stable across runs and
    * engines).
    *
    * Shape at scale: token counting is one map-side-combined shuffle on
    * the token (vocabulary-sized, not corpus-sized, after the combine);
    * the top-K cut plans as TakeOrderedAndProject; only the id-assignment
    * window runs unpartitioned, over ≤[[VocabSize]] rows — bounded by a
    * plan constant, never by the data.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(split(trim(lower($"text")), "\\s+")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"))
      .orderBy($"n_occurrences".desc, $"token")
      .limit(VocabSize)
    top.withColumn("token_id", row_number().over(
        Window.orderBy($"n_occurrences".desc, $"token")).cast("bigint"))
      .select($"token_id", $"token", $"n_occurrences", $"n_docs")
      .orderBy($"token_id")
  }

  /** Vocabulary coverage curve: cumulative share of corpus token
    * occurrences captured by the top-k vocab ranks — the tokenizer-sizing
    * question ("how big must the vocab be to cover 95% of tokens?") asked
    * directly of the [[vocab]] table. Integer occurrence counts running-sum
    * over the rank order, divided ONCE by the total (long/1.0 division —
    * bit-exact cross-engine). The running-sum window orders ≤[[VocabSize]]
    * rows (a plan constant, same bound as vocab's id window); the total is
    * a broadcast scalar.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("token"))
    val totalDf = toks.agg(count(lit(1)).as("t"))
    vocab(spark, dir).crossJoin(broadcast(totalDf))
      .withColumn("cum", sum($"n_occurrences").over(Window.orderBy($"token_id")))
      .select($"token_id", $"token", $"n_occurrences",
        ($"n_occurrences" * lit(1.0) / $"t").as("share"),
        ($"cum" * lit(1.0) / $"t").as("cum_share"))
      .orderBy($"token_id")
  }

  /** Tokens encoded per document — ONE definition for both engines. */
  val EncodeLen = 8

  /** Token-id encoding: each document's first [[EncodeLen]] tokens mapped
    * through the [[vocab]] table to ids (OOV and padding → 0) — the final
    * tokenizer step that turns text into the fixed-width integer form a
    * training pipeline feeds downstream. The checked output is the
    * scalar-column form t00..t07 (the driver comparator cannot hash
    * arrays); internal consumers would keep the array.
    *
    * Shape at scale: the vocab is vocabulary-sized and broadcasts; the
    * position explode is bounded by the [[EncodeLen]] constant; encoding is
    * map-side except the per-doc re-assembly groupBy.
    */
  def encodeIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = vocab(spark, dir).select($"token", $"token_id")
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(
        slice(split(trim(lower($"text")), "\\s+"), 1, EncodeLen))
        .as(Seq("pos", "token")))
    val ids = toks.join(broadcast(v), Seq("token"), "left")
      .select($"doc_id", $"pos", coalesce($"token_id", lit(0L)).as("id"))
    val cols = (0 until EncodeLen).map(i =>
      coalesce(max(when($"pos" === i, $"id")), lit(0L)).as(f"t$i%02d"))
    ids.groupBy($"doc_id")
      .agg(cols.head, cols.tail: _*)
      .orderBy($"doc_id")
  }

  /** Per-language lexical (Zipf) profile: token/type volume, hapax share,
    * type-token ratio, and the head token's mass — the distribution-shape
    * dashboard that flags degenerate corpora (boilerplate floods collapse
    * the type-token ratio; template spam inflates the head share; OCR noise
    * inflates hapax share). All counts are exact integers off ONE
    * (lang, token) frequency table; the shares are single divisions.
    *
    * Scale shape: the frequency aggregate shuffles once on (lang, token)
    * with map-side partials; everything downstream (per-language rollup,
    * head-token window) runs over the TYPE table, which is vocabulary-
    * not corpus-sized.
    */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.GraftFunctions.round2
    val freq = Tables.documents(spark, dir)
      .select($"lang",
        explode(split(trim(lower($"text")), "\\s+")).as("token"))
      .groupBy($"lang", $"token")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n".desc, $"token")
    val head = freq
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"lang", $"token".as("top_token"), $"n".as("top_n"))
    freq.groupBy($"lang")
      .agg(
        sum($"n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when($"n" === 1, 1)).as("hapax_count"))
      .join(broadcast(head), "lang")
      .select($"lang", $"n_tokens", $"n_types", $"hapax_count",
        round2($"n_types" * lit(100.0) / $"n_tokens").as("ttr_pct"),
        round2($"hapax_count" * lit(100.0) / $"n_types").as("hapax_pct"),
        $"top_token",
        round2($"top_n" * lit(100.0) / $"n_tokens").as("top1_pct"))
      .orderBy($"lang")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf_profile" -> (zipfProfile _),
    "text_vocab" -> (vocab _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "text_encode_ids" -> (encodeIds _),
    "text_keyword_search" -> (keywordSearch _),
    "text_top_bigrams" -> (topBigrams _),
    "text_quality_gate" -> (qualityGate _),
    "text_chunk_windows" -> (chunkWindows _),
    "text_repeated_chunks" -> (repeatedChunks _),
    "text_token_freq_score" -> (tokenFreqScore _),
    "text_token_stats" -> (tokenStats _),
    "text_quality" -> (qualityScore _),
    "text_lang_id" -> (langId _),
    "text_lang_confusion" -> (langConfusion _),
    "text_fingerprint" -> (fingerprint _),
    "text_winnow_fingerprints" -> (winnowFingerprints _),
    "text_repetition" -> (repetition _),
    "text_pii_scrub" -> (piiScrub _))

  private val stopArr = Stopwords.map(s => s"'$s'").mkString("(", ",", ")")

  private[graft] val keywordSearchOracle: String = {
    val tfCols = SearchTerms.indices.map(i =>
      s"         length(list_filter(toks, x -> x = '${SearchTerms(i)}'))::BIGINT AS tf$i")
      .mkString(",\n")
    val dfCols = SearchTerms.indices.map(i =>
      s"         sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i")
      .mkString(",\n")
    val scoreExpr = SearchTerms.indices.map(i =>
      s"CAST(tf$i AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(df$i AS DOUBLE))")
      .mkString("\n         + ")
    s"""WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents),
tf AS (
  SELECT doc_id,
$tfCols
  FROM t),
s AS (
  SELECT count(*)::BIGINT AS n,
$dfCols
  FROM tf),
sc AS (
  SELECT doc_id, ${SearchTerms.indices.map(i => s"tf$i").mkString(", ")},
         $scoreExpr AS score
  FROM tf, s)
SELECT * FROM sc
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT $SearchTopK"""
  }

  private val vocabOracle: String = s"""WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
v AS (
  SELECT token, count(*)::BIGINT AS n_occurrences,
         count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM toks GROUP BY token),
top AS (
  SELECT * FROM v ORDER BY n_occurrences DESC, token LIMIT $VocabSize)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id,
       token, n_occurrences, n_docs
FROM top
ORDER BY token_id"""

  private val encodeIdsOracle: String = {
    val tCols = (0 until EncodeLen).map(i =>
      s"       coalesce(max(CASE WHEN pos = $i THEN id END), 0)::BIGINT AS t${"%02d".format(i)}")
      .mkString(",\n")
    s"""WITH vocab AS (
$vocabOracle
),
toks0 AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
pos_toks AS (
  SELECT doc_id, p::INT AS pos, t[p + 1] AS token
  FROM toks0, LATERAL (SELECT unnest(range(0, least(len(t), $EncodeLen))) AS p)),
j AS (
  SELECT doc_id, pos, COALESCE(v.token_id, 0)::BIGINT AS id
  FROM pos_toks LEFT JOIN vocab v USING (token))
SELECT doc_id,
$tCols
FROM j GROUP BY doc_id
ORDER BY doc_id"""
  }

  /** Shared body of the lang-id oracle (no ORDER BY) — the per-doc scorer
    * the confusion rollup wraps as a CTE, so both stay one definition.
    */
  private val langIdOracleBody: String = {
    def s(lang: String) = {
      val arr = LangMarkers(lang).map(x => s"'$x'").mkString("(", ",", ")")
      s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN $arr))::INT"
    }
    s"""SELECT doc_id, lang AS declared_lang,
       ${s("en")} AS score_en, ${s("de")} AS score_de, ${s("fr")} AS score_fr,
       ${s("es")} AS score_es, ${s("zh")} AS score_zh,
       CASE WHEN ${s("en")} >= greatest(${s("de")}, ${s("fr")}, ${s("es")}, ${s("zh")}) THEN 'en'
            WHEN ${s("de")} >= greatest(${s("fr")}, ${s("es")}, ${s("zh")}) THEN 'de'
            WHEN ${s("fr")} >= greatest(${s("es")}, ${s("zh")}) THEN 'fr'
            WHEN ${s("es")} >= ${s("zh")} THEN 'es'
            ELSE 'zh' END AS predicted_lang
FROM documents"""
  }

  val oracle: Map[String, String] = Map(
    "text_zipf_profile" -> """WITH freq AS (
  SELECT lang,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
f AS (
  SELECT lang, token, count(*)::BIGINT AS n FROM freq GROUP BY lang, token),
head AS (
  SELECT lang, token AS top_token, n AS top_n
  FROM (SELECT *, row_number() OVER
          (PARTITION BY lang ORDER BY n DESC, token) AS rn FROM f)
  WHERE rn = 1),
prof AS (
  SELECT lang, sum(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         count(CASE WHEN n = 1 THEN 1 END)::BIGINT AS hapax_count
  FROM f GROUP BY lang)
SELECT p.lang, n_tokens, n_types, hapax_count,
       floor((n_types * 100.0 / n_tokens) * 100 + 0.5) / 100.0 AS ttr_pct,
       floor((hapax_count * 100.0 / n_types) * 100 + 0.5) / 100.0
         AS hapax_pct,
       top_token,
       floor((top_n * 100.0 / n_tokens) * 100 + 0.5) / 100.0 AS top1_pct
FROM prof p JOIN head h ON p.lang = h.lang
ORDER BY p.lang""",

    "text_vocab" -> vocabOracle,
    "text_vocab_coverage" -> s"""WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
total AS (SELECT count(*)::BIGINT AS t FROM toks),
v AS (
  SELECT token, count(*)::BIGINT AS n_occurrences,
         count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM toks GROUP BY token),
top AS (
  SELECT * FROM v ORDER BY n_occurrences DESC, token LIMIT $VocabSize),
ranked AS (
  SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id,
         token, n_occurrences
  FROM top)
SELECT token_id, token, n_occurrences,
       n_occurrences * 1.0 / t AS share,
       (sum(n_occurrences) OVER (ORDER BY token_id)) * 1.0 / t AS cum_share
FROM ranked, total
ORDER BY token_id""",
    "text_encode_ids" -> encodeIdsOracle,

    "text_keyword_search" -> keywordSearchOracle,
    "text_top_bigrams" -> s"""WITH toks AS (
  SELECT lang, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
bg AS (
  SELECT lang, array_to_string(t[i:i+1], ' ') AS bigram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2),
cnt AS (SELECT lang, bigram, count(*)::BIGINT AS n FROM bg GROUP BY 1, 2),
ranked AS (
  SELECT lang, bigram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram)::INT
           AS rk
  FROM cnt)
SELECT lang, bigram, n, rk FROM ranked WHERE rk <= $TopNgrams
ORDER BY lang, rk""",

    "text_quality_gate" -> """WITH nn AS (SELECT count(*) AS n FROM documents),
hist AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS cum FROM hist),
thr AS (
  SELECT min(n_chars) AS t FROM cum
  WHERE cum >= ((SELECT n FROM nn) + 9) // 10)
SELECT lang,
       (SELECT t FROM thr)::INT AS p10_chars,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN n_chars <= (SELECT t FROM thr) THEN 1 ELSE 0 END)::BIGINT
         AS n_dropped,
       min(CASE WHEN n_chars > (SELECT t FROM thr) THEN n_chars END)::INT
         AS min_kept_chars
FROM documents
GROUP BY lang
ORDER BY lang""",

    "text_chunk_windows" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents)
SELECT doc_id,
       (start_tok // $ChunkS)::INT AS chunk_id,
       start_tok::INT AS start_tok,
       least(len(t) - start_tok, $ChunkW)::INT AS n_chunk_tokens,
       array_to_string(t[start_tok + 1 : start_tok + $ChunkW], ' ') AS chunk_text
FROM toks, LATERAL (SELECT unnest(range(0, len(t), $ChunkS)) AS start_tok)
ORDER BY doc_id, chunk_id""",

    "text_repeated_chunks" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
chunks AS (
  SELECT doc_id,
         (start_tok // $ChunkS)::INT AS chunk_id,
         least(len(t) - start_tok, $ChunkW)::INT AS n_chunk_tokens,
         array_to_string(t[start_tok + 1 : start_tok + $ChunkW], ' ')
           AS chunk_text
  FROM toks, LATERAL (SELECT unnest(range(0, len(t), $ChunkS)) AS start_tok)),
fp AS (
  SELECT doc_id, chunk_id, md5(chunk_text) AS chunk_fp
  FROM chunks WHERE n_chunk_tokens = $ChunkW)
SELECT chunk_fp,
       count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       min(doc_id) AS first_doc_id,
       min(chunk_id)::INT AS min_chunk_id
FROM fp
GROUP BY chunk_fp
HAVING count(DISTINCT doc_id) >= $RepeatedChunkMin
ORDER BY chunk_fp""",

    "text_token_freq_score" -> s"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
tf AS (SELECT tok, count(*)::BIGINT AS tf FROM toks GROUP BY tok),
total AS (SELECT sum(tf)::BIGINT AS total FROM tf),
j AS (SELECT t.doc_id, f.tf FROM toks t JOIN tf f ON t.tok = f.tok)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       min(tf)::BIGINT AS min_tf,
       CAST(sum(tf)::BIGINT AS DOUBLE) / count(*)
         / (SELECT CAST(total AS DOUBLE) FROM total) AS mean_token_p,
       sum(CASE WHEN tf * $RareDenom < (SELECT total FROM total)
                THEN 1 ELSE 0 END)::BIGINT * 1.0 / count(*) AS rare_frac
FROM j
GROUP BY doc_id
ORDER BY doc_id""",

    "text_token_stats" -> """SELECT doc_id,
       length(text)::INT AS n_chars,
       length(string_split_regex(trim(text), '\s+'))::INT AS n_tokens,
       length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::INT AS n_subtokens,
       length(regexp_replace(trim(text), '\s+', '', 'g')) * 1.0
         / length(string_split_regex(trim(text), '\s+')) AS avg_token_len
FROM documents ORDER BY doc_id""",

    "text_quality" -> s"""SELECT doc_id, lang,
       length(text)::INT AS n_chars,
       (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))
         * 1.0 / length(text) AS punct_ratio,
       len(list_filter(string_split_regex(trim(text), '\\s+'),
           t -> lower(t) IN $stopArr)) * 1.0
         / length(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
       (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
         * 1.0 / length(text) AS upper_ratio
FROM documents ORDER BY doc_id""",

    "text_lang_id" -> s"""$langIdOracleBody
ORDER BY doc_id""",

    "text_lang_confusion" -> s"""WITH ids AS ($langIdOracleBody),
cells AS (
  SELECT declared_lang, predicted_lang, count(*)::BIGINT AS n_docs
  FROM ids GROUP BY 1, 2),
tot AS (
  SELECT declared_lang, sum(n_docs)::BIGINT AS t FROM cells GROUP BY 1)
SELECT c.declared_lang, c.predicted_lang, c.n_docs,
       c.n_docs * 1.0 / t AS share_of_declared
FROM cells c JOIN tot USING (declared_lang)
ORDER BY declared_lang, predicted_lang""",

    "text_fingerprint" -> """SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       (floor(n_chars / 100) * 100)::BIGINT AS length_bucket
FROM documents ORDER BY doc_id""",

    "text_pii_scrub" -> s"""WITH feed AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or call 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '$EmailRx'))::INT AS n_emails,
       len(regexp_extract_all(text, '$PhoneRx'))::INT AS n_phones,
       regexp_replace(regexp_replace(text, '$EmailRx', '<EMAIL>', 'g'),
                      '$PhoneRx', '<PHONE>', 'g') AS scrubbed
FROM feed ORDER BY doc_id""",

    "text_repetition" -> """WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents),
tok_stats AS (
  SELECT doc_id, len(t)::INT AS n_tokens,
         len(list_distinct(t))::INT AS n_distinct_tokens
  FROM toks),
bg AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2),
cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (
  SELECT doc_id, max(c)::BIGINT AS top_c, sum(c)::BIGINT AS n_bigrams
  FROM cnt GROUP BY doc_id)
SELECT ts.doc_id, ts.n_tokens,
       1.0 - ts.n_distinct_tokens * 1.0 / ts.n_tokens AS dup_token_ratio,
       coalesce(t.top_c * 1.0 / t.n_bigrams, 0.0) AS top_bigram_ratio
FROM tok_stats ts LEFT JOIN top t ON ts.doc_id = t.doc_id
ORDER BY ts.doc_id""",

    // outer lambda var is g, NOT i — the hex-parse fragment binds i inside
    "text_winnow_fingerprints" -> s"""WITH norm AS (
  SELECT doc_id, lower(trim(text)) AS t
  FROM documents
  WHERE length(lower(trim(text))) >= ${WinnowK + WinnowW - 1}),
grams AS (
  SELECT doc_id,
         list_transform(range(1, length(t) - ${WinnowK - 1} + 1),
           g -> ${graft.functions.Md5Hash.hexParseSql(s"md5(substr(t, g::INT, $WinnowK))")}) AS hs
  FROM norm),
win AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hs) - ${WinnowW - 1} + 1),
           j -> list_min(hs[j::INT:j::INT + ${WinnowW - 1}]))) AS fps
  FROM grams)
SELECT doc_id, unnest(fps) AS fp
FROM win
ORDER BY doc_id, fp""")
}

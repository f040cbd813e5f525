package graft.similarity

import graft.Tables
import graft.functions.CosineSimilarity
import graft.functions.GraftFunctions.round2
// renamed: `TopK` in this object is the neighbour count
import graft.functions.{TopK => TopKernel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`), the
  * Spark-native realization of the reference's declared-but-unimplemented
  * `VECTOR(768)` embedding column (`/root/reference/sql/01_schema.sql:95`).
  *
  * Two paths:
  *  - brute-force: probe×corpus pair scan with the codegen'd
  *    [[graft.functions.CosineSimilarity]] kernel — the exact baseline.
  *  - LSH-bucketed ([[RandomHyperplaneLsh]]): sign-random-projection
  *    signatures; candidates only within matching buckets — the scale path
  *    (corpus sharded by signature, probes touch one bucket each).
  *
  * Scale notes (100 TB): the brute-force scan broadcasts the (small) probe
  * set against the corpus — one pass, no shuffle of the corpus itself; at a
  * billion vectors the LSH/IVF variant bounds each probe's candidate set by
  * its bucket population.
  *
  * Determinism for the oracle: cosine is accumulated in double left-to-right
  * (identical order in the DuckDB SQL), thresholds compare that exact
  * double, and displayed values go through the shared closed-form round.
  */
object Similarity {

  /** All embedding pairs with cosine ≥ threshold — the embedding-space
    * near-duplicate detector (dedup family member; τ=0.4 sits above this
    * corpus's random-pair ceiling ≈0.51 tail, so only genuinely close pairs
    * emit).
    *
    * SCALE CEILING: this is the exact O(n²) labeled baseline, registered for
    * oracle verification at test scale (n ≤ ~10⁴, i.e. sf ≤ 0.1). At corpus
    * scale the same τ-filter runs over [[RandomHyperplaneLsh]] /
    * [[IvfIndex]] candidate pairs instead of the full product — identical
    * verify expression, bounded candidate set.
    */
  /** Lexical↔semantic agreement bands — the calibration table that decides
    * whether an embedding-cosine cutoff can STAND IN for n-gram Jaccard
    * dedup (SemDeDup-style) on this corpus: every verified near-dup pair
    * from the shared [[graft.dedup.Dedup.pairsForDir]] table, joined to
    * both endpoints' embeddings, banded by cosine decile. Per band: pair
    * volume and the Jaccard envelope (MIN/MAX — order-independent, unlike
    * a float mean). A heavy low-cosine band = lexical dups the encoder
    * misses; pairs only in high bands = safe to push dedup into the ANN
    * index. Pair table is memoized; the embedding joins are id-equi-joins.
    */
  def jaccardCosineBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    graft.dedup.Dedup.pairsForDir(spark, dir)
      .join(e.select($"vec_id".as("doc_a"), $"embedding".as("emb_a")), "doc_a")
      .join(e.select($"vec_id".as("doc_b"), $"embedding".as("emb_b")), "doc_b")
      .withColumn("cos", expr("graft_cosine(emb_a, emb_b)"))
      .groupBy(floor($"cos" * 10).cast("int").as("cos_band"))
      .agg(count(lit(1)).as("n_pairs"),
        min($"jaccard").as("min_jaccard"),
        max($"jaccard").as("max_jaccard"))
      .orderBy($"cos_band")
  }

  /** Hub neighbors counted per vector in [[hubness]]. */
  val HubK = 5

  /** Ceiling on the corpus size the exact O(n²) diagnostics
    * ([[hubness]], [[cosinePairs]]) will scan — the documented envelope
    * made LOUD: at 10⁵ vectors the pair scan is 10¹⁰ kernel evaluations
    * (hours); beyond it the caller wanted [[HubnessAnn]] /
    * [[RandomHyperplaneLsh.embeddingNearDups]] and should be told so
    * rather than watch a job burn. sf0.1's corpus is ~10⁴, so the bench
    * envelope clears the cap with two orders of margin.
    */
  val MaxExactScanVectors = 100000L

  /** Fail-loud gate for the exact baselines (VerifySchemaSpec-style guard;
    * parquet row counts come from footer metadata, so the check is ~free).
    */
  private[graft] def requireExactEnvelope(n: Long, op: String,
      alternative: String): Unit =
    require(n <= MaxExactScanVectors,
      s"$op is the exact O(n^2) baseline, capped at $MaxExactScanVectors " +
        s"vectors; this corpus has $n — run the bucketed variant " +
        s"($alternative) at this scale")

  /** Spread the STREAMED side of a kernel-dense nested-loop scan across
    * the cluster. The exact baselines read the corpus from a handful of
    * parquet files — often ONE row group, which is unsplittable — so the
    * BroadcastNestedLoopJoin that evaluates the cosine/dot kernel over
    * every pair inherits a single input partition and runs the whole
    * O(probes·n) / O(n²) loop in ONE task (measured: sim_hubness spent
    * ~2 s in a single task evaluating 4M kernel calls while 31 cores sat
    * idle). An explicit round-robin exchange of the bounded corpus (≤
    * [[MaxExactScanVectors]] rows by the envelope guard — a few MB) costs
    * microseconds and lets every core score its slice; the explicit
    * partition count keeps AQE from coalescing the tiny exchange back to
    * one partition. Derived from the cluster (`defaultParallelism`), not a
    * local constant. Result-invariant: every consumer aggregates
    * (merge-order-invariant top-k buffers) or totally orders its output.
    */
  private[graft] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Hubness diagnostic (Radovanović et al., public literature) — the
    * high-dimensional pathology screen an embedding corpus gets before an
    * ANN index is trusted: count how often each vector appears in OTHER
    * vectors' exact top-[[HubK]] lists (its k-occurrence), then roll the
    * distribution up into a histogram. A healthy corpus concentrates near
    * k-occurrence ≈ k; a hubby one grows a long tail of vectors that are
    * "everyone's neighbor" — those dominate ANN candidate lists and poison
    * kNN labels. All-pairs scoring is the same labeled O(n²) baseline
    * shape as [[cosinePairs]] (at corpus scale the k-occurrence counts
    * come from the ANN index's own result stream instead); ranks come from
    * the top-k kernel ([[graft.functions.TopK.rank]]), and the histogram
    * is integer-exact.
    */
  def hubness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    requireExactEnvelope(e.count(), "sim_hubness", "sim_hubness_ann")
    // spread the streamed side: one row-group in, one task out otherwise
    val q = spread(e.select($"vec_id".as("qid"), $"embedding".as("qe")))
    val n = e.select($"vec_id".as("nid"), $"embedding".as("ne"))
    // top-k per query via the native bounded-buffer aggregate, not a
    // ranked window: the window form sorted all n² scored pairs before
    // trimming (a 4M-row map-side sort at sf0.1); the aggregate is one
    // O(k) compare-insert per pair and shuffles ≤ k ids per (query,
    // mapper). Selection is the identical (cos desc, nid) total order —
    // the unchanged ranked-subquery oracle is the equivalence proof.
    val scored = q.crossJoin(n)
      .filter($"qid" =!= $"nid")
      .select($"qid", expr("graft_cosine(qe, ne)").as("cos"), $"nid")
    val kOcc = TopKernel.rank(scored, Seq("qid"), "cos", "nid", HubK)
      .groupBy($"nid").agg(count(lit(1)).as("k_occurrence"))
    // vectors never chosen have k-occurrence 0 — keep them in the histogram
    val withZeros = e.select($"vec_id".as("nid"))
      .join(kOcc, Seq("nid"), "left")
      .select(coalesce($"k_occurrence", lit(0L)).as("k_occurrence"))
    withZeros.groupBy($"k_occurrence")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy($"k_occurrence")
  }

  def cosinePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    requireExactEnvelope(e.count(), "sim_cosine_pairs", "dedup_embedding_ann")
    // spread the streamed side: one row-group in, one task out otherwise
    val a = spread(e.select($"vec_id".as("vec_a"), $"embedding".as("emb_a")))
    val b = e.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    a.crossJoin(b)
      .filter($"vec_a" < $"vec_b")
      .withColumn("cos", expr("graft_cosine(emb_a, emb_b)"))
      .filter($"cos" >= threshold)
      .select($"vec_a", $"vec_b", round2($"cos").as("cosine_r2"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Brute-force top-k nearest neighbors for a deterministic FIXED-COUNT
    * probe set (the [[NumProbes]] lowest vec_ids): the exact ANN baseline.
    * Fixed probes keep the scan O(probes × n) — linear in the corpus — where
    * round 1's every-50th sampling grew the probe set with n and made the
    * baseline quadratic-ish. Rank by cosine desc with vec_id tiebreak.
    */
  val NumProbes = 40

  /** Neighbors returned per probe — ONE definition interpolated into every
    * Spark default and oracle (a top-k literal edited on one side only would
    * silently desynchronize the twins).
    */
  val TopK = 10

  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter($"vec_id" < NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    // measured NOT to spread (r14): the probe-bounded kernel is only
    // O(probes·n) ≈ 0.27M evaluations at sf0.1 — two orders below the
    // O(n²) diagnostics where spread pays — and the r13 driver's cold
    // runs read the spread form SLOWER (0.49 → 0.80 s; the exchange +
    // extra stage cost more than the parallelized kernel saved). At real
    // scale the corpus spans many row groups and the scan parallelizes by
    // itself.
    val scored = broadcast(probes).crossJoin(
        e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb")))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos", expr("graft_cosine(q_emb, n_emb)"))
    TopKernel.rank(scored, Seq("query_id"), "cos", "neighbor_id", k)
      .select($"query_id", $"neighbor_id", $"rank", round2($"cos").as("cosine_r2"))
      .orderBy($"query_id", $"rank")
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval semantics
    * recommendation and two-tower models rank by: the raw `⟨q, x⟩` score,
    * where vector magnitude is signal (a popular item's longer vector SHOULD
    * win), unlike cosine's angle-only ranking. Exact probe-broadcast scan
    * over the corpus with the codegen'd [[graft.functions.DotProduct]]
    * kernel.
    *
    * Scale path: MIPS is not directly LSH-able (inner product violates the
    * triangle inequality), but the standard norm-augmentation reduction
    * (Bachrach et al. 2014) — append `sqrt(M² − ‖x‖²)` to each corpus
    * vector and `0` to the query, with `M = max ‖x‖` (available from the
    * `sim_dim_stats` pass) — turns argmax-dot into argmax-cosine, after
    * which the [[RandomHyperplaneLsh]] / [[IvfIndex]] machinery applies
    * unchanged. The exact scan here is the oracle baseline that reduction
    * would be verified against, exactly like `sim_cosine_pairs` anchors the
    * LSH dedup family.
    */
  def mipsTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter($"vec_id" < NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    // not spread, same finding as [[bruteForceTopK]]: O(probes·n) kernel,
    // cold runs read the exchange as a net loss
    val scored = broadcast(probes).crossJoin(
        e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb")))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("dot", expr("graft_dot(q_emb, n_emb)"))
    TopKernel.rank(scored, Seq("query_id"), "dot", "neighbor_id", k)
      .select($"query_id", $"neighbor_id", $"rank", round2($"dot").as("dot_r2"))
      .orderBy($"query_id", $"rank")
  }

  /** k-NN classification over the labeled embeddings: each probe's label
    * predicted by majority vote of its [[TopK]] exact nearest neighbors
    * (ties → smaller label id), reported beside the true label — the
    * labeled-corpus quality check run before trusting an index for
    * retrieval-augmented labeling.
    *
    * Scale shape: reuses [[bruteForceTopK]]'s probe-broadcast scan; the
    * label join keys on `neighbor_id` (corpus-partition-friendly), votes
    * and the argmax both shuffle on `query_id` — probe-set-sized.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val labels = e.select($"vec_id", $"label")
    val votes = bruteForceTopK(spark, dir)
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy($"query_id", $"label")
      .agg(count(lit(1)).as("votes"))
    // the vote counts rank as doubles: exact below 2^53
    TopKernel.rank(votes, Seq("query_id"), "votes", "label", 1)
      .withColumnRenamed("label", "predicted_label")
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "true_label"), "query_id")
      .select($"query_id", $"true_label", $"predicted_label", $"votes",
        ($"true_label" === $"predicted_label").as("correct"))
      .orderBy($"query_id")
  }

  /** Negatives sampled per anchor in [[contrastivePairs]]. */
  val NumNeg = 4

  /** Contrastive training-pair generation: for each probe anchor, the
    * hardest positive (nearest neighbor by cosine) plus [[NumNeg]]
    * hash-sampled random negatives — the (anchor, positive, negatives)
    * tuples an embedding fine-tune consumes. Negative selection ranks
    * candidates by the seeded md5 h32 of the (anchor, candidate) pair, so
    * the sample is uniform, collision-free per anchor, and bit-identical
    * across engines and runs (a `rand()` sample would be neither).
    *
    * Scale shape: same probe-broadcast × corpus single pass as
    * [[bruteForceTopK]] — both rankings read the one scored frame, and
    * both shuffle on `query_id`.
    */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter($"vec_id" < NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val scored = broadcast(probes).crossJoin(
        e.select($"vec_id".as("cand_id"), $"embedding".as("c_emb")))
      .filter($"query_id" =!= $"cand_id")
      .withColumn("cos", expr("graft_cosine(q_emb, c_emb)"))
      .withColumn("h", graft.functions.Md5Hash.h32(concat(
        lit("neg:"), $"query_id".cast("string"),
        lit(":"), $"cand_id".cast("string"))))
    val pos = TopKernel.rank(scored, Seq("query_id"), "cos", "cand_id", 1)
      .select($"query_id", $"cand_id", lit("pos").as("kind"), $"rank".as("rk"),
        round2($"cos").as("cosine_r2"))
    val neg = scored
      // window: ascending hash order, not the kernel's (score desc, id asc)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"h", $"cand_id")))
      .filter($"rk" <= NumNeg)
      .select($"query_id", $"cand_id", lit("neg").as("kind"), $"rk",
        round2($"cos").as("cosine_r2"))
    pos.unionByName(neg).orderBy($"query_id", $"kind", $"rk")
  }

  /** Symmetric per-vector int8 quantization ledger — the storage format a
    * 100 TB embedding store actually keeps (4× smaller than float32, and the
    * candidate scans of the ANN paths read int8 just as happily). Per vector:
    * scale = 127/max|v|, q_i = ⌊v_i·scale + ½⌋ ∈ [−127, 127]; the output is
    * the audit row per vector — scale, quant range, and the max absolute
    * dequantization error (≤ ½/scale by construction, which the spec pins).
    * One posexplode + per-vector window max + one rollup; every arithmetic
    * step is an identical IEEE op in the DuckDB twin (max is order-
    * independent, so no float-accumulation hazard anywhere).
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
      .withColumn("v", $"v".cast("double"))
    val w = Window.partitionBy($"vec_id")
    e.withColumn("max_abs", max(abs($"v")).over(w))
      .filter($"max_abs" > 0) // zero vectors are unquantizable (none here)
      .withColumn("scale", lit(127.0) / $"max_abs")
      .withColumn("q", floor($"v" * $"scale" + 0.5).cast("int"))
      .withColumn("err", abs($"q" / $"scale" - $"v"))
      .groupBy($"vec_id")
      .agg(
        max($"scale").as("scale"),
        min($"q").as("min_q"),
        max($"q").as("max_q"),
        max($"err").as("max_abs_err"))
      .orderBy($"vec_id")
  }

  /** L2-normalization ledger — the normalize-at-ingest step a vector store
    * runs once so every later cosine collapses to a plain dot product (one
    * fused multiply-add loop per pair instead of three accumulators).
    * Emits per vector the norm and the first 8 normalized components as
    * scalar doubles (the driver comparator cannot hash array columns; the
    * array form is a trivial `transform` away for internal consumers).
    * Float parity: the squared-norm accumulates left-to-right over the
    * array on both engines (the same in-order contract every cosine oracle
    * here already proves), and sqrt/divide are correctly-rounded IEEE ops.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sq = expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
      (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""")
    val comps = (0 until 8).map(i =>
      (element_at($"embedding", i + 1).cast("double") / $"norm").as(f"n$i%02d"))
    Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(sq))
      .filter($"norm" > 0) // zero vectors are unnormalizable (none here)
      .select(Seq($"vec_id", $"norm") ++ comps: _*)
      .orderBy($"vec_id")
  }

  /** ANN accuracy dashboard: recall@k of each approximate index (LSH,
    * IVF) against the exact brute-force top-k, per probe — the number an
    * ANN deployment watches when tuning bands/probes ("measure, don't
    * guess" applied to index QUALITY, not just speed). Semi-join of the
    * exact neighbor set against each index's answer set on (query,
    * neighbor), integer hit counts, one division by the shared [[TopK]].
    * Probes with zero hits are restored via a left join so a broken index
    * reads 0.0, not absent. At scale every input here is a top-k result
    * (probes × k rows) — dashboard-sized, whatever the corpus.
    */
  def recallReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brute = bruteForceTopK(spark, dir)
      .select($"query_id", $"neighbor_id")
    val probeIds = brute.select($"query_id").distinct()
    def recallOf(ann: DataFrame, family: String): DataFrame = {
      val hits = brute
        .join(ann.select($"query_id", $"neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
      probeIds.join(hits, Seq("query_id"), "left")
        .select(lit(family).as("family"), $"query_id",
          coalesce($"n_hits", lit(0L)).as("n_hits"))
    }
    recallOf(RandomHyperplaneLsh.topK(spark, dir), "lsh")
      .unionByName(recallOf(IvfIndex.topK(spark, dir), "ivf"))
      .withColumn("recall_at_k", $"n_hits" * lit(1.0) / lit(TopK))
      .orderBy($"family", $"query_id")
  }

  /** Coarse-pass dimensionality and shortlist width for [[twoStageTopK]]. */
  val CoarseDims = 4
  val Shortlist = 50

  /** Two-stage (coarse-to-fine) retrieval — the Matryoshka-representation
    * pattern: rank ALL candidates by cosine over only the first
    * [[CoarseDims]] dimensions (quarter the bytes through the scan), keep a
    * [[Shortlist]], then re-rank the shortlist with the full-width exact
    * kernel. Complementary to IVF/PQ: those prune WHICH vectors are
    * scored, this cheapens HOW each is scored — production ANN stacks do
    * both. The coarse pass here scans linearly (it reuses the brute-force
    * shape so the two stages are the only variable); compose with the IVF
    * cell pruning for the sublinear form. Both stages rank with the shared
    * deterministic tiebreak, and both kernels are the cross-engine-exact
    * cosine, so the full pipeline hash-checks. The coarse top-k carries
    * the probe's embedding as a group key; the shortlist (probes ×
    * [[Shortlist]] rows) fetches its neighbors' embeddings back by id.
    */
  def twoStageTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter($"vec_id" < NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val corpus = e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb"))
    val cand = broadcast(probes).crossJoin(corpus)
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("coarse", expr(
        s"graft_cosine(slice(q_emb, 1, $CoarseDims), slice(n_emb, 1, $CoarseDims))"))
    val short = TopKernel.rank(cand, Seq("query_id", "q_emb"), "coarse",
        "neighbor_id", Shortlist).select($"query_id", $"q_emb", $"neighbor_id")
    val fine = corpus.join(broadcast(short), "neighbor_id")
      .withColumn("cos", expr("graft_cosine(q_emb, n_emb)"))
    TopKernel.rank(fine, Seq("query_id"), "cos", "neighbor_id", TopK)
      .select($"query_id", $"neighbor_id", $"rank",
        round2($"cos").as("cosine_r2"))
      .orderBy($"query_id", $"rank")
  }

  /** Per-label centroids + nearest-centroid confusion matrix — the
    * embedding-space cluster-quality report (is the labeling separable?
    * which label pairs bleed into each other?) that gates using labels as
    * training strata. Centroid accumulation is the exact FIXED-POINT sum
    * [[IvfIndex]] uses for Lloyd updates (scaled longs — associative at any
    * parallelism, so the mean is bit-reproducible and DuckDB can recompute
    * it); assignment broadcasts the |labels|×dim centroid table against the
    * corpus — one linear pass, candidates never pair with each other.
    * Ranking tiebreaks on centroid label, so the argmax is total-ordered;
    * it runs on the top-k kernel, a partial/final aggregate per vector.
    *
    * Scale: the centroid aggregate map-side combines on (label, pos); the
    * confusion rollup is |labels|² rows. The one caveat is |labels|·dim
    * broadcast size — fine up to ~10⁵ centroid floats, after which
    * assignment becomes the IVF probe shape instead.
    */
  def labelCentroidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val cents = e
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(
        sum(floor($"v".cast("double") * lit(IvfIndex.FxScale) + lit(0.5))
          .cast("long")).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("m", ($"s".cast("double")
        / ($"cnt" * lit(IvfIndex.FxScale)).cast("double")).cast("float"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        x => x.getField("m")).as("centroid"))
      .select($"label".as("c_label"), $"centroid")
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("c_sim", expr("graft_cosine(embedding, centroid)"))
    TopKernel.rank(scored, Seq("vec_id", "label"), "c_sim", "c_label", 1)
      .groupBy($"label", $"c_label".as("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy($"label", $"pred_label")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_label_centroids" -> (labelCentroidConfusion _),
    "sim_two_stage_topk" -> (twoStageTopK _),
    "sim_recall_report" -> (recallReport _),
    "sim_pq_distortion" -> ((s: SparkSession, d: String) =>
      ProductQuantizer.distortion(s, d)),
    "sim_pq_codes" -> ((s: SparkSession, d: String) =>
      ProductQuantizer.codes(s, d)),
    "sim_normalize" -> ((s: SparkSession, d: String) => normalize(s, d)),
    "sim_jaccard_cosine_bands" -> (jaccardCosineBands _),
    "sim_hubness" -> (hubness _),
    "sim_cosine_pairs" -> ((s: SparkSession, d: String) => cosinePairs(s, d)),
    "sim_bruteforce_topk" -> ((s: SparkSession, d: String) => bruteForceTopK(s, d)),
    "sim_mips_topk" -> ((s: SparkSession, d: String) => mipsTopK(s, d)),
    "sim_contrastive_pairs" -> (contrastivePairs _),
    "sim_knn_classify" -> (knnClassify _),
    "sim_ann_lsh_topk" -> ((s: SparkSession, d: String) =>
      RandomHyperplaneLsh.topK(s, d)),
    "sim_ivf_topk" -> ((s: SparkSession, d: String) => IvfIndex.topK(s, d)),
    "sim_ivf_cell_stats" -> ((s: SparkSession, d: String) =>
      IvfIndex.cellStats(s, d)),
    "sim_ivf_rebalance" -> ((s: SparkSession, d: String) =>
      IvfIndex.rebalancePlan(s, d)),
    "sim_ivf_nprobe_sweep" -> ((s: SparkSession, d: String) =>
      IvfIndex.nprobeSweep(s, d)),
    "sim_ivf_pq_topk" -> ((s: SparkSession, d: String) => IvfPq.topK(s, d)),
    "sim_quantize_int8" -> ((s: SparkSession, d: String) => quantizeInt8(s, d)),
    "dedup_embedding_ann" -> ((s: SparkSession, d: String) =>
      RandomHyperplaneLsh.embeddingNearDups(s, d)))

  private val dotSql =
    """list_sum(list_transform(range(1, len(%A) + 1),
      |  i -> CAST(%A[i] AS DOUBLE) * CAST(%B[i] AS DOUBLE)))""".stripMargin
  private def dot(a: String, b: String): String =
    dotSql.replace("%A", a).replace("%B", b)
  private[similarity] def cosSql(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  private[similarity] def r2(x: String): String =
    s"FLOOR(($x) * 100 + 0.5) / 100.0"

  private val bruteForceOracleSql: String = s"""WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ${cosSql("q.embedding", "n.embedding")} AS cos
  FROM embeddings q JOIN embeddings n ON q.vec_id < $NumProbes AND q.vec_id <> n.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ${r2("cos")} AS cosine_r2
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  val oracle: Map[String, String] = Map(
    // full twin of the fixed-point centroid build + argmax assignment —
    // possible because the centroid mean is an exact scaled-long sum
    "sim_label_centroids" -> s"""WITH sums AS (
  SELECT label, pos,
         sum(CAST(floor(CAST(embedding[pos] AS DOUBLE) * ${IvfIndex.FxScale}
                        + 0.5) AS BIGINT))::BIGINT AS s,
         count(*) AS cnt
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos)
  GROUP BY label, pos),
cents AS (
  SELECT label AS c_label,
         list(CAST(CAST(s AS DOUBLE)
                   / CAST(cnt * ${IvfIndex.FxScale} AS DOUBLE) AS FLOAT)
              ORDER BY pos) AS centroid
  FROM sums GROUP BY label),
best AS (
  SELECT label, c_label FROM (
    SELECT e.label, c.c_label,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ${cosSql("e.embedding", "c.centroid")}
                                       DESC, c.c_label) AS rk
    FROM embeddings e CROSS JOIN cents c)
  WHERE rk = 1)
SELECT label, c_label AS pred_label, count(*)::BIGINT AS n_vecs
FROM best GROUP BY 1, 2 ORDER BY 1, 2""",

    "sim_two_stage_topk" -> s"""WITH cand AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ${cosSql(s"q.embedding[1:$CoarseDims]", s"n.embedding[1:$CoarseDims]")} AS coarse,
         q.embedding AS q_emb, n.embedding AS n_emb
  FROM embeddings q
  JOIN embeddings n ON q.vec_id < $NumProbes AND q.vec_id <> n.vec_id),
short AS (
  SELECT query_id, neighbor_id, q_emb, n_emb
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY coarse DESC, neighbor_id) AS crn
        FROM cand)
  WHERE crn <= $Shortlist),
fine AS (
  SELECT query_id, neighbor_id, ${cosSql("q_emb", "n_emb")} AS cos
  FROM short),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, neighbor_id) AS rank
  FROM fine)
SELECT query_id, neighbor_id, rank, ${r2("cos")} AS cosine_r2
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank""",

    "sim_recall_report" -> s"""WITH brute AS (
  SELECT query_id, neighbor_id FROM (${bruteForceOracleSql}) b),
lsh AS (
  SELECT query_id, neighbor_id FROM (${RandomHyperplaneLsh.oracleSql}) l),
ivf AS (
  SELECT query_id, neighbor_id FROM (${IvfIndex.oracleSql}) i),
probes AS (SELECT DISTINCT query_id FROM brute),
hits AS (
  SELECT 'lsh' AS family, b.query_id, count(*)::BIGINT AS n_hits
  FROM brute b JOIN lsh a USING (query_id, neighbor_id) GROUP BY b.query_id
  UNION ALL
  SELECT 'ivf' AS family, b.query_id, count(*)::BIGINT AS n_hits
  FROM brute b JOIN ivf a USING (query_id, neighbor_id) GROUP BY b.query_id)
SELECT f.family, p.query_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) * 1.0 / $TopK AS recall_at_k
FROM (VALUES ('lsh'), ('ivf')) f(family)
CROSS JOIN probes p
LEFT JOIN hits h ON h.family = f.family AND h.query_id = p.query_id
ORDER BY f.family, p.query_id""",

    "sim_pq_codes" -> ProductQuantizer.oracleSql,
    "sim_pq_distortion" -> ProductQuantizer.distortionOracleSql,
    "sim_normalize" -> s"""WITH n AS (
  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS norm
  FROM embeddings)
SELECT vec_id, norm,
${(0 until 8).map(i =>
      s"       CAST(embedding[${i + 1}] AS DOUBLE) / norm AS n${"%02d".format(i)}")
      .mkString(",\n")}
FROM n WHERE norm > 0
ORDER BY vec_id""",

    "sim_hubness" -> s"""WITH scored AS (
  SELECT q.vec_id AS qid, n.vec_id AS nid,
         ${cosSql("q.embedding", "n.embedding")} AS cos
  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id),
topk AS (
  SELECT nid FROM (
    SELECT nid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
    FROM scored)
  WHERE rk <= $HubK),
kocc AS (
  SELECT e.vec_id, count(t.nid)::BIGINT AS k_occurrence
  FROM embeddings e LEFT JOIN topk t ON e.vec_id = t.nid
  GROUP BY e.vec_id)
SELECT k_occurrence, count(*)::BIGINT AS n_vectors
FROM kocc GROUP BY 1 ORDER BY 1""",

    "sim_jaccard_cosine_bands" -> s"""WITH jp AS (
${graft.dedup.Dedup.jaccardOracleSql}
),
scored AS (
  SELECT jp.jaccard,
         ${cosSql("a.embedding", "b.embedding")} AS cos
  FROM jp
  JOIN embeddings a ON jp.doc_a = a.vec_id
  JOIN embeddings b ON jp.doc_b = b.vec_id)
SELECT floor(cos * 10)::INT AS cos_band,
       count(*)::BIGINT AS n_pairs,
       min(jaccard) AS min_jaccard,
       max(jaccard) AS max_jaccard
FROM scored GROUP BY 1 ORDER BY 1""",

    "sim_cosine_pairs" -> s"""WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ${cosSql("a.embedding", "b.embedding")} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, ${r2("cos")} AS cosine_r2
FROM pairs WHERE cos >= 0.4
ORDER BY vec_a, vec_b""",

    "sim_bruteforce_topk" -> bruteForceOracleSql,

    "sim_mips_topk" -> s"""WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ${dot("q.embedding", "n.embedding")} AS dotp
  FROM embeddings q JOIN embeddings n
    ON q.vec_id < $NumProbes AND q.vec_id <> n.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, dotp,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dotp DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ${r2("dotp")} AS dot_r2
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank""",
    "sim_knn_classify" -> s"""WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ${cosSql("q.embedding", "n.embedding")} AS cos
  FROM embeddings q JOIN embeddings n
    ON q.vec_id < $NumProbes AND q.vec_id <> n.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored),
votes AS (
  SELECT r.query_id, e.label, count(*)::BIGINT AS votes
  FROM ranked r JOIN embeddings e ON r.neighbor_id = e.vec_id
  WHERE r.rank <= $TopK
  GROUP BY 1, 2),
best AS (
  SELECT query_id, label AS predicted_label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes)
SELECT b.query_id, q.label AS true_label, b.predicted_label, b.votes,
       (q.label = b.predicted_label) AS correct
FROM best b JOIN embeddings q ON b.query_id = q.vec_id
WHERE b.vr = 1
ORDER BY query_id""",

    "sim_contrastive_pairs" -> s"""WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS cand_id,
         ${cosSql("q.embedding", "n.embedding")} AS cos,
         ${graft.functions.Md5Hash.h32Sql(
      "'neg:' || CAST(q.vec_id AS VARCHAR) || ':' || CAST(n.vec_id AS VARCHAR)")} AS h
  FROM embeddings q JOIN embeddings n
    ON q.vec_id < $NumProbes AND q.vec_id <> n.vec_id),
pos AS (
  SELECT query_id, cand_id, 'pos' AS kind, rk, cos FROM (
    SELECT query_id, cand_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, cand_id) AS rk
    FROM scored) WHERE rk = 1),
neg AS (
  SELECT query_id, cand_id, 'neg' AS kind, rk, cos FROM (
    SELECT query_id, cand_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY h, cand_id) AS rk
    FROM scored) WHERE rk <= $NumNeg)
SELECT query_id, cand_id, kind, rk, ${r2("cos")} AS cosine_r2
FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
ORDER BY query_id, kind, rk""",

    // full-pipeline DuckDB twins (md5-derived hyperplanes / seeds, exact
    // fixed-point k-means — see RandomHyperplaneLsh and IvfIndex scaladocs);
    // SimilaritySpec additionally pins the never-beats-brute-force /
    // subset-of-exact recall relationships
    "sim_ann_lsh_topk" -> RandomHyperplaneLsh.oracleSql,
    "sim_ivf_topk" -> IvfIndex.oracleSql,
    "sim_ivf_cell_stats" -> IvfIndex.cellStatsOracleSql,
    "sim_ivf_rebalance" -> IvfIndex.rebalanceOracleSql,
    "sim_ivf_nprobe_sweep" -> IvfIndex.nprobeSweepOracleSql,
    "sim_ivf_pq_topk" -> IvfPq.oracleSql,
    "dedup_embedding_ann" -> RandomHyperplaneLsh.embeddingNearDupsOracleSql,

    "sim_quantize_int8" -> """WITH e AS (
  SELECT vec_id, CAST(embedding[pos] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos)),
m AS (
  SELECT vec_id, max(abs(v)) AS max_abs FROM e GROUP BY vec_id),
q AS (
  SELECT e.vec_id, v,
         127.0 / max_abs AS scale,
         CAST(floor(v * (127.0 / max_abs) + 0.5) AS INT) AS qv
  FROM e JOIN m USING (vec_id)
  WHERE max_abs > 0)
SELECT vec_id,
       max(scale) AS scale,
       min(qv) AS min_q,
       max(qv) AS max_q,
       max(abs(qv / scale - v)) AS max_abs_err
FROM q
GROUP BY vec_id
ORDER BY vec_id""")
}

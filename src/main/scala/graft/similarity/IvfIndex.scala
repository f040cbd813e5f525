package graft.similarity

import graft.Tables
import graft.functions.GraftFunctions.round2
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

/** IVF (inverted-file) approximate nearest neighbors: coarse-quantize the
  * corpus with k-means, search only the probe's `nprobe` nearest cells, then
  * exact-rank candidates with the codegen'd cosine kernel.
  *
  * Complements [[RandomHyperplaneLsh]]: LSH cells are data-oblivious
  * hyperplane signs; IVF cells adapt to the data distribution (k-means
  * centroids), which is what production vector indexes (FAISS IVF*) use.
  *
  * The coarse quantizer is spherical k-means (assign = argmax cosine, the
  * similarity the search itself ranks by), trained with [[LloydRounds]]
  * distributed Lloyd iterations. Each iteration is one broadcast join
  * (corpus × k centroids, map-side) plus one aggregation shuffle for the
  * centroid update — the textbook distributed Lloyd; only the k×dim centroid
  * table ever reaches the driver, exactly like MLlib's implementation.
  *
  * Determinism — the property MLlib's trainer cannot give us — comes from two
  * choices, and buys a full DuckDB oracle ([[oracleSql]]) where round 3 could
  * only spec-pin this query:
  *
  *  - **seeding**: initial centroids are the k corpus vectors with the
  *    lowest `md5("ivf_seed:" || vec_id)` — exact stored floats, engine-
  *    independent (the seeded-sample oracle pattern), no RNG;
  *  - **fixed-point centroid accumulation**: a float mean computed with
  *    floating-point `sum()` depends on the order partial aggregates merge,
  *    which varies run-to-run with partitioning — unacceptable for a
  *    hash-compared result AND for cluster-rerun reproducibility. Each
  *    component is instead quantized to a long (`floor(x·10⁷ + ½)`), summed
  *    exactly (long addition is associative — order-independent at ANY
  *    parallelism), and divided back once: `(Σq / (n·10⁷))` in double,
  *    rounded to float. Both engines perform the identical IEEE operations,
  *    so centroids — and therefore cell assignments, probe routing, and the
  *    final ranking — are bit-reproducible everywhere.
  *
  * Scale notes (100 TB): the corpus is written partitioned by cell id, so a
  * probe reads `nprobe` partitions instead of the full corpus (PlanSpec
  * asserts the dynamic pruning); the centroid table (k×dim) is broadcast.
  * k scales as √n (k=16 fits the 500-2000-vector test corpus; a billion
  * vectors wants k≈30k plus product quantization for the residuals — same
  * search shape). The fixed-point trick also holds at scale: quantized
  * components are ≤10⁷ in magnitude, so a cell of 10¹¹ vectors still sums
  * inside a signed long.
  */
object IvfIndex {

  val K = 16
  val NProbe = 2
  val LloydRounds = 2

  /** Fixed-point quantum for the centroid mean (10⁷ ≈ float's 24-bit
    * mantissa precision for unit-scale embedding components).
    */
  val FxScale = 10000000L

  // index built once per (application, corpus) and persisted as parquet —
  // training is a build step, probes only read
  def build(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Scratch.memo(spark, "graft-ivf", dir) { base =>
      val (assigned, centroids) = train(spark, dir)
      // physically partitioned by cell id: a probe's candidate scan prunes to
      // its nprobe cells' partitions (PlanSpec asserts the PartitionFilters)
      // instead of reading the whole corpus
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/assigned")
      centroids.write.mode("overwrite").parquet(s"$base/centroids")
      (spark.read.parquet(s"$base/assigned"),
        spark.read.parquet(s"$base/centroids"))
    }

  private val centroidSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Nearest-cell assignment under `centroids` (argmax cosine; cell-id
    * tiebreak for determinism): one broadcast join, then the top-k kernel
    * with the embedding as a group key (it depends only on `vec_id`), so
    * it rides to the output without a re-join.
    */
  private def assign(e: DataFrame, centroids: DataFrame): DataFrame =
    TopK.rank(e.crossJoin(broadcast(centroids))
        .withColumn("c_sim", expr("graft_cosine(embedding, centroid)")),
        Seq("vec_id", "embedding"), "c_sim", "cell", 1)
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** One Lloyd update: per-cell component means via exact fixed-point sums
    * (see object doc); cells that lost every member keep their previous
    * centroid. Collects only the k×dim centroid table to the driver — the
    * same driver round-trip every distributed k-means makes per iteration.
    */
  private def updateCentroids(spark: SparkSession, assigned: DataFrame,
      prev: Seq[Row]): Seq[Row] = {
    val means = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * lit(FxScale) + lit(0.5))
        .cast("long")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("m", (col("s").cast("double")
        / (col("cnt") * lit(FxScale)).cast("double")).cast("float"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
      .collect()
    val got = means.map(_.getInt(0)).toSet
    val kept = prev.filterNot(r => got.contains(r.getInt(0)))
    (means.toSeq ++ kept).sortBy(_.getInt(0))
  }

  private def centroidDf(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.getInt(0), r.getSeq[Float](1))), 1), centroidSchema)

  /** (corpus with cell assignments, centroid table). */
  private def train(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    Similarity.register(spark)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // deterministic seeds: the K corpus vectors with lowest md5 rank, cell id
    // = rank order. orderBy + limit plans as a distributed
    // TakeOrderedAndProject (per-partition top-K, tiny driver merge) — NOT a
    // global row_number window, which would funnel the whole corpus through
    // one reducer just to pick K=16 rows
    var c: Seq[Row] = e
      .withColumn("r", md5(concat(lit("ivf_seed:"), col("vec_id").cast("string"))))
      .orderBy(col("r"))
      .limit(K)
      .select(col("r"), col("embedding").cast("array<float>").as("centroid"))
      .collect().toSeq
      .sortBy(_.getString(0))
      .zipWithIndex
      .map { case (row, cell) => Row(cell, row.getSeq[Float](1)) }
    for (_ <- 0 until LloydRounds)
      c = updateCentroids(spark, assign(e, centroidDf(spark, c)), c)
    val centroids = centroidDf(spark, c)
    (assign(e, centroids), centroids)
  }

  def topK(spark: SparkSession, dir: String, k: Int = Similarity.TopK): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val (assigned, centroids) = build(spark, dir)
    val probes = assigned.filter($"vec_id" < Similarity.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    TopK.rank(scoreCells(route(probes, centroids, NProbe), assigned),
        Seq("query_id"), "cos", "neighbor_id", k)
      .select($"query_id", $"neighbor_id", $"rank", round2($"cos").as("cosine_r2"))
      .orderBy($"query_id", $"rank")
  }

  /** nprobe routing: each probe's `nprobe` nearest cells by centroid
    * cosine (cell-id tiebreak) as (query_id, q_emb, cell, c_rank) — the one
    * definition behind [[topK]], [[nprobeSweep]] and [[IvfPq.topK]]; its
    * oracle twin is the `pc` CTE of [[searchCtes]]. `probes` is
    * (query_id, q_emb), probe-set-sized; `q_emb` rides through the kernel
    * as a group key. The probes are hash-partitioned by `query_id` up
    * front, so the kernel's (query_id, q_emb) grouping adds no exchange
    * and its output stays co-partitioned with the per-probe ranks
    * downstream (grouped by `query_id` alone, the kernel would re-shuffle
    * every scored candidate there).
    */
  private[similarity] def route(probes: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    TopK.rank(probes.repartition(col("query_id"))
        .crossJoin(broadcast(centroids))
        .withColumn("c_sim", expr("graft_cosine(q_emb, centroid)")),
        Seq("query_id", "q_emb"), "c_sim", "cell", nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"),
        col("rank").as("c_rank"))

  /** Every routed probe scored against its cells' members: (query_id,
    * neighbor_id, cos), the probe itself excluded. A vector lives in one
    * cell, so (query_id, neighbor_id) is unique.
    */
  private def scoreCells(routed: DataFrame, assigned: DataFrame): DataFrame =
    routed
      .join(assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("cell")), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("graft_cosine(q_emb, n_emb)").as("cos"))

  /** Cell-balance report over the trained index — the health check an ANN
    * deployment watches: IVF probe cost is proportional to the PROBED
    * cells' sizes, so one hot cell (bad seeding, clustered corpus) silently
    * turns "nprobe/K of the corpus" into "most of the corpus" for every
    * query routed there. Emits per cell its vector count, corpus share,
    * and balance factor (count / ideal-uniform count); `balance_factor ≫ 1`
    * cells are re-train or cell-split triggers. One aggregate over the
    * assignment table + a 1-row rollup broadcast back; doubles derive from
    * exact longs so the report hash-compares.
    */
  def cellStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (assigned, _) = build(spark, dir)
    val per = assigned.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
    val tot = per.agg(sum($"n_vecs").as("total"),
      count(lit(1)).as("n_cells"))
    per.crossJoin(broadcast(tot))
      .select($"cell", $"n_vecs",
        ($"n_vecs" * lit(1.0) / $"total").as("share"),
        ($"n_vecs" * lit(1.0) / ($"total" * lit(1.0) / $"n_cells"))
          .as("balance_factor"))
      .orderBy($"cell")
  }

  /** IVF maintenance plan — what an index OPERATOR does with
    * [[cellStats]]' health numbers: per cell (INCLUDING empty ones, which
    * the occupancy join alone never shows and which are exactly the merge
    * candidates), the occupancy share and the planned action under the
    * standard 2×/half thresholds — `split` above twice the mean cell,
    * `merge` below half, `ok` between. Split/merge decisions are integer
    * comparisons (`n·K` vs `2·total`) so the plan hash-compares; at a
    * billion vectors this table IS the re-train work order: split cells
    * re-run local Lloyd on one partition each, merge cells redirect their
    * postings — nothing else is touched.
    */
  def rebalancePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (assigned, _) = build(spark, dir)
    val per = assigned.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
    val allCells = spark.range(K).select($"id".cast("int").as("cell"))
    val occ = allCells.join(per, Seq("cell"), "left")
      .select($"cell", coalesce($"n_vecs", lit(0L)).as("n_vecs"))
    val tot = occ.agg(sum($"n_vecs").as("total"))
    occ.crossJoin(broadcast(tot))
      .select($"cell", $"n_vecs",
        graft.functions.GraftFunctions.round2(
          $"n_vecs" * lit(100.0) / $"total").as("pct"),
        when($"n_vecs" * K > $"total" * 2, "split")
          .when($"n_vecs" * K * 2 < $"total", "merge")
          .otherwise("ok").as("action"))
      .orderBy($"cell")
  }

  /** DuckDB twin of [[rebalancePlan]]. */
  def rebalanceOracleSql: String = s"""WITH $searchCtes,
per AS (SELECT cell, count(*)::BIGINT AS n_vecs FROM af GROUP BY cell),
cells AS (SELECT unnest(range(0, $K))::INT AS cell),
occ AS (
  SELECT c.cell, coalesce(p.n_vecs, 0)::BIGINT AS n_vecs
  FROM cells c LEFT JOIN per p ON c.cell = p.cell),
tot AS (SELECT sum(n_vecs)::BIGINT AS total FROM occ)
SELECT cell, n_vecs,
       FLOOR(n_vecs * 100.0 / total * 100 + 0.5) / 100.0 AS pct,
       CASE WHEN n_vecs * $K > total * 2 THEN 'split'
            WHEN n_vecs * $K * 2 < total THEN 'merge'
            ELSE 'ok' END AS action
FROM occ, tot
ORDER BY cell"""

  /** The index+routing CTE chain (md5 seeding `c0`, every Lloyd round
    * unrolled, final assignment `af`, probe set `probes`, nprobe routing
    * `pc`) — shared between [[oracleSql]] and the IVF-PQ twin
    * ([[IvfPq.oracleSql]]) so the coarse quantizer has exactly one oracle
    * definition.
    */
  private[similarity] def searchCtes: String = {
    val cos = Similarity.cosSql _
    def assignSql(name: String, cN: String) =
      s"""$name AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ${cos("e.embedding", "c.centroid")} DESC,
                                       c.cell) AS rk
    FROM embeddings e CROSS JOIN $cN c)
  WHERE rk = 1)"""
    def updateSql(sums: String, means: String, cNext: String, aN: String,
        cN: String) =
      s"""$sums AS (
  SELECT cell, pos,
         sum(CAST(floor(CAST(embedding[pos] AS DOUBLE) * $FxScale + 0.5)
             AS BIGINT))::BIGINT AS s,
         count(*) AS cnt
  FROM $aN, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos)
  GROUP BY cell, pos),
$means AS (
  SELECT cell,
         list(CAST(CAST(s AS DOUBLE) / CAST(cnt * $FxScale AS DOUBLE) AS FLOAT)
              ORDER BY pos) AS centroid
  FROM $sums GROUP BY cell),
$cNext AS (
  SELECT * FROM $means
  UNION ALL
  SELECT cell, centroid FROM $cN
  WHERE cell NOT IN (SELECT cell FROM $means))"""
    val rounds = (0 until LloydRounds).map { i =>
      assignSql(s"a$i", s"c$i") + ",\n" +
        updateSql(s"s$i", s"m$i", s"c${i + 1}", s"a$i", s"c$i")
    }.mkString(",\n")
    s"""c0 AS (
  SELECT cell, embedding AS centroid FROM (
    SELECT row_number() OVER (
             ORDER BY md5('ivf_seed:' || CAST(vec_id AS VARCHAR))) - 1 AS cell,
           embedding
    FROM embeddings)
  WHERE cell < $K),
$rounds,
${assignSql("af", s"c$LloydRounds")},
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < ${Similarity.NumProbes}),
pc AS (
  SELECT query_id, q_emb, cell FROM (
    SELECT p.query_id, p.q_emb, c.cell,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY ${cos("p.q_emb", "c.centroid")} DESC,
                                       c.cell) AS rk
    FROM probes p CROSS JOIN c$LloydRounds c)
  WHERE rk <= $NProbe)"""
  }

  /** DuckDB twin of the FULL pipeline — seeding, every Lloyd round (unrolled
    * as CTEs), final assignment, probe routing, and exact re-rank — made
    * possible by the md5 seeds and the exact fixed-point centroid update.
    */
  def oracleSql: String = {
    val cos = Similarity.cosSql _
    s"""WITH $searchCtes,
scored AS (
  SELECT DISTINCT pc.query_id, a.vec_id AS neighbor_id,
         ${cos("pc.q_emb", "a.embedding")} AS cos
  FROM pc JOIN af a ON pc.cell = a.cell AND pc.query_id <> a.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ${Similarity.r2("cos")} AS cosine_r2
FROM ranked WHERE rank <= ${Similarity.TopK}
ORDER BY query_id, rank"""
  }

  /** DuckDB twin of [[cellStats]] — same unrolled trainer, same rollup. */
  def cellStatsOracleSql: String = s"""WITH $searchCtes,
per AS (SELECT cell, count(*)::BIGINT AS n_vecs FROM af GROUP BY cell),
tot AS (
  SELECT sum(n_vecs)::BIGINT AS total, count(*)::BIGINT AS n_cells FROM per)
SELECT cell::INT AS cell, n_vecs,
       n_vecs * 1.0 / total AS share,
       n_vecs * 1.0 / (total * 1.0 / n_cells) AS balance_factor
FROM per, tot
ORDER BY cell"""

  /** nprobe values swept by [[nprobeSweep]] — the IVF operating points. */
  val SweepNProbes: Seq[Int] = Seq(1, 2, 4)

  /** The IVF operating curve — recall@k vs probe cost for nprobe ∈
    * [[SweepNProbes]]: the ONE table an ANN deployment tunes from, because
    * "what nprobe do we run?" is a cost/recall trade and guessing it is
    * how indexes ship either slow or blind. Per sweep point: exact-top-k
    * hits summed over the probe set, recall as a single division of
    * integer sums, and the scanned-candidate row count (Σ probed cells'
    * sizes — the cost IVF actually pays). The sweep shares ONE cell
    * routing ([[route]] once to max nprobe, filtered per point) and the
    * memoized index; at corpus scale this query reads the assignment
    * table, never re-trains.
    */
  def nprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val k = Similarity.TopK
    val (assigned, centroids) = build(spark, dir)
    val probes = assigned.filter($"vec_id" < Similarity.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val routed = route(probes, centroids, SweepNProbes.max)
    val cellSizes = assigned.groupBy($"cell").agg(count(lit(1)).as("sz"))
    val exact = Similarity.bruteForceTopK(spark, dir, k)
      .select($"query_id", $"neighbor_id")
    val points = SweepNProbes.map { np =>
      val ivf = TopK.rank(scoreCells(routed.filter($"c_rank" <= np), assigned),
        Seq("query_id"), "cos", "neighbor_id", k)
      val hits = ivf.join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      val scanned = routed.filter($"c_rank" <= np)
        .join(cellSizes, "cell")
        .agg(coalesce(sum($"sz"), lit(0L)).as("scanned_rows"))
      hits.crossJoin(scanned).select(
        lit(np.toLong).as("nprobe"), $"n_hits",
        ($"n_hits" * lit(1.0) / lit((Similarity.NumProbes * k).toDouble))
          .as("recall_at_k"),
        $"scanned_rows")
    }
    points.reduce(_ unionByName _).orderBy($"nprobe")
  }

  /** DuckDB twin of [[nprobeSweep]] — same unrolled trainer, shared
    * max-nprobe routing, per-point filters.
    */
  def nprobeSweepOracleSql: String = {
    val cos = Similarity.cosSql _
    val k = Similarity.TopK
    val maxNp = SweepNProbes.max
    val sweepVals = SweepNProbes.map(v => s"($v)").mkString(", ")
    s"""WITH $searchCtes,
routed AS (
  SELECT query_id, q_emb, cell, rk AS c_rank FROM (
    SELECT p.query_id, p.q_emb, c.cell,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY ${cos("p.q_emb", "c.centroid")} DESC,
                                       c.cell) AS rk
    FROM probes p CROSS JOIN c$LloydRounds c)
  WHERE rk <= $maxNp),
sweep(nprobe) AS (VALUES $sweepVals),
scored AS (
  SELECT DISTINCT s.nprobe, r.query_id, a.vec_id AS neighbor_id,
         ${cos("r.q_emb", "a.embedding")} AS cos
  FROM sweep s
  JOIN routed r ON r.c_rank <= s.nprobe
  JOIN af a ON a.cell = r.cell AND r.query_id <> a.vec_id),
ivf AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT nprobe, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored)
  WHERE rank <= $k),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ${cos("q.embedding", "n.embedding")}
                                DESC, n.vec_id) AS rank
    FROM embeddings q JOIN embeddings n
      ON q.vec_id < ${Similarity.NumProbes} AND q.vec_id <> n.vec_id)
  WHERE rank <= $k),
sizes AS (SELECT cell, count(*)::BIGINT AS sz FROM af GROUP BY cell),
hits AS (
  SELECT s.nprobe, count(*)::BIGINT AS n_hits
  FROM sweep s
  JOIN ivf i ON i.nprobe = s.nprobe
  JOIN exact e USING (query_id, neighbor_id)
  GROUP BY s.nprobe),
cost AS (
  SELECT s.nprobe, sum(z.sz)::BIGINT AS scanned_rows
  FROM sweep s
  JOIN routed r ON r.c_rank <= s.nprobe
  JOIN sizes z ON z.cell = r.cell
  GROUP BY s.nprobe)
SELECT s.nprobe::BIGINT AS nprobe,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) * 1.0
         / ${(Similarity.NumProbes * k).toDouble} AS recall_at_k,
       coalesce(c.scanned_rows, 0)::BIGINT AS scanned_rows
FROM sweep s
LEFT JOIN hits h ON h.nprobe = s.nprobe
LEFT JOIN cost c ON c.nprobe = s.nprobe
ORDER BY nprobe"""
  }
}

package graft.similarity

import graft.Tables
import graft.functions.GraftFunctions.round2
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ search — the production vector-index composition (FAISS
  * `IndexIVFPQ`; Jégou et al., TPAMI 2011 — public algorithm): route each
  * probe to its `nprobe` nearest [[IvfIndex]] cells, rank that cell's
  * postings by APPROXIMATE distance computed from the probe's per-subspace
  * PQ lookup table (asymmetric distance computation, ADC — M table lookups
  * + M−1 adds per candidate instead of a d-dim float kernel), keep a
  * [[ShortList]] per probe, and exact-re-rank only the shortlist with the
  * codegen'd cosine kernel.
  *
  * This is the piece [[IvfIndex.topK]] (exact re-rank of EVERY cell member)
  * and [[ProductQuantizer.codes]] (the compact storage form) compose into:
  * at 100 TB the postings list holds 4-byte PQ codes, the full float vector
  * is only touched for the ≤[[ShortList]] shortlist rows per probe, and the
  * candidate scan reads `nprobe` cell partitions of the code table — the
  * whole-corpus float scan disappears from the hot path.
  *
  * Engine-exact like its parents: the ADC table entries are in-array-order
  * double sums, the per-candidate approximate distance is the fixed
  * expression `d0+d1+…+d{M−1}` (never a float shuffle agg), shortlist and
  * final ranks tie-break on neighbor id — so the DuckDB twin
  * ([[oracleSql]]) reproduces the shortlist cut and the final ranking
  * bit-for-bit.
  */
object IvfPq {

  /** ADC shortlist per probe before the exact re-rank — one definition
    * interpolated into the Spark default AND the oracle SQL.
    */
  val ShortList = 3 * Similarity.TopK

  import ProductQuantizer.M

  // postings (assignment ⋈ codes) built once per (application, corpus) and
  // persisted partitioned by cell — the IVF-PQ index layout: a probe's
  // candidate scan reads its nprobe cells' partitions of 4-byte codes
  /** The cell-partitioned postings table: vec_id, embedding, c0..c{M−1},
    * partitioned by cell. (The embedding column rides along for the exact
    * re-rank; a disaggregated deployment would keep it in a separate
    * vec_id-keyed store and fetch only shortlist rows.)
    */
  def postings(spark: SparkSession, dir: String): DataFrame =
    graft.Scratch.memo(spark, "graft-ivfpq", dir) { base =>
      val (assigned, _) = IvfIndex.build(spark, dir)
      val codes = ProductQuantizer.codes(spark, dir)
        .select(Seq(col("vec_id")) ++ (0 until M).map(s => col(s"c$s")): _*)
      assigned.join(codes, "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(base)
      spark.read.parquet(base)
    }

  def topK(spark: SparkSession, dir: String, k: Int = Similarity.TopK): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val (_, centroids) = IvfIndex.build(spark, dir)
    val post = postings(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val dim = e.select(size($"embedding")).head.getInt(0)
    val sd = ProductQuantizer.subDim(dim)
    val cb = ProductQuantizer.codebook(spark, dir, dim)
    val probes = e.filter($"vec_id" < Similarity.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    // nprobe routing — IvfIndex.topK's (same oracle CTE `pc`)
    val probeCells = IvfIndex.route(probes, centroids, IvfIndex.NProbe)
      .drop("c_rank")
    // ADC lookup table: |probes| × M × K rows (tiny — broadcast), entry
    // (query, s, code) = in-order squared L2 between the probe's s-th
    // subvector and that codebook entry
    val dtable = broadcast(probes).crossJoin(broadcast(cb))
      .withColumn("qsub", expr(s"slice(q_emb, s * $sd + 1, $sd)"))
      .withColumn("d", ProductQuantizer.d2("qsub", "codevec"))
      .select($"query_id", $"s", $"code", $"d")
    // candidates: the probed cells' postings (cell-partition-pruned scan);
    // each vector lives in exactly one cell so (query, neighbor) is unique
    val cand = probeCells
      .join(post.select(Seq($"vec_id".as("neighbor_id"),
        $"embedding".as("n_emb"), $"cell") ++
        (0 until M).map(s => col(s"c$s")): _*), "cell")
      .filter($"query_id" =!= $"neighbor_id")
    // ADC distance: M broadcast lookups against dtable, summed in fixed
    // expression order (d0+d1+…) — all map-side, no shuffle of candidates
    val withD = (0 until M).foldLeft(cand) { (df, s) =>
      df.join(broadcast(dtable.filter($"s" === s)
          .select($"query_id".as(s"pq_q$s"), $"code".as(s"pq_k$s"),
            $"d".as(s"d$s"))),
        col("query_id") === col(s"pq_q$s") && col(s"c$s") === col(s"pq_k$s"))
        .drop(s"pq_q$s", s"pq_k$s")
    }
    val short = withD
      .withColumn("adc_d", (0 until M).map(s => col(s"d$s")).reduce(_ + _))
      // window: ascending distance; a negated key would move NaNs
      .withColumn("srk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"adc_d", $"neighbor_id")))
      .filter($"srk" <= ShortList)
    // exact re-rank of the shortlist only
    val fine = short.withColumn("cos", expr("graft_cosine(q_emb, n_emb)"))
    TopK.rank(fine, Seq("query_id"), "cos", "neighbor_id", k)
      .select($"query_id", $"neighbor_id", $"rank", round2($"cos").as("cosine_r2"))
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB twin: the shared IVF chain ([[IvfIndex.searchCtes]]: seeding,
    * unrolled Lloyd, assignment `af`, probes, routing `pc`) + the shared PQ
    * chain ([[ProductQuantizer.codesCtes]]: codebooks `cb`, per-vector codes
    * `px`) + the ADC table, shortlist cut, and exact re-rank.
    */
  def oracleSql: String = {
    val sd = ProductQuantizer.OracleSubDim
    val cos = Similarity.cosSql _
    s"""WITH ${IvfIndex.searchCtes},
${ProductQuantizer.codesCtes},
dt AS (
  SELECT p.query_id, c.s, c.code,
         list_sum(list_transform(range(1, $sd + 1),
           i -> (CAST(p.q_emb[c.s * $sd + i] AS DOUBLE) - CAST(c.codevec[i] AS DOUBLE))
              * (CAST(p.q_emb[c.s * $sd + i] AS DOUBLE) - CAST(c.codevec[i] AS DOUBLE)))) AS d
  FROM probes p CROSS JOIN cb c),
cand AS (
  SELECT pc.query_id, pc.q_emb, a.vec_id AS neighbor_id, a.embedding AS n_emb,
         ${(0 until M).map(s => s"px.c$s").mkString(", ")}
  FROM pc
  JOIN af a ON pc.cell = a.cell AND pc.query_id <> a.vec_id
  JOIN px ON px.vec_id = a.vec_id),
adc AS (
  SELECT c.query_id, c.q_emb, c.neighbor_id, c.n_emb,
         ${(0 until M).map(s => s"d$s.d").mkString(" + ")} AS adc_d
  FROM cand c
${(0 until M).map(s =>
      s"  JOIN dt d$s ON d$s.query_id = c.query_id AND d$s.s = $s AND d$s.code = c.c$s")
      .mkString("\n")}),
short AS (
  SELECT query_id, q_emb, neighbor_id, n_emb,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d, neighbor_id) AS srk
  FROM adc),
scored AS (
  SELECT query_id, neighbor_id, ${cos("q_emb", "n_emb")} AS cos
  FROM short WHERE srk <= $ShortList),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, ${Similarity.r2("cos")} AS cosine_r2
FROM ranked WHERE rank <= ${Similarity.TopK}
ORDER BY query_id, rank"""
  }
}

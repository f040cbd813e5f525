package graft.similarity

import graft.Tables
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Matryoshka-style prefix-dimension evaluation — "how much of the
  * 64-d embedding's retrieval quality survives if we only ship the first
  * 8/16/32 dims?" (Kusupati et al. 2022's MRL popularized training
  * embeddings whose prefixes are themselves usable; storage/bandwidth at
  * 100 TB makes the answer a sizing decision, exactly like
  * [[ProductQuantizer]]'s ADC trade). For each probe, rank the corpus by
  * full-vector cosine and by each prefix's cosine, then report per prefix:
  * top-1 agreement and recall@[[Similarity.TopK]] of the prefix ranking
  * against the full ranking.
  *
  * Determinism: cosine runs in the [[graft.functions.CosineSimilarity]]
  * kernel over `slice`d arrays (in-array-order accumulation, mirrored by
  * DuckDB's `list_sum(list_transform(...))` over the same list slice);
  * ranks come from a total order (cos desc, neighbor_id); agreement and
  * recall are exact integer counts with one final division each.
  *
  * Scale: probes broadcast against the corpus exactly as
  * [[Similarity.bruteForceTopK]] (the exact baseline this report grades
  * prefixes against); all three prefix scores ride the SAME pass — one
  * scan, each pair stacked once per width into ONE top-k kernel grouped by
  * (query, width).
  */
object Matryoshka {

  /** Prefix widths evaluated against the full vector. */
  val PrefixDims: Seq[Int] = Seq(8, 16, 32)

  def prefixReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val k = Similarity.TopK
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter($"vec_id" < Similarity.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    // width 0 stands for the full vector
    val widths = 0 +: PrefixDims
    val scores = widths.map { d =>
      struct(lit(d).as("dim"), expr(
        if (d == 0) "graft_cosine(q_emb, n_emb)"
        else s"graft_cosine(slice(q_emb, 1, $d), slice(n_emb, 1, $d))").as("cos"))
    }
    val stacked = broadcast(probes)
      .crossJoin(e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb")))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", explode(array(scores: _*)).as("s"))
      .select($"query_id", $"neighbor_id", $"s.dim".as("dim"), $"s.cos".as("cos"))
    val top = TopK.rank(stacked, Seq("query_id", "dim"), "cos", "neighbor_id", k)
    def top1(d: Int) = max(when($"dim" === d && $"rank" === 1, $"neighbor_id"))
    def ids(d: Int) = collect_list(when($"dim" === d, $"neighbor_id"))
    val perQuery = top.groupBy($"query_id").agg(
      top1(0).as("top1_full"),
      PrefixDims.flatMap { d => Seq(
        top1(d).as(s"top1_$d"),
        size(array_intersect(ids(d), ids(0))).cast("long").as(s"overlap_$d"))
      }: _*)
    // ONE wide aggregate row carries every prefix's counters; the 3-row
    // reshape is an in-plan `stack` over that bounded row (a
    // |PrefixDims|-sized constant), so the probe×corpus pair set is scanned
    // exactly once AND the whole query stays lazy — no driver round-trip,
    // so merely building/EXPLAINing this entry costs nothing (every other
    // registry entry has that property; this one must too).
    val wide = perQuery.agg(
      count(lit(1)).as("n_probes"),
      PrefixDims.flatMap { d => Seq(
        sum(when(col(s"top1_$d") === $"top1_full", 1L).otherwise(0L))
          .as(s"m_$d"),
        sum(col(s"overlap_$d")).as(s"o_$d"))
      }: _*)
    val stackExpr = s"stack(${PrefixDims.size}, " + PrefixDims.map(d =>
      s"$d, m_$d, o_$d").mkString(", ") + ") AS (prefix_dim, top1_matches, overlap)"
    wide.select($"n_probes", expr(stackExpr))
      .select($"prefix_dim".cast("int").as("prefix_dim"),
        $"n_probes", $"top1_matches",
        ($"top1_matches" * 1.0 / $"n_probes").as("top1_agreement"),
        ($"overlap" * 1.0 / ($"n_probes" * k)).as(s"recall_at_$k"))
      .orderBy($"prefix_dim")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_matryoshka_prefix" -> (prefixReport _))

  val oracle: Map[String, String] = {
    val k = Similarity.TopK
    def cosPfx(d: Int) =
      Similarity.cosSql(s"(q.embedding)[1:$d]", s"(n.embedding)[1:$d]")
    val prefixCosCols = PrefixDims.map(d => s"${cosPfx(d)} AS cos_$d").mkString(",\n         ")
    val rankCols = ("full" +: PrefixDims.map(_.toString)).map(t =>
      s"""ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos_$t DESC, neighbor_id) AS rank_$t""").mkString(",\n         ")
    val perQueryCols = PrefixDims.map(d =>
      s"""max(CASE WHEN rank_$d = 1 THEN neighbor_id END) AS top1_$d,
         sum(CASE WHEN rank_$d <= $k AND rank_full <= $k THEN 1 ELSE 0 END) AS overlap_$d""")
      .mkString(",\n         ")
    val branches = PrefixDims.map(d =>
      s"""SELECT $d AS prefix_dim, count(*)::BIGINT AS n_probes,
       sum(CASE WHEN top1_$d = top1_full THEN 1 ELSE 0 END)::BIGINT AS top1_matches,
       sum(CASE WHEN top1_$d = top1_full THEN 1 ELSE 0 END) * 1.0 / count(*) AS top1_agreement,
       sum(overlap_$d) * 1.0 / (count(*) * $k) AS recall_at_$k
FROM per_query""").mkString("\nUNION ALL\n")
    Map("sim_matryoshka_prefix" -> s"""WITH pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ${Similarity.cosSql("q.embedding", "n.embedding")} AS cos_full,
         $prefixCosCols
  FROM embeddings q JOIN embeddings n
    ON q.vec_id < ${Similarity.NumProbes} AND q.vec_id <> n.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         $rankCols
  FROM pairs),
per_query AS (
  SELECT query_id,
         max(CASE WHEN rank_full = 1 THEN neighbor_id END) AS top1_full,
         $perQueryCols
  FROM ranked GROUP BY query_id)
SELECT * FROM ($branches) ORDER BY prefix_dim""")
  }
}

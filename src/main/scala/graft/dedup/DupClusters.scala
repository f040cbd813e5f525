package graft.dedup

import graft.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate cluster assembly: connected components over the Jaccard
  * pair graph, by iterative min-label propagation — pairwise dedup decisions
  * ("drop b of (a,b)") are wrong when dups come in families (a~b, b~c:
  * keeping one canonical per component is the correct corpus policy).
  *
  * Implementation is the standard Spark iterative pattern: each round every
  * node takes the min of its own label and its neighbors' labels; fixpoint
  * when no label changes (bounded by component diameter — near-dup families
  * are shallow). The driver loop carries only a changed-count; all data
  * stays distributed, and each round is one shuffle on node id. Each
  * round's labels are reused, which also cuts the lineage, so a deeper
  * family only adds rounds (power-law graphs would want
  * large-star/small-star instead).
  */
object DupClusters {

  // label table materialized once per (application, corpus): the fixpoint
  // loop is an index build, reused by every downstream consumer
  def clusters(spark: SparkSession, dir: String): DataFrame =
    Scratch.parquet(spark, "graft-clusters", dir)(computeClusters(spark, dir))

  private def computeClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.2, maxIter: Int = 20): DataFrame = {
    import spark.implicits._
    // filter of the shared materialized pair table (threshold ≥ BaseTau)
    val pairs = Dedup.pairsForDir(spark, dir)
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b")
    // undirected edge list, both directions — reused: every round joins
    // against it, and without it each round would re-run the whole
    // Jaccard join to re-derive it
    val edges = Scratch.reuse(pairs.select($"doc_a".as("u"), $"doc_b".as("v"))
      .unionByName(pairs.select($"doc_b".as("u"), $"doc_a".as("v")))
      .distinct())
    var labels = edges.select($"u".as("node")).distinct()
      .withColumn("label", $"node")
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels, edges("v") === labels("node"))
        .groupBy($"u".as("node2"))
        .agg(min($"label").as("nbr_label"))
      val updated = labels
        .join(neighborMin, labels("node") === col("node2"), "left")
        .select($"node",
          least($"label", coalesce($"nbr_label", $"label")).as("label"),
          ($"label" =!= least($"label", coalesce($"nbr_label", $"label")))
            .as("changed"))
      // one pass computes both the new labels and the changed count
      val mat = Scratch.reuse(updated)
      val changed = mat.filter($"changed").count()
      labels = mat.select($"node", $"label")
      converged = changed == 0
      i += 1
    }
    labels
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** Cluster-size rollup (the dedup ledger per family). */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusters(spark, dir)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"cluster_id")
  }

  /** Keep-best curation policy per duplicate family: the canonical survivor
    * is the highest-QUALITY member (longest text, doc_id tiebreak), not the
    * min id — dropping a long original in favor of a truncated re-crawl is
    * the classic dedup mistake this policy prevents. One keyed window per
    * cluster (cluster-partitioned — never global) over the label table the
    * fixpoint loop already materialized.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id")
    clusters(spark, dir).join(docs, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(
        max(when($"rk" === 1, $"doc_id")).as("kept_doc"),
        max(when($"rk" === 1, $"n_chars")).as("kept_chars"),
        count(lit(1)).as("n_members"))
      .withColumn("n_dropped", $"n_members" - 1)
      .orderBy($"cluster_id")
  }

  /** Train share of the leakage-free split, in percent. */
  val TrainPct = 90

  /** Duplication-aware train/val split audit — the leakage guard
    * [[graft.text.Curate]]'s hash split lacks: hashing DOC ids puts two
    * near-duplicates on opposite sides of the split, so the val set
    * contains paraphrases of training rows and the eval lies. Splitting by
    * the duplicate-CLUSTER key (each unclustered doc is its own group; a
    * cluster's key is its min member, which can never collide with an
    * unclustered id) makes cross-split near-dup pairs structurally zero.
    * The audit row carries both worlds: the aware split's crossing count
    * (0 by construction — hash-verified, not asserted) next to the naive
    * doc-hash split's crossing count, which is the leak it prevents.
    *
    * Scale: one broadcast-ish join of the label table onto the corpus,
    * map-side hash assignment, and two id-joins of the (small) pair table
    * — the cluster and pair artifacts are already materialized.
    */
  def leakfreeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def side(c: org.apache.spark.sql.Column) =
      pmod(graft.functions.Md5Hash.h32(concat(lit("split:"), c.cast("string"))),
        lit(100)) < TrainPct
    val assigned = graft.Tables.documents(spark, dir).select($"doc_id")
      .join(clusters(spark, dir), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("gkey"))
      .select($"doc_id",
        side($"gkey").as("train_aware"), side($"doc_id").as("train_naive"))
    val sides = assigned.agg(
      count(lit(1)).as("n_docs"),
      sum(when($"train_aware", 1L).otherwise(0L)).as("n_train"),
      sum(when(!$"train_aware", 1L).otherwise(0L)).as("n_val"))
    val a = assigned.select($"doc_id".as("doc_a"),
      $"train_aware".as("aw_a"), $"train_naive".as("nv_a"))
    val b = assigned.select($"doc_id".as("doc_b"),
      $"train_aware".as("aw_b"), $"train_naive".as("nv_b"))
    val crossings = Dedup.pairsForDir(spark, dir)
      .select($"doc_a", $"doc_b")
      .join(a, "doc_a").join(b, "doc_b")
      .agg(
        count(lit(1)).as("n_neardup_pairs"),
        sum(when($"aw_a" =!= $"aw_b", 1L).otherwise(0L))
          .as("aware_crossing_pairs"),
        sum(when($"nv_a" =!= $"nv_b", 1L).otherwise(0L))
          .as("naive_crossing_pairs"))
    sides.crossJoin(crossings)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // re-assert total order after the memoized parquet round-trip
    "dedup_clusters" -> ((s: SparkSession, d: String) =>
      clusters(s, d).orderBy(col("doc_id"))),
    "curate_leakfree_split" -> (leakfreeSplit _),
    "dedup_cluster_sizes" -> ((s: SparkSession, d: String) => clusterSizes(s, d)),
    "dedup_keep_best" -> (keepBest _))

  private val pairCte = """WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
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
  FROM ov JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE o * 1.0 / (sa.n + sb.n - o) >= 0.2),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
labels AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)"""

  val oracle: Map[String, String] = Map(
    "dedup_clusters" -> s"""$pairCte
SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""",

    "curate_leakfree_split" -> {
      def sideSql(expr: String) =
        s"(${graft.functions.Md5Hash.h32Sql(s"'split:' || ($expr)::VARCHAR")}) % 100 < $TrainPct"
      s"""$pairCte,
assigned AS (
  SELECT d.doc_id,
         ${sideSql("coalesce(l.cluster_id, d.doc_id)")} AS train_aware,
         ${sideSql("d.doc_id")} AS train_naive
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
sides AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(CASE WHEN train_aware THEN 1 ELSE 0 END)::BIGINT AS n_train,
         sum(CASE WHEN NOT train_aware THEN 1 ELSE 0 END)::BIGINT AS n_val
  FROM assigned),
crossings AS (
  SELECT count(*)::BIGINT AS n_neardup_pairs,
         sum(CASE WHEN a.train_aware <> b.train_aware THEN 1 ELSE 0 END)::BIGINT
           AS aware_crossing_pairs,
         sum(CASE WHEN a.train_naive <> b.train_naive THEN 1 ELSE 0 END)::BIGINT
           AS naive_crossing_pairs
  FROM pairs p
  JOIN assigned a ON p.doc_a = a.doc_id
  JOIN assigned b ON p.doc_b = b.doc_id)
SELECT * FROM sides CROSS JOIN crossings"""
    },

    "dedup_cluster_sizes" -> s"""$pairCte
SELECT cluster_id, count(*)::BIGINT AS n_docs
FROM labels GROUP BY cluster_id ORDER BY cluster_id""",

    "dedup_keep_best" -> s"""$pairCte,
ranked AS (
  SELECT l.cluster_id, l.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, l.doc_id) AS rk
  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
SELECT cluster_id,
       max(CASE WHEN rk = 1 THEN doc_id END)::BIGINT AS kept_doc,
       max(CASE WHEN rk = 1 THEN n_chars END)::INT AS kept_chars,
       count(*)::BIGINT AS n_members,
       (count(*) - 1)::BIGINT AS n_dropped
FROM ranked GROUP BY cluster_id ORDER BY cluster_id""")
}

package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates the README operator catalog FROM the query registry
  * ([[Registry.modules]]) so the docs cannot drift from the code: every
  * registered query appears, each mapped to its implementing module and
  * source file. CatalogSpec asserts README ⊇ SparkEntry.queries (and no
  * stale extras), so adding a query without re-running
  * `sbt "runMain graft.CatalogGen"` fails the build.
  *
  * Runs without a SparkSession — only map KEYS are read.
  */
object CatalogGen {

  /** Family = everything before the first `_`; the reference's numbered
    * queries (q01..q12) collapse into one family. One-liners are the only
    * hand-written part (they describe the FAMILY, which is stable).
    */
  private val families: Seq[(String, String, String => Boolean)] = Seq(
    ("Reference analytics (q01–q12)",
      "the reference's 12 analytical queries over the star schema (`sql/analytics_queries.sql`)",
      (n: String) => n.matches("^q\\d\\d_.*")),
    ("Materialized views",
      "the reference's three matviews, persisted + incrementally refreshable (`sql/03_warehouse.sql:112-156`)",
      (n: String) => n.startsWith("mv_")),
    ("README queries & probes",
      "the reference README's sample queries and verification probes (`README.md`)",
      (n: String) => n.startsWith("readme_")),
    ("Reports", "formatted report shapes from `src/run_analytics.py`",
      (n: String) => n.startsWith("rpt_")),
    ("ETL / ingest",
      "staging, key dedup, CHECK-quarantine, upsert, incremental batches, JSON audit, drift and FK probes (`src/etl_pipeline.py`)",
      (n: String) => n.startsWith("etl_")),
    ("Sources & sinks",
      "seeded samples, Faker-style synthetic volume, fixed-width/ORC/JSONL round-trips, stratified allocation",
      (n: String) => n.startsWith("src_")),
    ("Warehouse engineering",
      "SCD1/2, bitemporal, data vault, bucketed/partitioned layouts, compaction, manifests, time travel, FD/IND discovery, skew advisor",
      (n: String) => n.startsWith("wh_")),
    ("Structured Streaming",
      "checkpointed incremental ingest, sessionization, watermarked rollups, stream-stream joins — exactly-once across restarts",
      (n: String) => n.startsWith("stream_")),
    ("Window functions",
      "ranking, frames, lead/lag, running totals, percent-of-total, set ops",
      (n: String) => n.startsWith("win_") || n.startsWith("setops_")),
    ("Aggregates & sketches",
      "KS/Mann-Whitney/χ²/Spearman, HLL/CMS/KMV/Bloom/q-digest, funnels, cohorts, bootstrap, conformal intervals",
      (n: String) => n.startsWith("agg_")),
    ("Time series",
      "resampling, gap fill, EWMA, OHLC, lateness profiles, hierarchical reconciliation",
      (n: String) => n.startsWith("ts_")),
    ("Graph", "PageRank, k-core, triangles, label propagation, modularity, link prediction — iteration-bounded joins",
      (n: String) => n.startsWith("graph_")),
    ("Deduplication",
      "exact, MinHash-LSH (banded), SimHash, CDC chunking, n-gram containment, connected-component clusters",
      (n: String) => n.startsWith("dedup_")),
    ("Similarity / ANN",
      "cosine top-k baselines + IVF / IVF-PQ / RH-LSH / graph-greedy indexes, SemDedup, PCA/JL/PQ compression, coresets",
      (n: String) => n.startsWith("sim_")),
    ("Text analysis",
      "language-ID, quality scores, token counts, entropy/perplexity, BPE, TF-IDF, boilerplate, PII scrub, fingerprints",
      (n: String) => n.startsWith("text_")),
    ("Corpus curation",
      "source mixing (temperature/UniMax), k-fold, decontamination, DSIR, Shapley, packing, training order",
      (n: String) => n.startsWith("curate_")),
    ("Multimodal",
      "binary payload metadata, pHash near-dup, frame sampling, corrupt quarantine (decode kernels stubbed, plumbing real)",
      (n: String) => n.startsWith("mm_")),
    ("Privacy",
      "DP counts/sums, k-anonymity, l-diversity, t-closeness, ε-budget ledger",
      (n: String) => n.startsWith("priv_")),
    ("Join strategies",
      "advisor-salted skew joins, runtime bloom-filter pruning — the shuffle-shape toolbox",
      (n: String) => n.startsWith("join_")),
    ("Optimizer rules",
      "redundant-left-join elimination with on/off plan + shuffle-byte proofs",
      (n: String) => n.startsWith("opt_")),
    ("Observability",
      "plan-derived column lineage, runtime metrics ledger",
      (n: String) => n.startsWith("obs_")),
    ("TPC-H", "the public 22-query suite as DataFrame programs",
      (n: String) => n.startsWith("tpch_")))

  private val Begin = "<!-- operator-catalog:begin (generated by graft.CatalogGen — do not edit by hand) -->"
  private val End = "<!-- operator-catalog:end -->"

  /** `SkewAdvisor` → `src/main/scala/graft/warehouse/SkewAdvisor.scala`,
    * found by scanning the source tree for the object definition (objects
    * do not always live in a file of their own name).
    */
  private def sourceIndex: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    val defn = "object\\s+(\\w+)".r
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = Files.readString(p)
        defn.findAllMatchIn(text).map(m => m.group(1) -> p.toString)
      }
      // sort by path before the pick: Files.walk order is
      // filesystem-dependent, and a name collision resolved by walk order
      // would make the generated README churn between machines
      .toSeq.sortBy(_._2).groupBy(_._1).view.mapValues(_.head._2).toMap
  }

  def render(): String = {
    val srcIdx = sourceIndex
    val modules = Registry.modules
    val owner: Map[String, Registry.Module] = (for {
      m <- modules; q <- m.queries.keys
    } yield q -> m).toMap
    val registered = SparkEntry.queries.keySet
    val sb = new StringBuilder
    sb.append(Begin).append('\n')
    sb.append(s"\n## Operator catalog (${registered.size} registered queries)\n\n")
    sb.append("Every row is a DuckDB-oracle-checked entry in `SparkEntry.queries` ")
    sb.append("(rows-only entries carry no oracle). Generated from the compiled ")
    sb.append("registry by `sbt \"runMain graft.CatalogGen\"`; CatalogSpec fails if ")
    sb.append("this section drifts from the code.\n")
    var listed = Set.empty[String]
    for ((title, oneLiner, member) <- families) {
      val qs = registered.filter(member).toSeq.sorted
      if (qs.nonEmpty) {
        listed ++= qs
        sb.append(s"\n### $title\n\n$oneLiner\n\n")
        sb.append("| query | implementation |\n|---|---|\n")
        for (q <- qs) {
          val mod = owner.get(q).map(_.simpleName).getOrElse("?")
          val path = owner.get(q).flatMap(m => srcIdx.get(m.simpleName))
          val impl = path.map(p => s"[`$mod`]($p)").getOrElse(s"`$mod`")
          sb.append(s"| `$q` | $impl |\n")
        }
      }
    }
    val unlisted = (registered -- listed).toSeq.sorted
    if (unlisted.nonEmpty) {
      sb.append("\n### Uncategorized\n\n(new family — add a one-liner in CatalogGen)\n\n")
      sb.append("| query | implementation |\n|---|---|\n")
      for (q <- unlisted) {
        val mod = owner.get(q).map(_.simpleName).getOrElse("?")
        sb.append(s"| `$q` | `$mod` |\n")
      }
    }
    sb.append('\n').append(End)
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val readme = Paths.get("README.md")
    val text = Files.readString(readme)
    val section = render()
    val updated =
      if (text.contains(Begin))
        text.substring(0, text.indexOf(Begin)) + section +
          text.substring(text.indexOf(End) + End.length)
      else text.stripTrailing() + "\n\n" + section + "\n"
    Files.writeString(readme, updated)
    println(s"catalog: ${SparkEntry.queries.size} queries written to README.md")
  }
}

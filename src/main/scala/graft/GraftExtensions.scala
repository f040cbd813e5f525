package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point for SQL users: the graft native functions, installed
  * at session build time via the standard extensions mechanism —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions())`. After
  * that, `SELECT graft_cosine(a, b)` / `graft_plane_dot(v, id)` /
  * `graft_winnow(text)` work from plain SQL with no Scala imports — the
  * route a mixed SQL/Scala team consumes a function library through.
  *
  * The operator modules also self-register these names lazily
  * (`Similarity.register`, `TextAnalysis.winnowDf`) so the DataFrame API
  * needs no session configuration; both paths bind the same Expression
  * classes, so plans are identical either way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // optimizer extension: redundant-enrichment-join elimination (a rewrite
    // OSS Catalyst lacks; soundness conditions in the rule's doc)
    ext.injectOptimizerRule(_ => graft.plans.EliminateRedundantLeftJoin)
    // planner extension: the native as-of merge join (AsOfJoinPlan →
    // AsOfJoinExec); DataFrame users get it lazily via AsOfJoin.register
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // ... and the node's own filter-pushdown rule (custom operators owe
    // the optimizer the rewrites it cannot infer)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOf)
    // multi-grain re-roll: aggregate once below the Expand (session opt-in
    // via its EnabledKey — a cost-based choice the rule can't make alone)
    ext.injectOptimizerRule(_ => graft.plans.RerollExpandAggregate)
    // matview query rewriting: answer raw-table aggregates from registered
    // pre-aggregates (session opt-in via its EnabledKey)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // eager aggregation: collapse the fact side of a unique-keyed star
    // join before the join (session opt-in via its EnabledKey)
    ext.injectOptimizerRule(_ => graft.plans.EagerAggregation)
    // union-of-aggregates merge: one grouping-sets scan instead of one
    // scan per hand-written grain (session opt-in via its EnabledKey)
    ext.injectOptimizerRule(_ => graft.plans.MergeUnionAggregates)
    // generated-column partition pruning: derive partition predicates from
    // data-column filters via layout invariants (session opt-in)
    ext.injectOptimizerRule(_ => graft.plans.DerivedPartitionFilter)
    // file-level data skipping: prune the scan's file list from the
    // layout's stats sidecar (session opt-in via its EnabledKey)
    ext.injectOptimizerRule(_ => graft.plans.FileSkipIndex)
    // table-valued function surface: SELECT ... FROM graft_gen(n)
    ext.injectTableFunction(graft.sources.v2.GenTvf.Info)
  }
}

object GraftExtensions {

  /** Lazy self-registration path for the DataFrame API (no session config
    * needed): installs every native function as a temp function with the
    * SAME arity-guarded builders the extension path uses. A name the
    * session's registry already holds (an earlier call, or the extension
    * path) is left as it is, so repeated calls cost one lookup per name.
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, builder) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }

  /** Arity gate: a named, actionable error at analysis time instead of a
    * raw IndexOutOfBounds from a blind `args(i)`.
    */
  private def arity(name: String, n: Int, usage: String)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}; usage: $usage")
      build(args)
    }

  /** (identifier, info, builder) for every native graft Expression. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
        "graft_cosine"),
      arity("graft_cosine", 2, "graft_cosine(array<float>, array<float>)") {
        args => graft.functions.CosineSimilarity(args(0), args(1)) }),
    (FunctionIdentifier("graft_plane_dot"),
      new ExpressionInfo(classOf[graft.functions.PlaneDot].getName,
        "graft_plane_dot"),
      arity("graft_plane_dot", 2,
        "graft_plane_dot(array<float>, array<bigint> plane literal)") {
        args => graft.functions.PlaneDot(args(0), args(1)) }),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName,
        "graft_dot"),
      arity("graft_dot", 2, "graft_dot(array<float>, array<float>)") {
        args => graft.functions.DotProduct(args(0), args(1)) }),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[graft.functions.WinnowFingerprints].getName,
        "graft_winnow"),
      arity("graft_winnow", 1, "graft_winnow(string)") {
        args => graft.functions.WinnowFingerprints(args.head,
          text.TextAnalysis.WinnowK, text.TextAnalysis.WinnowW) }),
    (FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[graft.functions.KmvAgg].getName,
        "graft_kmv"),
      arity("graft_kmv", 1, "graft_kmv(bigint h32 hash) aggregate") {
        args => graft.functions.KmvAgg(args.head,
          analytics.WindowExtras.KmvK) }),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[graft.functions.MinHashSignature].getName,
        "graft_minhash_sig"),
      arity("graft_minhash_sig", 1,
        "graft_minhash_sig(string) → array<bigint> of 32 minhash values") {
        args => graft.functions.MinHashSignature(args.head) }),
    (FunctionIdentifier("graft_jl_project"),
      new ExpressionInfo(classOf[graft.functions.JlProjectVec].getName,
        "graft_jl_project"),
      arity("graft_jl_project", 1,
        "graft_jl_project(array<float>) → array<double> of 16 JL coordinates") {
        args => graft.functions.JlProjectVec(args.head) }),
    (FunctionIdentifier("graft_bigram_counts"),
      new ExpressionInfo(classOf[graft.functions.BigramCounts].getName,
        "graft_bigram_counts"),
      arity("graft_bigram_counts", 1,
        "graft_bigram_counts(string) → array<struct<bg,c>> distinct char bigrams with counts") {
        args => graft.functions.BigramCounts(args.head) }),
    (FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[graft.functions.CdcChunkFps].getName,
        "graft_cdc_chunks"),
      arity("graft_cdc_chunks", 1,
        "graft_cdc_chunks(string) → array<struct<fp,s>> content-defined chunk fingerprints") {
        args => graft.functions.CdcChunkFps(args.head,
          dedup.CdcChunks.GramK, dedup.CdcChunks.Divisor) }),
    (FunctionIdentifier("graft_edit_within"),
      new ExpressionInfo(classOf[graft.functions.EditWithin].getName,
        "graft_edit_within"),
      arity("graft_edit_within", 3,
        "graft_edit_within(string, string, int k) → min(levenshtein, k+1)") {
        args => graft.functions.EditWithin(args(0), args(1), args(2)) }),
    (FunctionIdentifier("graft_topk_pairs"),
      new ExpressionInfo(classOf[graft.functions.TopKPairsAgg].getName,
        "graft_topk_pairs"),
      arity("graft_topk_pairs", 3,
        "graft_topk_pairs(double score, bigint id, int literal k) aggregate " +
          "→ array<struct<score,id>> of the k best DISTINCT ids by " +
          "(score desc, id asc)") {
        args =>
          val k = args(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
                if v != null => v.toString.toInt
            case other => throw new IllegalArgumentException(
              s"graft_topk_pairs k must be an int literal, got $other")
          }
          graft.functions.TopKPairsAgg(args(0), args(1), k)
      }))
}

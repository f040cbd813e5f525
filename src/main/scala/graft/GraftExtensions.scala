package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** What graft adds to a Spark session, in one place: the native functions
  * ([[GraftExtensions.functions]]), the optimizer rules
  * ([[GraftExtensions.rules]]), the as-of join strategy and the `graft_gen`
  * table function. Two routes bind the same objects:
  *
  *   - the extensions mechanism, for sessions built with
  *     `spark-submit --conf spark.sql.extensions=graft.GraftExtensions` or
  *     `SparkSession.builder().withExtensions(new GraftExtensions())`, after
  *     which `SELECT graft_cosine(a, b)` works from plain SQL;
  *   - [[GraftExtensions.install]], for a session built without it:
  *     [[LocalSession]], every [[plans.ChildSession]] and, through the
  *     registry's entry map, any session a caller hands to
  *     [[SparkEntry.queries]].
  *
  * Policy: every rule is present in every session and stays off until the
  * session sets its `EnabledKey` to true, so a query plans the same way
  * whichever session runs it and whatever ran before it there. The one
  * exception is [[plans.PushFilterThroughAsOf]], on by default: it matches
  * only graft's own as-of node, owing the optimizer the pushdown Catalyst
  * cannot infer through it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    ext.injectTableFunction(sources.v2.GenTvf.Info)
  }
}

object GraftExtensions {

  /** Every graft optimizer rule, in the order the optimizer runs them. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    plans.EliminateRedundantLeftJoin,
    plans.PushFilterThroughAsOf,
    plans.RerollExpandAggregate,
    plans.MvRewrite,
    plans.EagerAggregation,
    plans.MergeUnionAggregates,
    plans.DerivedPartitionFilter,
    plans.FileSkipIndex)

  /** Add graft to a session built without the extension: the functions
    * and `graft_gen` as temp functions, the as-of strategy and every rule
    * in [[rules]] order. Idempotent: what the session already holds (an
    * earlier call, or the extension route for functions) stays as it is.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, builder) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    val tvfs = spark.sessionState.tableFunctionRegistry
    val (gen, _, genPlan) = sources.v2.GenTvf.Info
    if (!tvfs.functionExists(gen))
      tvfs.createOrReplaceTempFunction(gen.funcName, genPlan, "built-in")
    val x = spark.experimental
    if (!x.extraStrategies.contains(plans.AsOfJoinStrategy))
      x.extraStrategies = x.extraStrategies :+ plans.AsOfJoinStrategy
    val missing = rules.filterNot(x.extraOptimizations.contains)
    if (missing.nonEmpty) x.extraOptimizations = x.extraOptimizations ++ missing
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

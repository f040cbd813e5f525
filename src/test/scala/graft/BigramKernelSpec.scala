package graft

import org.apache.spark.sql.functions._

/** The native bigram-histogram kernel ([[graft.functions.BigramCounts]])
  * must agree with the declarative explode+substring+groupBy pipeline it
  * replaced — that pipeline's semantics ARE the DuckDB parity contract
  * for `text_bigram_novelty` (the oracle still checks the full query; this
  * spec pins the kernel's corners the corpus may not exercise).
  */
class BigramKernelSpec extends SparkSpec {
  import spark.implicits._

  private def viaKernel(s: String): Map[String, Long] = {
    Seq(Option(s)).toDF("t")
      .select(explode(expr("graft_bigram_counts(t)")).as("s"))
      .select($"s.bg", $"s.c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def viaDeclarative(s: String): Map[String, Long] =
    Seq(Option(s)).toDF("t")
      .filter(length($"t") >= 2)
      .select(explode(expr("sequence(1, length(t) - 1)")).as("i"), $"t")
      .select(expr("substring(t, i, 2)").as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("kernel histogram equals the declarative explode pipeline") {
    for (s <- Seq("abab", "aaaa", "hello world", "xy",
        "ααββ αα",            // non-ASCII code points
        "a😀b😀a",            // astral (surrogate-pair) code points
        "padded  spaces  "))
      assert(viaKernel(s) == viaDeclarative(s), s"input: '$s'")
  }

  test("short, empty, and null inputs drop cleanly under explode") {
    assert(viaKernel("a").isEmpty)
    assert(viaKernel("").isEmpty)
    assert(viaKernel(null).isEmpty)
    // interpreted (non-codegen) path takes the same route
    val e = graft.functions.BigramCounts(
      org.apache.spark.sql.catalyst.expressions.Literal("abcb"))
    val out = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == 3) // ab, bc, cb
  }

  test("registered query on real docs matches the declarative twin") {
    val dir = "/root/testdata/sf0.001"
    val kernel = graft.text.BigramNovelty.bigramNovelty(spark, dir)
      .collect().map(_.toString).toSeq
    // the pre-kernel pipeline, verbatim
    val grams = Tables.documents(spark, dir)
      .select($"doc_id", lower(trim($"text")).as("t"))
      .filter(length($"t") >= 2)
      .select($"doc_id",
        explode(expr("sequence(1, length(t) - 1)")).as("i"), $"t")
      .select($"doc_id", expr("substring(t, i, 2)").as("bg"))
    val perDocCounts = grams.groupBy($"doc_id", $"bg")
      .agg(count(lit(1)).as("c"))
    val corpus = perDocCounts.groupBy($"bg").agg(sum($"c").as("cf"))
    val old = perDocCounts.join(corpus, "bg")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        sum(when($"cf" < graft.text.BigramNovelty.RareMax, $"c")
          .otherwise(0L)).as("n_rare"))
      .withColumn("novelty", $"n_rare" * lit(1.0) / $"n_bigrams")
      .withColumn("flagged",
        ($"novelty" > graft.text.BigramNovelty.NoveltyTau).cast("int"))
      .orderBy($"novelty".desc, $"doc_id")
      .limit(graft.text.BigramNovelty.ReportTopK)
      .select($"doc_id", $"n_bigrams", $"n_rare", $"novelty", $"flagged")
      .collect().map(_.toString).toSeq
    assert(kernel == old)
  }
}

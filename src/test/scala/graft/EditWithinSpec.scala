package graft

import graft.functions.EditWithin
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel and expression gates for the banded edit distance.
  * Cross-engine result correctness is the shared DuckDB oracle's job
  * (`dedup_fuzzy_pairs_banded` hash-matches the full-DP oracle); this spec
  * pins the kernel against Spark's own `levenshtein` on an adversarial
  * mutation corpus, the saturation contract, and both eval paths.
  */
class EditWithinSpec extends SparkSpec {

  private def banded(a: String, b: String, k: Int): Int =
    EditWithin.banded(UTF8String.fromString(a), UTF8String.fromString(b), k)

  private def full(a: String, b: String): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))

  /** Deterministic mutation corpus: seeds × (substitute, insert, delete,
    * transpose-ish, prefix chop, heavy rewrite) at varied positions.
    */
  private def corpus: Seq[(String, String)] = {
    val seeds = Seq("", "a", "kitten", "sitting",
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "abcdefghijklmnopqrstuvwxyz" * 3)
    for {
      s <- seeds
      t <- Seq(s, s.reverse, s.drop(1), s + "x", s.patch(s.length / 2, "XYZ", 0),
        s.patch(0, "Q", 1), s.map(c => if (c == 'a') 'b' else c),
        s.take(s.length / 2), "completely different text entirely")
    } yield (s, t)
  }

  test("banded agrees with the full DP whenever the distance is within k") {
    for ((a, b) <- corpus; k <- Seq(0, 1, 2, 5, 24, 200)) {
      val d = full(a, b)
      val got = banded(a, b, k)
      if (d <= k) assert(got == d, s"($a, $b, k=$k): got $got want $d")
      else assert(got == k + 1, s"($a, $b, k=$k): got $got want ${k + 1} (saturated)")
    }
  }

  test("saturation and argument edges") {
    assert(banded("abc", "abc", 0) == 0)
    assert(banded("abc", "abd", 0) == 1) // beyond k=0: saturates at 1
    assert(banded("abc", "abd", -5) == 1) // negative k clamps to 0
    assert(banded("", "", 7) == 0)
    assert(banded("", "abc", 7) == 3)
    assert(banded("", "abc", 2) == 3) // length gap > k: immediate saturate
    assert(banded("ab", "ba", 2) == 2) // transposition = 2 plain edits
  }

  test("expression: SQL surface, codegen + interpreted paths, nulls") {
    import spark.implicits._
    val df = corpus.toDF("a", "b")
      .withColumn("k", lit(5))
      .withColumn("banded", expr("graft_edit_within(a, b, k)"))
      .withColumn("ref", least(levenshtein($"a", $"b"), lit(6)))
    assert(df.filter($"banded" =!= $"ref").count() == 0)
    // interpreted path (eval): same pairs through nullSafeEval directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    for ((a, b) <- corpus.take(20)) {
      val e = EditWithin(Literal.create(a), Literal.create(b), Literal(5))
      assert(e.eval(null) == math.min(full(a, b), 6))
    }
    val nulls = spark.sql(
      "SELECT graft_edit_within(CAST(NULL AS STRING), 'x', 3) AS a, " +
        "graft_edit_within('x', CAST(NULL AS STRING), 3) AS b").collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}

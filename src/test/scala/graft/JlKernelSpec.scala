package graft

import org.apache.spark.sql.functions._

/** The native JL kernel ([[graft.functions.JlProjectVec]]) must be
  * bit-identical to the declarative 64-term fold it replaced — the fold IS
  * the cross-engine parity contract with the DuckDB oracle, so any rounding
  * drift here would silently desynchronize sim_jl_project/_distortion.
  */
class JlKernelSpec extends SparkSpec {

  test("kernel coordinates equal the declarative fold bit-for-bit") {
    import graft.similarity.{JlProjection, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val both = emb.select(
      Seq(col("vec_id"), expr("graft_jl_project(embedding)").as("jl")) ++
        (0 until JlProjection.OutDim).map(j =>
          JlProjection.projCol(col("embedding"), j).as(s"ref$j")): _*)
    val rows = both.collect()
    assert(rows.nonEmpty)
    for (r <- rows; j <- 0 until JlProjection.OutDim) {
      val k = r.getSeq[Double](1)(j)
      val d = r.getDouble(2 + j)
      // bit compare, not ==: the contract is exact IEEE equality
      assert(java.lang.Double.doubleToRawLongBits(k) ==
        java.lang.Double.doubleToRawLongBits(d),
        s"vec ${r.get(0)} coord $j: kernel $k vs declarative $d")
    }
  }

  test("null and short arrays poison to null; interpreted path agrees") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Array.fill(64)(1.0f))),
      (2L, Some(Array.fill(63)(1.0f))), // short: null
      (3L, None)                        // null array: null
    ).toDF("id", "embedding")
      .select($"id", expr("graft_jl_project(embedding)").as("jl"))
    val m = df.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!m(1L) && m(2L) && m(3L))
    // interpreted (non-codegen) evaluation takes the same path
    val e = graft.functions.JlProjectVec(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array.fill(64)(0.5f),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)))
    val out = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == graft.similarity.JlProjection.OutDim)
  }

  test("ANSI mode: well-formed parity holds; short-array divergence is " +
      "the documented kernel contract (null, where ANSI getItem throws)") {
    import graft.similarity.JlProjection
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    // parity on well-formed input is ANSI-independent: same corpus, same
    // bit-identical coordinates
    val emb = Tables.embeddings(s, sf).limit(50)
    val both = emb.select(
      Seq(expr("graft_jl_project(embedding)").as("jl")) ++
        (0 until JlProjection.OutDim).map(j =>
          JlProjection.projCol(col("embedding"), j).as(s"ref$j")): _*)
    for (r <- both.collect(); j <- 0 until JlProjection.OutDim)
      assert(java.lang.Double.doubleToRawLongBits(r.getSeq[Double](0)(j)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1 + j)))
    // the divergence, pinned: a SHORT array is null through the kernel…
    import s.implicits._
    val short = Seq((1L, Array.fill(63)(1.0f))).toDF("id", "embedding")
    val viaKernel = short.select(expr("graft_jl_project(embedding)").as("jl"))
      .collect().head
    assert(viaKernel.isNullAt(0),
      "kernel keeps null-poison semantics under ANSI")
    // …while the declarative fold's out-of-bounds getItem THROWS under
    // ANSI — if Spark ever changes that, this pin flags the contract for
    // re-derivation rather than letting the twins drift silently
    val thrown = try {
      short.select(JlProjection.projCol(col("embedding"), 0).as("p"))
        .collect(); false
    } catch { case _: Throwable => true }
    assert(thrown, "ANSI getItem on a short array is expected to throw")
  }
}

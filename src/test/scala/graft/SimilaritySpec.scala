package graft

import graft.functions.CosineSimilarity
import graft.similarity.{HubnessAnn, RandomHyperplaneLsh, SemDedup, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-search semantics: the native cosine Expression (interpreted
  * AND codegen paths), brute-force top-k shape, and the LSH path's recall
  * relationship to the exact baseline.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("graft_cosine matches a reference implementation (both eval paths)") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f), Some(1.0)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f), Some(0.0)),
      (Array(1.0f, 2.0f, 3.0f), Array(-1.0f, -2.0f, -3.0f), Some(-1.0)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f), None), // zero norm
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f), None) // length mismatch
    ).toDF("a", "b", "want")
    // codegen path (inside a projection)
    val got = df.withColumn("cos", expr("graft_cosine(a, b)")).collect()
    got.foreach { r =>
      val want = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val gotV = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      (want, gotV) match {
        case (Some(w), Some(g)) => assert(math.abs(w - g) < 1e-12)
        case (w, g) => assert(w == g)
      }
    }
    // interpreted path (direct eval)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val e = CosineSimilarity(
      Literal.create(Array(3.0f, 4.0f), ArrayType(FloatType)),
      Literal.create(Array(4.0f, 3.0f), ArrayType(FloatType)))
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 24.0 / 25.0) < 1e-12)
  }

  test("graft_dot matches a reference implementation (both eval paths)") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f), Some(32.0)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), Some(0.0)),
      (Array(0.0f, 0.0f), Array(0.0f, 0.0f), Some(0.0)), // zero is a VALUE for dot
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f), None) // length mismatch
    ).toDF("a", "b", "want")
    val got = df.withColumn("d", expr("graft_dot(a, b)")).collect()
    got.foreach { r =>
      val want = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val gotV = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      (want, gotV) match {
        case (Some(w), Some(g)) => assert(math.abs(w - g) < 1e-12)
        case (w, g) => assert(w == g)
      }
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val e = graft.functions.DotProduct(
      Literal.create(Array(3.0f, 4.0f), ArrayType(FloatType)),
      Literal.create(Array(4.0f, 3.0f), ArrayType(FloatType)))
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 24.0) < 1e-12)
  }

  test("mips top-k: contiguous ranks, dot descending, magnitude rewarded") {
    val rows = Similarity.mipsTopK(spark, sf, k = 5).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, g) =>
      assert(g.map(_.getInt(2)).sorted.sameElements(1 to g.length))
      val byRank = g.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "dot must be non-increasing in rank")
    }
  }

  test("brute-force top-k: each probe gets k contiguous ranks, cosine descending") {
    val rows = Similarity.bruteForceTopK(spark, sf, k = 5).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, g) =>
      assert(g.map(_.getInt(2)).sorted.sameElements(1 to g.length))
      assert(g.length == 5)
    }
  }

  test("LSH top-k only returns true candidates and never beats brute force") {
    val exact = Similarity.bruteForceTopK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ann = RandomHyperplaneLsh.topK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ann.nonEmpty, "multi-probe buckets should be non-empty at this corpus size")
    // ANN's best candidate can never exceed the exact best
    ann.foreach { case (q, c) => assert(c <= exact(q) + 1e-9) }
    // and the probe sets coincide
    assert(ann.keySet.subsetOf(exact.keySet))
  }

  test("IVF top-k: candidates come from probed cells and never beat brute force") {
    val exact = Similarity.bruteForceTopK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivf = graft.similarity.IvfIndex.topK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, c) => assert(c <= exact(q) + 1e-9) }
    assert(ivf.keySet.subsetOf(exact.keySet))
    // cells partition the corpus
    val (assigned, centroids) = graft.similarity.IvfIndex.build(spark, sf)
    assert(assigned.count() == Tables.embeddings(spark, sf).count())
    assert(centroids.count() == graft.similarity.IvfIndex.K)
  }

  test("IVF-PQ top-k: approximation chain never beats its parents") {
    // the shortlist re-ranks a SUBSET of the IVF candidate set, which is a
    // subset of the corpus — so best-cosine orders: pq <= ivf <= brute
    val brute = Similarity.bruteForceTopK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivf = graft.similarity.IvfIndex.topK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val pq = graft.similarity.IvfPq.topK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(pq.nonEmpty && pq.keySet == ivf.keySet)
    pq.foreach { case (q, c) =>
      assert(c <= ivf(q) + 1e-9, s"probe $q: pq beat exact-reranked ivf")
      assert(c <= brute(q) + 1e-9, s"probe $q: pq beat brute force")
    }
    // every probe gets contiguous ranks 1..k
    val full = graft.similarity.IvfPq.topK(spark, sf).collect()
    full.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(2)).sorted.sameElements(1 to g.length))
    }
  }

  test("pq codes: in range, errors non-negative, assignment deterministic") {
    import graft.similarity.ProductQuantizer
    import org.apache.spark.sql.functions._
    val c = ProductQuantizer.codes(spark, sf)
    assert(c.count() == Tables.embeddings(spark, sf).count())
    val codeCols = (0 until ProductQuantizer.M).map(s => col(s"c$s"))
    assert(c.filter(codeCols.map(cc =>
      cc < 0 || cc >= ProductQuantizer.K).reduce(_ || _)).count() == 0)
    assert(c.filter(col("sq_err") < 0).count() == 0)
    // codebooks and assignment are pure functions of the corpus
    val again = ProductQuantizer.codes(spark, sf)
    assert(c.exceptAll(again).count() == 0 && again.exceptAll(c).count() == 0)
  }

  test("normalize: unit norm after scaling, components bounded by 1") {
    import org.apache.spark.sql.functions._
    val n = graft.similarity.Similarity.normalize(spark, sf)
    assert(n.count() == Tables.embeddings(spark, sf).count())
    // first-8 normalized components can never exceed the unit ball
    val comps = (0 until 8).map(i => col(f"n$i%02d"))
    assert(n.filter(comps.map(c => abs(c) > 1.0).reduce(_ || _)).count() == 0)
    // the FULL normalized vector (not just the 8 reported components) has
    // unit norm: rescale in place and re-accumulate
    val unit = Tables.embeddings(spark, sf)
      .withColumn("norm", sqrt(expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
          (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""")))
      .withColumn("unit2", expr(
        """aggregate(transform(embedding, x -> CAST(x AS DOUBLE) / norm),
          CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"""))
    assert(unit.filter(abs(col("unit2") - 1.0) > 1e-9).count() == 0)
  }

  test("int8 quantization: values in [-127,127], error within the half-step bound") {
    val rows = Similarity.quantizeInt8(spark, sf).collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (scale, minQ, maxQ, err) =
        (r.getDouble(1), r.getInt(2), r.getInt(3), r.getDouble(4))
      assert(minQ >= -127 && maxQ <= 127, s"quant range overflow: $r")
      // round-half-up quantization: dequant error is at most half a step
      assert(err <= 0.5 / scale + 1e-12, s"error exceeds half-step bound: $r")
      assert(scale > 0)
    }
  }

  test("embedding near-dups: subset of the exact pair scan, identical cosines") {
    val exact = Similarity.cosinePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = RandomHyperplaneLsh.embeddingNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // bucketed candidates verify with the same kernel at the same tau:
    // can only miss, never invent, never disagree on the value
    assert(ann.keySet.subsetOf(exact.keySet), (ann.keySet -- exact.keySet))
    ann.foreach { case (k, c) => assert(c == exact(k)) }
    // near-identical pairs (cos >= 0.9) share all sign bits essentially
    // always — the pairs an embedding dedup pass must not miss
    val strong = exact.filter(_._2 >= 0.9).keySet
    assert(strong.subsetOf(ann.keySet), s"missed: ${strong -- ann.keySet}")
  }

  test("exact-scan envelope guard rejects an over-cap corpus, admits the test one") {
    // the O(n²) diagnostics fail loudly above MaxExactScanVectors rather
    // than burning hours — the documented envelope, now executable
    val e = intercept[IllegalArgumentException] {
      Similarity.requireExactEnvelope(
        Similarity.MaxExactScanVectors + 1, "sim_hubness", "sim_hubness_ann")
    }
    assert(e.getMessage.contains("sim_hubness_ann"))
    Similarity.requireExactEnvelope(
      Similarity.MaxExactScanVectors, "sim_hubness", "sim_hubness_ann")
  }

  test("ann hubness: histograms conserve the corpus; ann hubs can only shrink") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = HubnessAnn.hubnessAnn(spark, sf).collect()
    // both histograms partition the corpus
    assert(rows.map(_.getLong(1)).sum == n, "exact histogram must cover all vectors")
    assert(rows.map(_.getLong(2)).sum == n, "ann histogram must cover all vectors")
    // candidate truncation can only REMOVE k-occurrences, so total ann
    // occurrences <= total exact occurrences (= HubK * n when every query
    // has >= HubK candidates)
    def occ(col: Int) = rows.map(r => r.getLong(0) * r.getLong(col)).sum
    assert(occ(2) <= occ(1), "ann stream cannot create k-occurrences")
    assert(occ(2) > 0, "ann stream found no neighbors at all")
  }

  test("label centroids: confusion matrix conserves vectors over the label domain") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.labelCentroidConfusion(spark, sf).collect()
    // every vector assigned to exactly one centroid
    assert(out.map(_.getLong(2)).sum == e.count())
    val dom = e.select($"label").distinct().as[Int].collect().toSet
    assert(out.forall(r => dom(r.getInt(0)) && dom(r.getInt(1))),
      "both axes must stay in the label domain")
    // the fixed-point centroid build is bit-deterministic: re-run identical
    val again = Similarity.labelCentroidConfusion(spark, sf).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("contrastive pairs: one hardest positive dominating its negatives") {
    val byAnchor = Similarity.contrastivePairs(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(byAnchor.size == Similarity.NumProbes)
    byAnchor.foreach { case (_, rows) =>
      val (pos, neg) = rows.partition(_.getString(2) == "pos")
      assert(pos.length == 1)
      assert(neg.length == Similarity.NumNeg)
      assert(neg.map(_.getLong(1)).distinct.length == neg.length)
      // the positive is the global max cosine, so it dominates any sample
      neg.foreach(n => assert(pos.head.getDouble(4) >= n.getDouble(4)))
    }
  }

  test("knn classification votes are well-formed per probe") {
    val rows = Similarity.knnClassify(spark, sf).collect()
    assert(rows.length == Similarity.NumProbes)
    rows.foreach { r =>
      val votes = r.getLong(3)
      assert(votes >= 1 && votes <= Similarity.TopK)
      assert(r.getBoolean(4) == (r.getInt(1) == r.getInt(2)))
    }
  }

  test("semdedup: drops are a subset of the exact cosine pairs, kept < dropped") {
    val exact = Similarity.cosinePairs(spark, sf, SemDedup.SemTau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val drops = SemDedup.prune(spark, sf).collect()
    assert(drops.nonEmpty, "semdedup found no within-cell near-dups at sf0.001")
    drops.foreach { r =>
      val (dropId, keptId) = (r.getLong(1), r.getLong(2))
      assert(keptId < dropId, "survivor must be the lower id")
      assert(exact.contains((keptId, dropId)),
        s"semdedup pair ($keptId,$dropId) not in the exact τ-pair baseline")
    }
    // the paper's recall trade: within-cell pruning keeps a meaningful
    // fraction of the exact drop set (τ=0.4 pairs are diffuse across K=16
    // cells at sf0.001 — observed ~27%; production τ≈0.95 pairs co-cluster
    // far more tightly). Floor at 20% to catch a collapsed index, not to
    // promise paper-grade recall on this corpus.
    val dropIds = drops.map(_.getLong(1)).toSet
    val exactDropIds = exact.map(_._2)
    assert(dropIds.size * 5 >= exactDropIds.size,
      s"semdedup recall collapsed: ${dropIds.size} of ${exactDropIds.size}")
  }

  test("LSH signatures are deterministic") {
    val dim = Tables.embeddings(spark, sf)
      .select(size($"embedding")).head.getInt(0)
    val s1 = Tables.embeddings(spark, sf)
      .select($"vec_id", RandomHyperplaneLsh.signature("embedding", dim).as("sig"))
      .orderBy($"vec_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    val s2 = Tables.embeddings(spark, sf)
      .select($"vec_id", RandomHyperplaneLsh.signature("embedding", dim).as("sig"))
      .orderBy($"vec_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(s1.sameElements(s2))
    assert(s1.map(_._2).forall(s => s >= 0 && s < (1 << RandomHyperplaneLsh.Planes)))
  }
}

package graft

import graft.analytics.WindowExtras
import org.apache.spark.sql.functions._

/** The native TypedImperativeAggregate KMV sketch: equivalence with the
  * composed-operator estimator, serialization through real partial-merge
  * shuffles, and the unsaturated exact branch.
  */
class KmvAggSpec extends SparkSpec {
  import spark.implicits._

  test("native aggregate equals the composed kmvDistinct estimator") {
    val composed = WindowExtras.kmvDistinct(spark, sf)
      .select($"event_type", $"kmv_estimate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val native = WindowExtras.kmvNative(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(native === composed,
      "one-aggregate sketch and DISTINCT->rank->k-th must agree exactly")
  }

  test("buffer serialization survives partial merges at any parallelism") {
    val hashes = spark.range(100000)
      .select((col("id") % 7).as("g"),
        functions.Md5Hash.h32(concat(lit("k:"), col("id").cast("string"))).as("h"))
    def run(parts: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        hashes.repartition(parts).groupBy($"g")
          .agg(expr("graft_kmv(h)").as("est"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run(2) === run(13),
      "k-smallest-of-a-set is partitioning-invariant by construction")
  }

  test("unsaturated sketch reports the exact distinct count; accuracy bound") {
    // 10 distinct hashes < k=32: the sketch IS the set
    val small = spark.range(10)
      .select(functions.Md5Hash.h32(concat(lit("s:"), col("id").cast("string"))).as("h"))
    val est = small.agg(expr("graft_kmv(h)")).collect().head.getDouble(0)
    assert(est === 10.0)
    // duplicates collapse: same 10 hashes fed 50x still report 10
    val dups = spark.range(500)
      .select(functions.Md5Hash.h32(concat(lit("s:"), (col("id") % 10).cast("string"))).as("h"))
    assert(dups.agg(expr("graft_kmv(h)")).collect().head.getDouble(0) === 10.0)
    // saturated: estimate within the ~1/sqrt(k) band of the true count
    val big = spark.range(20000)
      .select(functions.Md5Hash.h32(concat(lit("b:"), col("id").cast("string"))).as("h"))
    val bigEst = big.agg(expr("graft_kmv(h)")).collect().head.getDouble(0)
    assert(math.abs(bigEst - 20000.0) / 20000.0 < 0.5,
      s"estimate $bigEst too far from 20000")
    // null inputs are ignored, empty input reports 0
    val withNulls = spark.range(10).select(
      when(col("id") < 5,
        functions.Md5Hash.h32(col("id").cast("string"))).as("h"))
    assert(withNulls.filter(col("h").isNull).count() === 5)
    assert(withNulls.agg(expr("graft_kmv(h)")).collect().head.getDouble(0) === 5.0)
    val empty = spark.range(0)
      .select(functions.Md5Hash.h32(col("id").cast("string")).as("h"))
    assert(empty.agg(expr("graft_kmv(h)")).collect().head.getDouble(0) === 0.0)
  }
}

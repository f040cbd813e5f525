package graft

import graft.streaming.StreamNearDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Streaming MinHash-LSH near-dedup: the stateful bucket-claim stream must
  * equal the batch first-claim semantics, persist claims across RUNS via
  * the checkpoint, and actually kill planted near-dup mirrors.
  */
class StreamNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** Batch twin of the stream's greedy first-claim dedup, derived with a
    * window over the SAME banded buckets the batch family computes.
    */
  private def batchLedger(feed: DataFrame): Seq[(String, Long, Long, Long)] = {
    val withSh = dedup.Dedup.withShingles(feed).filter(size($"sh") > 0)
    val sigs = dedup.MinHashLsh.signatures(withSh.select($"doc_id", $"sh"))
    val banded = sigs.select($"doc_id", explode(expr(
      s"""transform(sequence(0, ${dedup.MinHashLsh.Bands - 1}),
         |  b -> struct(CAST(b AS INT) AS band,
         |              md5(concat_ws(',',
         |                transform(slice(sig, b * ${dedup.MinHashLsh.RowsPerBand} + 1,
         |                                ${dedup.MinHashLsh.RowsPerBand}),
         |                          v -> cast(v AS STRING)))) AS bucket))
         |""".stripMargin)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bucket")
    val fresh = banded.withColumn("fresh",
      row_number().over(Window.partitionBy($"band", $"bucket")
        .orderBy($"doc_id")) === 1)
    fresh.groupBy($"doc_id")
      .agg(min(when($"fresh", 1).otherwise(0)).as("keep"))
      .join(feed.select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"keep").cast("bigint").as("n_kept"),
        (count(lit(1)) - sum($"keep")).cast("bigint").as("n_dropped"))
      .orderBy($"lang")
      .as[(String, Long, Long, Long)].collect().toSeq
  }

  test("one-shot stream ledger equals the batch first-claim ledger") {
    val streamed = StreamNearDedup.all("stream_near_dedup")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(streamed == batchLedger(StreamNearDedup.feed(spark, sf)))
  }

  test("RocksDB state store provider: identical ledger (the scale backend)") {
    // the 100 TB state backend: claim state held in RocksDB instead of the
    // in-memory HashMap provider — off-heap, incremental-checkpoint, the
    // deployment answer when horizon-bounded bucket state outgrows executor
    // heaps. Same pipeline, same claims, same ledger, byte for byte.
    val base = tmp("snd-rocksdb")
    StreamNearDedup.feed(spark, sf).write.mode("overwrite").parquet(s"$base/src")
    val ss = streaming.StreamRun.session(spark)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    StreamNearDedup.nearDedup(ss, s"$base/src", s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val rocks = StreamNearDedup.ledger(spark.read.parquet(s"$base/out"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rocks == batchLedger(StreamNearDedup.feed(spark, sf)))
  }

  test("planted mirrors are overwhelmingly dropped (any-band collision)") {
    val ledger = StreamNearDedup.all("stream_near_dedup")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    val mirrors = Tables.documents(spark, sf)
      .filter(pmod($"doc_id", lit(StreamNearDedup.MirrorModulo)) === 0).count()
    val dropped = ledger.map(_._4).sum
    assert(dropped >= (mirrors * 8) / 10,
      s"only $dropped dropped of $mirrors planted mirrors — LSH claims not firing")
  }

  test("claims persist across RUNS: a bucket claimed in run 1 kills run 2's mirror") {
    val src = Files.createTempDirectory("neardedup-src")
    val (out, ckpt) = (tmp("neardedup-out"), tmp("neardedup-ckpt"))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text", $"lang",
      timestamp_seconds(lit(StreamNearDedup.FeedEpochSec)).as("ts"))
    // run 1: originals only
    docs.write.mode("overwrite").parquet(src.resolve("originals").toString)
    StreamNearDedup.nearDedup(streaming.StreamRun.session(spark),
      src.toString + "/*", out, ckpt).awaitTermination()
    // run 2: the mirrors arrive later (one hour of event time — inside the
    // claim horizon, and safely past run 1's watermark so none is late), as
    // a separate catch-up run
    docs.filter(pmod($"doc_id", lit(StreamNearDedup.MirrorModulo)) === 0)
      .withColumn("doc_id", $"doc_id" + lit(StreamNearDedup.MirrorIdOffset))
      .withColumn("text", concat($"text", lit(StreamNearDedup.MirrorSuffix)))
      .withColumn("ts",
        timestamp_seconds(lit(StreamNearDedup.FeedEpochSec + 3600L)))
      .write.mode("overwrite").parquet(src.resolve("mirrors").toString)
    StreamNearDedup.nearDedup(streaming.StreamRun.session(spark),
      src.toString + "/*", out, ckpt).awaitTermination()
    val twoRun = spark.read.parquet(out)
      .groupBy($"doc_id", $"lang")
      .agg(min(when($"fresh", 1).otherwise(0)).as("keep"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"keep").cast("bigint").as("n_kept"),
        (count(lit(1)) - sum($"keep")).cast("bigint").as("n_dropped"))
      .orderBy($"lang")
      .as[(String, Long, Long, Long)].collect().toSeq
    // mirror ids all exceed original ids, so batch order == doc_id order and
    // the two-run ledger must equal the single-batch one
    assert(twoRun == batchLedger(StreamNearDedup.feed(spark, sf)),
      "checkpointed bucket claims must carry across runs")
  }

  test("an out-of-order redelivery cannot rewind a claim's expiry") {
    // the r9 review scenario: under a lateness tolerance, a batch can
    // legally deliver a claim hit OLDER than the stored one; a timeout set
    // from the BATCH max would rewind the expiry below the newest hit's
    // horizon and evict early — the max-seen discipline must hold it
    import java.sql.Timestamp
    val src = Files.createTempDirectory("neardedup-rewind-src")
    val (out, ckpt) = (tmp("neardedup-rewind-out"), tmp("neardedup-rewind-ckpt"))
    val horizonMs = 3600L * 1000L // 1 h claim horizon
    val t0 = StreamNearDedup.FeedEpochSec * 1000L
    val m = 60000L
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    def land(name: String, rows: Seq[(Long, String, String, Timestamp)]): Unit =
      rows.toDF("doc_id", "text", "lang", "ts")
        .write.mode("overwrite").parquet(src.resolve(name).toString)
    def run(): Unit =
      StreamNearDedup.nearDedup(streaming.StreamRun.session(spark),
        src.toString + "/*", out, ckpt, horizonMs,
        watermarkDelay = "30 minutes").awaitTermination()
    // b1: A claims at t0+50m → stored max 50m, expiry t0+110m; wm → t0+20m
    land("b1", Seq((1L, textA, "en", new Timestamp(t0 + 50 * m))))
    run()
    // b2: an out-of-order mirror at t0+25m (>= wm t0+20m — legal under the
    // 30m tolerance — but BELOW the stored 50m hit: the rewind bait; a
    // batch-max timeout would set expiry t0+85m) + a clock at t0+130m
    // (wm → t0+100m, between the rewound and the kept expiry)
    land("b2", Seq((2L, textA, "en", new Timestamp(t0 + 25 * m)),
      (3L, "one two three four five six seven", "en",
        new Timestamp(t0 + 130 * m))))
    run()
    // b3: clock only — no data for A's buckets; a rewound expiry (t0+85m)
    // would time out against wm t0+100m HERE and free the claim; the kept
    // expiry (t0+110m) must survive. wm → t0+105m
    land("b3", Seq((4L, "six seven eight nine ten eleven", "en",
      new Timestamp(t0 + 135 * m))))
    run()
    // b4: redelivery at t0+106m (>= wm, inside the kept horizon): the
    // claim must still be alive and drop it
    land("b4", Seq((9L, textA, "en", new Timestamp(t0 + 106 * m))))
    run()
    val keep = spark.read.parquet(out)
      .groupBy($"doc_id")
      .agg(min(when($"fresh", 1).otherwise(0)).as("keep"))
      .as[(Long, Int)].collect().toMap
    assert(keep(1L) == 1)
    assert(keep(2L) == 0, "the out-of-order mirror finds the claim alive")
    assert(keep(3L) == 1 && keep(4L) == 1, "clock docs are novel")
    assert(keep(9L) == 0,
      "an in-horizon redelivery must still be dropped: an expiry rewound " +
        "to the out-of-order hit's horizon would have evicted the claim")
  }

  test("claims expire with event time: in-horizon mirror dropped, " +
      "past-horizon redelivery kept, state bounded by the recent window") {
    import java.sql.Timestamp
    val src = Files.createTempDirectory("neardedup-evict-src")
    val (out, ckpt) = (tmp("neardedup-evict-out"), tmp("neardedup-evict-ckpt"))
    val horizonMs = 3600L * 1000L // 1 hour claim horizon
    val t0 = StreamNearDedup.FeedEpochSec * 1000L
    val hour = 3600L * 1000L
    // identical text => identical shingles => ALL 8 bands collide, so the
    // drop/keep verdicts below are deterministic, not S-curve-probabilistic
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    def land(name: String, rows: Seq[(Long, String, String, Timestamp)]): Unit =
      rows.toDF("doc_id", "text", "lang", "ts")
        .write.mode("overwrite").parquet(src.resolve(name).toString)
    def run(): Long = {
      val q = StreamNearDedup.nearDedup(streaming.StreamRun.session(spark),
        src.toString + "/*", out, ckpt, horizonMs)
      q.awaitTermination()
      val progress = q.lastProgress
      if (progress != null && progress.stateOperators.nonEmpty)
        progress.stateOperators.head.numRowsTotal
      else -1L
    }
    // batch 1: doc A claims its buckets at t0
    land("b1", Seq((1L, textA, "en", new Timestamp(t0))))
    run()
    // batch 2: (a) an IN-HORIZON mirror of A (30 min later) must be
    // dropped; a clock doc advances the watermark to t0+10h at batch end
    land("b2", Seq(
      (2L, textA, "en", new Timestamp(t0 + hour / 2)),
      (3L, "one two three four five six seven", "en",
        new Timestamp(t0 + 10 * hour))))
    run()
    // batch 3: watermark (t0+10h) is past A's refreshed timeout
    // (t0+30min+1h), so A's claims are evicted during THIS batch — which
    // receives no data for them; the clock doc pushes the watermark on
    land("b3", Seq((4L, "six seven eight nine ten eleven twelve", "en",
      new Timestamp(t0 + 20 * hour))))
    run()
    // batch 4: (b) a PAST-HORIZON redelivery of A's exact content finds
    // its buckets unclaimed and must be kept
    land("b4", Seq((9L, textA, "en", new Timestamp(t0 + 21 * hour))))
    val finalStateRows = run()
    val keep = spark.read.parquet(out)
      .groupBy($"doc_id")
      .agg(min(when($"fresh", 1).otherwise(0)).as("keep"))
      .as[(Long, Int)].collect().toMap
    assert(keep(1L) == 1, "the first claimant is kept")
    assert(keep(2L) == 0, "an in-horizon mirror must be dropped")
    assert(keep(3L) == 1 && keep(4L) == 1, "novel clock docs are kept")
    assert(keep(9L) == 1,
      "a redelivery past the claim horizon must be KEPT (claims expired)")
    // (c) post-expiry state holds only the recent window's claims (the
    // redelivery + the newest clock doc <= 2 docs x 8 bands), not the
    // 5 x 8 = 40 buckets ever claimed
    assert(finalStateRows > 0 && finalStateRows <= 16,
      s"state must be bounded by the horizon window, saw $finalStateRows rows")
  }
}

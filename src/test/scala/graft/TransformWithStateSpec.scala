package graft

import graft.streaming.TransformWithState
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The transformWithState running ledger: checkpointed ValueState/MapState
  * must CONTINUE across separate runs — a two-run split of the feed must
  * produce the same ledger as the one-shot entry (seq_no keeps counting,
  * cum_v keeps summing, per-type MapState counters keep incrementing).
  */
class TransformWithStateSpec extends SparkSpec {
  import spark.implicits._

  test("ledger state continues across runs, equals the batch window twin") {
    val src = Files.createTempDirectory("tws-src")
    val out = Files.createTempDirectory("tws-out").toString
    val ckpt = Files.createTempDirectory("tws-ckpt").toString
    val feed = Tables.events(spark, sf)
      .filter($"user_id".isNotNull)
      .select($"event_id", $"user_id",
        coalesce($"event_type", lit("(null)")).as("event_type"),
        floor($"value").cast("long").as("v"))
    val cut = feed.select(expr("percentile(event_id, 0.5)")).head.getDouble(0)
    // run 1: first half of the event history
    feed.filter($"event_id" <= cut)
      .write.mode("overwrite").parquet(src.resolve("h1").toString)
    TransformWithState.runningLedger(streaming.StreamRun.session(spark),
      src.toString + "/*", out, ckpt).awaitTermination()
    // run 2: the rest arrives later (all ids above run 1's — within-batch
    // event_id ordering therefore equals global ordering)
    feed.filter($"event_id" > cut)
      .write.mode("overwrite").parquet(src.resolve("h2").toString)
    TransformWithState.runningLedger(streaming.StreamRun.session(spark),
      src.toString + "/*", out, ckpt).awaitTermination()
    val twoRun = spark.read.parquet(out)
      .select($"event_id", $"user_id", $"seq_no", $"cum_v", $"type_seen")
    // the batch window twin over the whole feed
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy($"user_id").orderBy($"event_id")
    val wUT = Window.partitionBy($"user_id", $"event_type").orderBy($"event_id")
    val expected = feed
      .withColumn("seq_no", row_number().over(wU).cast("long"))
      .withColumn("cum_v", sum($"v").over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("type_seen", row_number().over(wUT).cast("long"))
      .select($"event_id", $"user_id", $"seq_no", $"cum_v", $"type_seen")
    assert(twoRun.count() === expected.count())
    assert(twoRun.exceptAll(expected).isEmpty &&
        expected.exceptAll(twoRun).isEmpty,
      "checkpointed ValueState + MapState must continue counting across runs")
  }

  test("checkpointed event-time timers fire in a LATER run") {
    import java.sql.Timestamp
    val gap = TransformWithState.SessionGapMs
    val src = Files.createTempDirectory("tws-timer-src")
    val out = Files.createTempDirectory("tws-timer-out").toString
    val ckpt = Files.createTempDirectory("tws-timer-ckpt").toString
    val t0 = 1700000000000L
    def land(name: String, rows: Seq[(Long, Long, Timestamp)]): Unit =
      rows.toDF("event_id", "user_id", "ts")
        .write.mode("overwrite").parquet(src.resolve(name).toString)
    def run(): Unit =
      TransformWithState.sessionTimeout(streaming.StreamRun.session(spark),
        src.toString + "/*", out, ckpt).awaitTermination()
    // run 1: user 1 has a 2-event session; nothing can emit yet (the
    // watermark sits at the session's own end)
    land("b1", Seq((1L, 1L, new Timestamp(t0)),
      (2L, 1L, new Timestamp(t0 + 60000L))))
    run()
    assert(spark.read.parquet(out).count() === 0,
      "no timer can fire while the watermark sits at the session end")
    // run 2: only ANOTHER user's activity arrives, far in the future —
    // user 1's session must be emitted by its checkpointed TIMER, with no
    // user-1 row in the batch
    land("b2", Seq((3L, 2L, new Timestamp(t0 + 10 * gap))))
    run()
    val rows = spark.read.parquet(out)
      .select($"user_id", $"start_ms", $"end_ms", $"n_events", $"closed_by")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(rows === Set((1L, t0, t0 + 60000L, 2L, "timeout")),
      s"expected exactly user 1's timer-closed session, got $rows")
  }
}

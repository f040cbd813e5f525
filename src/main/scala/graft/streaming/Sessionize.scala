package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** User-session assembly over the events stream — the stateful-operator
  * extension (the reference has no session concept; a usage pipeline at
  * scale needs one, and it exercises Spark's two session mechanisms).
  *
  * Two implementations, deliberately:
  *  - [[sessions]]: the declarative `session_window` aggregate (Spark-first:
  *    Catalyst plans the merge, AQE handles skew) — batch, oracle-checked
  *    against a gaps-and-islands SQL twin.
  *  - [[streamSessions]]: `flatMapGroupsWithState` with explicit per-user
  *    state and event-time timeout — the custom-state shape for logic a
  *    windowed aggregate cannot express (per-session ML features, abandoned-
  *    cart triggers, ...). Closed sessions emit on gap or watermark timeout.
  *
  * Gap: 30 minutes. session_end = last event + gap (both paths, and the
  * oracle). Values are summed as DECIMAL(12,2): float sums are
  * order-dependent across engines; decimal addition is exact and
  * associative, so the oracle hash-compare stays deterministic.
  *
  * Scale notes: both paths shuffle once on user_id; state (streaming) is one
  * open session per active user, bounded by the watermark horizon.
  */
object Sessionize {

  val GapMinutes = 30

  /** Batch sessionization via the built-in session_window aggregate. */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(session_window($"ts", s"$GapMinutes minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        // exact decimal accumulation, double on the wire (pandas Decimal vs
        // DuckDB float64 otherwise hash-mismatch; sums ≪ 2^53 so exact)
        sum($"value".cast("decimal(12,2)")).cast("double").as("total_value"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  val oracle: Map[String, String] = Map(
    "etl_sessionize" -> s"""WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL $GapMinutes MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
ids AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL $GapMinutes MINUTE AS session_end,
       count(*)::BIGINT AS n_events,
       sum(value::DECIMAL(12,2))::DOUBLE AS total_value
FROM ids GROUP BY user_id, session_id
ORDER BY user_id, session_start""",

    "stream_sessions" -> s"""WITH e AS (
  SELECT user_id, ts, value FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
cutoff AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
-- the engine's watermark and timeout are ms-grained (floor of micros);
-- the emission rule mirrors that floor exactly rather than comparing
-- full-precision micros
marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL $GapMinutes MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e),
ids AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked),
sess AS (
  SELECT user_id, session_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL $GapMinutes MINUTE AS session_end,
         count(*)::BIGINT AS n_events,
         sum((value::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS total_cents
  FROM ids GROUP BY user_id, session_id)
SELECT user_id,
       epoch_us(session_start) AS session_start_t,
       epoch_us(session_end) AS session_end_t,
       n_events, total_cents
FROM sess CROSS JOIN cutoff
QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
   OR epoch_us(session_end) // 1000 < epoch_us(w) // 1000
ORDER BY user_id, session_start_t""")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_sessionize" -> (sessions _),
    "stream_sessions" -> (sessionsEntry _))

  // ---- custom-state streaming variant ----

  /** Event/state/output rows for the custom-state path. Times are epoch
    * MICROS longs end to end: the events table carries sub-ms timestamps,
    * and `java.sql.Timestamp.getTime`'s ms truncation would silently move
    * session boundaries off the oracle's full-precision arithmetic.
    */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class Session(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, total_value: Double)

  private val gapUs = GapMinutes * 60 * 1000000L

  /** Per-user session assembly: merge in-gap events into the open session,
    * emit a closed session whenever a gap or the event-time timeout passes.
    */
  private[graft] def assemble(userId: Long, events: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[Session] = {
    def close(s: SessionState) = Session(userId, s.start, s.last + gapUs,
      s.n, s.total)
    if (state.hasTimedOut) {
      val out = state.getOption.map(close).iterator
      state.remove()
      out
    } else {
      val sorted = events.toSeq.sortBy(_.ts_us)
      var open = state.getOption
      val closed = Seq.newBuilder[Session]
      for (e <- sorted) {
        val t = e.ts_us
        open match {
          // half-open like session_window: an event exactly gap after the
          // last one starts a NEW session
          case Some(s) if t - s.last < gapUs =>
            open = Some(SessionState(s.start, math.max(s.last, t), s.n + 1,
              s.total + e.value))
          case Some(s) =>
            closed += close(s)
            open = Some(SessionState(t, t, 1, e.value))
          case None =>
            open = Some(SessionState(t, t, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        // the timeout API is ms-grained; the oracle mirrors this floor
        state.setTimeoutTimestamp((s.last + gapUs) / 1000)
      }
      closed.result().iterator
    }
  }

  /** End-to-end oracle-checked run of [[streamSessions]] — the
    * `flatMapGroupsWithState` custom-state path driven to a hash-compared
    * output (it was spec-only before this entry; the sibling entries in
    * [[IncrementalIngest]] cover the declarative stateful operators).
    *
    * Two determinism moves make custom state oracle-comparable:
    *  - values land PRE-SCALED to cents as integer-valued doubles, so the
    *    assembler's sequential double accumulation is exact integer
    *    arithmetic (order-proof) and the sink emits `total_cents` BIGINT;
    *  - the oracle twin replays the gaps-and-islands sessionization AND
    *    the append-mode emission rule: a user's FINAL session emits only
    *    via event-time timeout, i.e. only if the end-of-stream watermark
    *    (max ts − 1 h) passed strictly beyond session_end — so the
    *    timeout semantics themselves are hash-verified, exactly like
    *    `stream_windowed_counts` verifies window eviction.
    *
    * Timestamps go to the wire as epoch micros (repo parity convention).
    */
  def sessionsEntry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // no skipNoDataBatches: a user's final session emits only via
    // the event-time timeout in the watermark-advance batch
    val run = StreamRun(spark, "graft-stream-sess", dir) { (ss, r) =>
      streamSessions(ss, IncrementalIngest.landedEvents(spark, dir), r.out,
        r.ckpt,
        prep = df => df
          .filter($"user_id".isNotNull && $"ts".isNotNull)
          .select($"event_id", $"ts", $"user_id", $"event_type",
            ($"value".cast("decimal(12,2)") * 100).cast("double")
              .as("value"),
            $"props"))
    }
    spark.read.parquet(run.out)
      .select($"user_id",
        $"session_start_us".as("session_start_t"),
        $"session_end_us".as("session_end_t"),
        $"n_events", $"total_value".cast("long").as("total_cents"))
      .orderBy($"user_id", $"session_start_t")
  }

  /** Streaming sessionizer over a watched directory of event files. */
  def streamSessions(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String,
      prep: DataFrame => DataFrame = identity): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    // `prep` is the entry's feed projection applied IN-STREAM (null
    // filter, cents scaling) so the entry can read the shared landed
    // events feed instead of landing its own copy; specs pass identity
    StreamRun.parquet(prep(spark.readStream.schema(schema).parquet(srcDir))
      .withWatermark("ts", "1 hour")
      // the watermarked TIMESTAMP column must survive into the
      // flatMapGroupsWithState input (the event-time-timeout checker
      // requires it); the assembler itself reads only the micros twin
      .select($"user_id", $"ts", unix_micros($"ts").as("ts_us"), $"value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(assemble), outDir, checkpointDir)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues}

/** Spark 4's `transformWithState` — the arbitrary-state API that supersedes
  * `mapGroupsWithState` — driven end-to-end and oracle-checked: a per-user
  * running ledger holding TWO typed state variables, a `ValueState` (the
  * user's cumulative event count + value sum) and a `MapState` (per
  * event-type occurrence counters), both persisted in the RocksDB state
  * store the operator requires.
  *
  * Why this API at 100 TB/day: unlike `flatMapGroupsWithState`'s single
  * opaque state object, `transformWithState` state variables are
  * independently encoded columns in the store — a MapState entry is read
  * and written per KEY TOUCHED, not per user, so a user with 40 event
  * types pays for the one type the batch touches instead of
  * deserializing/reserializing the whole 40-entry blob each micro-batch.
  * Per-variable `TTLConfig` gives the eviction contract
  * [[StreamNearDedup]] builds by hand with timers; timers and initial
  * state are first-class. The ledger here keeps `TTLConfig.NONE`
  * deliberately: its state is bounded by the USER dimension (plus the
  * small per-user type map), not by corpus size — the scale argument is
  * different from the near-dedup bucket claims, which grow with content
  * diversity and therefore DO need the horizon.
  *
  * Determinism: rows within a micro-batch are processed in `event_id`
  * order inside the processor, so (seq_no, cum_v, type_seen) equal the
  * batch window functions `row_number()/sum() OVER (... ORDER BY
  * event_id)` PROVIDED arrival is id-monotone per user across batches —
  * a later batch must not deliver a lower event_id than one already
  * processed (TimeMode.None has no late filter to enforce it; an
  * id-ordered feed like this entry's single landing, or the spec's
  * ordered split, satisfies it; an out-of-order producer would need an
  * event-time mode instead). TransformWithStateSpec proves the ordered
  * two-batch run equals the one-batch run equals the oracle.
  */
object TransformWithState {

  /** One event entering the ledger (value floored to a long — the repo's
    * integer-exactness rule for cross-engine sums).
    */
  case class EventIn(event_id: Long, user_id: Long, event_type: String, v: Long)

  /** One ledger row out: the user's running totals AFTER this event. */
  case class LedgerOut(event_id: Long, user_id: Long, seq_no: Long,
      cum_v: Long, type_seen: Long)

  /** Cumulative (count, sum) — the ValueState payload. */
  case class Totals(n: Long, s: Long)

  /** The stateful processor. `@transient` state handles are re-acquired in
    * `init` on each executor; only the (stateless) class itself ships.
    */
  class RunningLedger extends StatefulProcessor[Long, EventIn, LedgerOut] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[Totals] = _
    @transient private var perType: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[Totals]("totals",
        Encoders.product[Totals], TTLConfig.NONE)
      perType = getHandle.getMapState[String, Long]("perType",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timers: TimerValues): Iterator[LedgerOut] = {
      var t = if (totals.exists()) totals.get() else Totals(0L, 0L)
      val out = rows.toArray.sortBy(_.event_id).map { e =>
        t = Totals(t.n + 1, t.s + e.v)
        val seen = (if (perType.containsKey(e.event_type))
          perType.getValue(e.event_type) else 0L) + 1L
        perType.updateValue(e.event_type, seen)
        LedgerOut(e.event_id, key, t.n, t.s, seen)
      }
      totals.update(t)
      out.iterator
    }
  }

  /** The streaming query: file source → keyed ledger → parquet sink.
    * RocksDB is the state-store provider `transformWithState` requires —
    * set on the (cloned) streaming session only.
    */
  def runningLedger(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String,
      schema: String = "event_id BIGINT, user_id BIGINT, event_type STRING, v BIGINT",
      prep: DataFrame => DataFrame = identity): StreamingQuery = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    // (schema, prep) let the entry stream the SHARED landed events feed
    // and project the ledger's 4 columns in-stream (column pruning keeps
    // the scan identical); specs land the 4-column shape directly
    StreamRun.parquet(prep(spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(srcDir))
      .as[EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningLedger, TimeMode.None(),
        OutputMode.Append()), outDir, checkpointDir)
  }

  /** The ledger feed: events with a non-null user, value floored to a
    * long, null types normalized (nullable STRING group keys would decay
    * in the driver compare).
    */
  private[graft] def feed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .filter($"user_id".isNotNull)
      .select($"event_id", $"user_id",
        coalesce($"event_type", lit("(null)")).as("event_type"),
        floor($"value").cast("long").as("v"))
  }

  /** End-to-end oracle-checked entry: land the feed, run the ledger stream
    * to termination, read the sink back in total order.
    */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    // TimeMode.None, no timers: every ledger row emits in its data
    // batch — the trailing no-data batch has nothing to release
    val run = StreamRun(spark, "graft-stream-tws", dir,
        skipNoDataBatches = true) { (ss, r) =>
      runningLedger(ss, IncrementalIngest.landedEvents(spark, dir), r.out,
        r.ckpt,
        schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING",
        prep = df => df
          .filter(col("user_id").isNotNull)
          .select(col("event_id"), col("user_id"),
            coalesce(col("event_type"), lit("(null)")).as("event_type"),
            floor(col("value")).cast("long").as("v")))
    }
    import spark.implicits._
    spark.read.parquet(run.out)
      .select($"event_id", $"user_id", $"seq_no", $"cum_v", $"type_seen")
      .orderBy($"event_id")
  }

  // ───────────────────────── session timeout via TIMERS ────────────────

  /** Inactivity gap that closes a session — ONE definition, both engines. */
  val SessionGapMs: Long = 30L * 60L * 1000L

  case class SessEvent(event_id: Long, user_id: Long, ms: Long)
  case class SessOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, closed_by: String)
  case class Sess(start: Long, last: Long, n: Long, timer: Long)

  /** Event-time TIMERS driven end-to-end (`registerTimer` /
    * `handleExpiredTimer` — the transformWithState feature
    * `flatMapGroupsWithState` approximates with its single per-group
    * timeout): per-user sessionization where gap-splits inside the data
    * close sessions inline, and the LAST open session is closed by a
    * timer that fires when the watermark passes `last activity + gap` —
    * emission WITHOUT a triggering row, which no data-driven operator can
    * express. A user whose final activity sits within one gap of the
    * corpus watermark keeps an open (unemitted) session — exactly the
    * streaming answer's difference from batch sessionization, and the
    * DuckDB twin states it as a predicate.
    */
  class SessionTimeout extends StatefulProcessor[Long, SessEvent, SessOut] {
    @transient private var sess: org.apache.spark.sql.streaming.ValueState[Sess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[Sess]("sess",
        Encoders.product[Sess], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessEvent],
        timers: TimerValues): Iterator[SessOut] = {
      val sorted = rows.toArray.sortBy(e => (e.ms, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      var cur: Option[(Long, Long, Long)] =
        if (sess.exists()) {
          val s = sess.get()
          getHandle.deleteTimer(s.timer) // superseded by this batch's data
          Some((s.start, s.last, s.n))
        } else None
      sorted.foreach { e =>
        cur = cur match {
          case Some((st, last, n)) if e.ms - last > SessionGapMs =>
            out += SessOut(user, st, last, n, "gap")
            Some((e.ms, e.ms, 1L))
          case Some((st, _, n)) => Some((st, e.ms, n + 1L))
          case None => Some((e.ms, e.ms, 1L))
        }
      }
      val (st, last, n) = cur.get
      val expiry = last + SessionGapMs
      getHandle.registerTimer(expiry)
      sess.update(Sess(st, last, n, expiry))
      out.iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessOut] =
      if (sess.exists() && sess.get().timer == info.getExpiryTimeInMs) {
        val s = sess.get()
        sess.clear()
        Iterator.single(SessOut(user, s.start, s.last, s.n, "timeout"))
      } else Iterator.empty
  }

  def sessionTimeout(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String,
      schema: String = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP",
      prep: DataFrame => DataFrame = identity): StreamingQuery = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    // (schema, prep): same shared-feed seam as [[runningLedger]]
    StreamRun.parquet(prep(spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(srcDir))
      .withWatermark("ts", "0 seconds")
      .selectExpr("event_id", "user_id", "unix_millis(ts) AS ms", "ts")
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .map { case (id, uid, ms, _) => SessEvent(id, uid, ms) }
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeout, TimeMode.EventTime(),
        OutputMode.Append()), outDir, checkpointDir)
  }

  def sessionEntry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // no skipNoDataBatches: sessions close via TIMERS firing in the
    // watermark-advance batch — skipping it would empty the sink
    val run = StreamRun(spark, "graft-stream-tws-sess", dir) { (ss, r) =>
      sessionTimeout(ss, IncrementalIngest.landedEvents(spark, dir), r.out,
        r.ckpt,
        schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING",
        prep = df => df
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts")))
    }
    spark.read.parquet(run.out)
      .select($"user_id", $"start_ms", $"end_ms", $"n_events",
        $"closed_by")
      .orderBy($"user_id", $"start_ms")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_tws_ledger" -> (entry _),
    "stream_tws_session_timeout" -> (sessionEntry _))

  /** DuckDB twin: the running ledger IS three windows over the closed
    * input — per-user row_number and running sum, per-(user, type)
    * row_number — all ordered by the same event_id the processor sorts by.
    */
  val oracle: Map[String, String] = Map(
    // gaps-and-islands sessionization; the streaming difference is the
    // WHERE clause — a user's LAST session only emits if its timer
    // (end + gap) fired, i.e. lies strictly below the corpus watermark
    "stream_tws_session_timeout" -> s"""WITH feed AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
mx AS (SELECT max(ms) AS wm FROM feed),
brk AS (
  SELECT user_id, event_id, ms,
         CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id
                                      ORDER BY ms, event_id)
                   > $SessionGapMs THEN 1 ELSE 0 END AS b
  FROM feed),
sess AS (
  SELECT user_id, ms,
         sum(b) OVER (PARTITION BY user_id ORDER BY ms, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM brk),
agg AS (
  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
         count(*)::BIGINT AS n_events
  FROM sess GROUP BY 1, 2),
lastsid AS (
  SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY 1)
SELECT a.user_id, a.start_ms, a.end_ms, a.n_events,
       CASE WHEN a.sid = l.last_sid THEN 'timeout' ELSE 'gap' END
         AS closed_by
FROM agg a JOIN lastsid l USING (user_id), mx
WHERE a.sid < l.last_sid OR a.end_ms + $SessionGapMs < mx.wm
ORDER BY a.user_id, a.start_ms""",

    "stream_tws_ledger" -> """WITH feed AS (
  SELECT event_id, user_id,
         coalesce(event_type, '(null)') AS event_type,
         floor(value)::BIGINT AS v
  FROM events WHERE user_id IS NOT NULL)
SELECT event_id, user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY event_id)::BIGINT
         AS seq_no,
       (sum(v) OVER (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         AS cum_v,
       row_number() OVER (PARTITION BY user_id, event_type
                          ORDER BY event_id)::BIGINT AS type_seen
FROM feed
ORDER BY event_id""")
}

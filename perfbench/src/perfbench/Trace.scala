package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span. `counters` holds what the listeners attributed to
  * this span directly (not to its children); codegen deltas are inclusive.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val runId: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
}

/** Spans around the benchmark's calls into the program, plus the Spark
  * listeners that attribute jobs, tasks, planner phases and streaming
  * progress to them. A span is recorded only while `active`; the listeners
  * are attached for traced rounds only and the bus is drained before they
  * are detached, so no event of a traced round is lost.
  *
  * Attribution: every job carries the id of the innermost open span as a
  * local property (a stream's thread inherits it from the span that
  * started the stream); planner phases go to the innermost span open at
  * the phase's start time; streaming progress goes to the span that
  * started the query.
  */
final class Tracer(val runId: String) {
  val Key = "perfbench.span"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var session: SparkSession = _
  @volatile var active = false
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val streamSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def add(spanId: Int, key: String, v: Double): Unit = synchronized {
    if (spanId >= 0 && spanId < spans.size) {
      val c = spans(spanId).counters
      c(key) = c.getOrElse(key, 0.0) + v
    }
  }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit = if (active) add(current, key, v)

  def current: Int = stack.headOption.map(_.id).getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, current, name, runId, System.nanoTime(),
          System.currentTimeMillis())
        spans += s
        s
      }
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = CodeGenerator.compileTime
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        add(s.id, "codegen.compiles",
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble)
        add(s.id, "codegen.compile_s", (CodeGenerator.compileTime - t0) / 1e9)
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Ties a started streaming query to the current span. */
  def stream(runUuid: java.util.UUID): Unit =
    if (active) streamSpan.put(runUuid.toString, current)

  /** Innermost span open at wall-clock `ms` (planner phases carry only
    * epoch-ms times).
    */
  private def spanAt(ms: Long): Int = synchronized {
    var best = -1
    spans.foreach { s =>
      if (s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs)) best = s.id
    }
    best
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(-1)

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s >= 0) {
        add(s, "exec.jobs", 1)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val m = e.taskMetrics
      if (s >= 0 && m != null) {
        add(s, "exec.tasks", 1)
        add(s, "exec.task_cpu_s", m.executorCpuTime / 1e9)
        add(s, "exec.gc_s", m.jvmGCTime / 1e3)
        add(s, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, "io.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val Phases = Map("analysis" -> "catalyst.analyze_s",
    "optimization" -> "catalyst.optimize_s", "planning" -> "catalyst.plan_s")

  private object phases extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        Phases.get(phase).foreach(key => add(spanAt(p.startTimeMs), key, p.durationMs / 1e3))
      }
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val s = Option(streamSpan.get(p.runId.toString)).map(_.intValue).getOrElse(-1)
      if (s >= 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        add(s, "streaming.trigger_s", d.getOrElse("triggerExecution", 0.0))
        add(s, "streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
        add(s, "streaming.wal_commit_s", d.getOrElse("walCommit", 0.0))
        add(s, "streaming.commit_offsets_s", d.getOrElse("commitOffsets", 0.0))
        add(s, "streaming.query_planning_s", d.getOrElse("queryPlanning", 0.0))
        add(s, if (p.numInputRows > 0) "streaming.micro_batches"
          else "streaming.no_data_batches", 1)
        add(s, "streaming.rows_in", p.numInputRows.toDouble)
        p.stateOperators.foreach { op =>
          add(s, "streaming.state_commit_s", op.commitTimeMs / 1e3)
          add(s, "streaming.late_dropped", op.numRowsDroppedByWatermark.toDouble)
          add(s, "streaming.dups_dropped",
            op.customMetrics.asScala.get("numDroppedDuplicateRows")
              .map(_.doubleValue).getOrElse(0.0))
          synchronized { spans(s).counters("streaming.state_rows") = op.numRowsTotal.toDouble }
        }
      }
    }
  }

  def bind(spark: SparkSession): Unit = {
    session = spark
    sc = spark.sparkContext
  }

  /** Start a traced stretch: attach the listeners. */
  def attach(): Unit = {
    sc.addSparkListener(jobs)
    session.listenerManager.register(phases)
    session.streams.addListener(streams)
    active = true
  }

  /** End a traced stretch: deliver every pending event, then detach. */
  def detach(): Unit = {
    active = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobs)
    session.listenerManager.unregister(phases)
    session.streams.removeListener(streams)
  }
}

package perfbench

import graft.{Memos, SparkEntry}
import graft.streaming.IncrementalIngest
import graft.warehouse.Warehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** JVM side of the benchmark: one workload, one client, one session at a
  * time. It sets up `setup_reps` times, each a fresh session, a warm-up
  * job and a lookup of its queries in the program's registry, keeping the
  * last session; then times rounds, by the wall clock and by the CPU
  * time of the program's work ([[Harness.cpuNs]]), until `seconds` have
  * passed and at least `min_rounds` (at most `max_rounds`) are done; then
  * writes `out` (JSON) with every timing, span, failure and output dump
  * for the correctness gate in run.py.
  *
  * Arguments are `key=value` pairs; see run.py for the full list.
  */
object Harness {

  final case class OpRec(name: String, round: Int, seconds: Double, cpuS: Double)
  final case class RoundRec(round: Int, traced: Boolean, seconds: Double, cpuS: Double,
      jitS: Double, gcS: Double)

  /** Arrival files per micro-batch of the pipeline's catch-up: 6,000 rows. */
  val PassFilesPerTrigger = 6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val NsPerTick = 10000000L // USER_HZ = 100

  /** CPU time of the JVM's JIT compiler threads and of its GC threads, in
    * nanoseconds, from /proc (ThreadMXBean does not see them). Both kinds
    * live as long as the JVM once started: run.py turns the dynamic count
    * of compiler threads off, and G1 never ends a GC thread it started.
    */
  def jvmThreadsNs(): (Long, Long) = {
    var jit, gc = 0L
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.foreach { t =>
      try {
        val st = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        lazy val ns = {
          val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * NsPerTick // utime + stime
        }
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")) jit += ns
        else if (name.startsWith("GC Thread") || name.startsWith("G1 ")) gc += ns
      } catch { case _: Throwable => } // the thread ended meanwhile
    }
    (jit, gc)
  }

  /** (CPU time of the program's work, of the JIT compilers, of GC), in
    * nanoseconds since JVM start. The program's work is every thread of
    * the JVM (Spark's driver, tasks, listeners) but the JIT compiler and GC
    * threads. The compilers' queue never empties here, so their CPU time
    * follows the wall clock, host stalls included, more than the program;
    * G1's concurrent cycles start at a heap level, so one round carries a
    * cycle and the next does not.
    */
  def cpuNs(): (Long, Long, Long) = {
    val (jit, gc) = jvmThreadsNs()
    (osBean.getProcessCpuTime - jit - gc, jit, gc)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val h = new Harness(a)
    val status = try { h.run(jvmStartMs); 0 }
    catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(status)
  }
}

final class Harness(a: Map[String, String]) {
  import Harness._

  private val workload = a("workload")
  private val data = a("data")
  private val arrivals = a("arrivals")
  private val work = a("work")
  private val dumpDir = a("dumps")
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cpus = a("cpus").toInt
  private val queries = a("queries").split(",").toSeq
  private val setupReps = a("setup_reps").toInt
  private val minRounds = a("min_rounds").toInt
  private val maxRounds = a("max_rounds").toInt

  private val tracer = new Tracer(s"$workload-${a("seed")}-${System.currentTimeMillis}")
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val rounds = mutable.ArrayBuffer.empty[RoundRec]
  private val failures = mutable.ArrayBuffer.empty[(String, String)]
  private val dumps = mutable.LinkedHashMap.empty[String, (Long, Long)]
  /** Outputs of the current round, recorded after its clock stops. */
  private val pending = mutable.ArrayBuffer.empty[(String, DataFrame, Array[Row])]
  private var stagedDir = ""
  private var attempted = 0
  private var round = 0

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.bind(s)
    s
  }

  // ---- outputs -----------------------------------------------------------

  /** Collects `df` as the timed part of an operation; the canonical dump and
    * digest are made after the clock stops, in [[record]].
    */
  private def query(spark: SparkSession, name: String, dir: String): Option[(DataFrame, Array[Row])] = {
    attempted += 1
    try {
      val df = tracer.span("driver.construct")(SparkEntry.queries(name)(spark, dir))
      val rows = tracer.span("execute")(df.collect())
      Some((df, rows))
    } catch { case e: Throwable => fail(name, e); None }
  }

  private def fail(name: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(3).mkString(" | ")
    failures += name -> s"${e.getClass.getSimpleName}: $msg"
  }

  /** First output under `name` is dumped as JSON lines for the oracle; every
    * later output under the same name must have the same row multiset.
    */
  private def record(name: String, df: DataFrame, rows: Array[Row]): Unit = {
    val lines = rows.iterator.map(r => Json.row(r)).toArray
    var sum = 0L
    lines.foreach(l => sum += scala.util.hashing.MurmurHash3.stringHash(l).toLong * 0x9E3779B97F4A7C15L)
    val digest = (lines.length.toLong, sum)
    dumps.get(name) match {
      case None =>
        dumps(name) = digest
        val w = new PrintWriter(new File(s"$dumpDir/$name.jsonl"), "UTF-8")
        try {
          w.println(Json.arr(df.schema.fieldNames.toSeq.map(Json.str)))
          lines.foreach(w.println)
        } finally w.close()
      case Some(d) if d != digest =>
        failures += (name -> (s"round $round output differs from its first run " +
          s"(${d._1} rows vs ${digest._1})"))
      case _ =>
    }
  }

  private def timedQuery(spark: SparkSession, name: String, dir: String): Unit = {
    val c0 = cpuNs()._1
    val t0 = System.nanoTime()
    val res = tracer.span(name)(query(spark, name, dir))
    val dt = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs()._1 - c0) / 1e9
    res.foreach { case (df, rows) =>
      ops += OpRec(name, round, dt, cpu)
      pending += ((name, df, rows))
    }
  }

  // ---- workloads ---------------------------------------------------------

  private def linkStatic(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    new File(data).listFiles().filter(f => f.getName.endsWith(".parquet") &&
      f.getName != "events.parquet").foreach { f =>
      Files.createSymbolicLink(Paths.get(dir, f.getName), f.toPath.toRealPath())
    }
  }

  private val passQueries: Seq[String] =
    graft.analytics.Queries.all.keys.toSeq
      .filter(n => n.matches("^q\\d\\d_.*") && !n.endsWith("_report") || n.startsWith("mv_"))
      .sorted
  private def passDir = s"$work/pass"

  /** The reference pipeline, once, cold: stage the arrival files as one
    * AvailableNow catch-up, cleanse + quarantine the staged feed, build the
    * warehouse through the memo the queries use, then q01–q12 and the
    * three matview dumps. Later rounds are analyst rounds over the same
    * warehouse.
    */
  private def pipelinePass(spark: SparkSession): Unit = {
    val dir = passDir
    tracer.span("pass") {
      attempted += 1
      try tracer.span("stage") {
        val q = tracer.span("streaming.start")(IncrementalIngest.stage(spark, arrivals,
          s"$dir/events.parquet", s"$dir/_checkpoint", Some(PassFilesPerTrigger)))
        tracer.stream(q.runId)
        q.awaitTermination()
      } catch { case e: Throwable => fail("stage", e) }
      Seq(("etl_cleanse", "ingest.cleanse", "ingest.rows_kept"),
          ("etl_quarantine", "ingest.quarantine", "ingest.rows_quarantined")).foreach {
        case (n, span, rowsKey) =>
          tracer.span(span) {
            query(spark, n, dir).foreach { case (df, rows) =>
              tracer.count(rowsKey, rows.length)
              pending += ((n, df, rows))
            }
          }
      }
      attempted += 1
      try tracer.span("warehouse.build")(Warehouse.forDir(spark, dir))
      catch { case e: Throwable => fail("warehouse.build", e) }
      passQueries.foreach { n =>
        tracer.span(n)(query(spark, n, dir)).foreach { case (df, rows) =>
          pending += ((n, df, rows))
        }
      }
    }
    stagedDir = s"$dir/events.parquet"
  }

  /** Loads the scheduler, codegen and parquet paths every workload uses, so
    * the first timed round pays the program's own first-time costs only.
    */
  private def warmSpark(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").collect()
    // the program's registry: builds every module's query map
    val registry = SparkEntry.queries
    queries.filterNot(registry.contains).foreach(q => sys.error(s"unknown query $q"))
  }

  /** One timed round. */
  private def runRound(spark: SparkSession): Unit = workload match {
    case "pipeline" if round == 0 => pipelinePass(spark)
    case "pipeline" => queries.foreach(timedQuery(spark, _, passDir))
    case "curation" =>
      Memos.newGeneration()
      queries.foreach(timedQuery(spark, _, data))
    case other => sys.error(s"unknown workload $other")
  }

  // ---- main loop ----------------------------------------------------------

  def run(jvmStartMs: Long): Unit = {
    Files.createDirectories(Paths.get(dumpDir))
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until setupReps).foreach { r =>
      // the first repetition counts from JVM start
      val t0 = if (r == 0) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
        else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      warmSpark(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    if (workload == "pipeline") linkStatic(passDir)

    val loadStart = loadavg()
    val t0 = System.nanoTime()
    while (round < maxRounds &&
        (round < minRounds || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val tracedRound = traced && round % 2 == 0
      if (tracedRound) tracer.attach()
      val (c0, j0, g0) = cpuNs()
      val r0 = System.nanoTime()
      tracer.span("round")(runRound(spark))
      val dt = (System.nanoTime() - r0) / 1e9
      val (c1, j1, g1) = cpuNs()
      if (tracedRound) tracer.detach()
      rounds += RoundRec(round, tracedRound, dt, (c1 - c0) / 1e9, (j1 - j0) / 1e9,
        (g1 - g0) / 1e9)
      pending.foreach { case (n, df, rows) => record(n, df, rows) }
      pending.clear()
      round += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val loadEnd = loadavg()

    val oracle = dumps.keys.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.ui")
    }
    spark.stop() // drains the listener bus
    val rssMb = peakRssMb()

    val w = new PrintWriter(new File(a("out")), "UTF-8")
    try w.print(Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "timed_s" -> Json.num(timedS),
      "attempted" -> Json.num(attempted),
      "rounds" -> Json.arr(rounds.map(r => Json.obj(Seq("round" -> Json.num(r.round),
        "traced" -> Json.bool(r.traced), "seconds" -> Json.num(r.seconds),
        "cpu_s" -> Json.num(r.cpuS), "jit_cpu_s" -> Json.num(r.jitS),
        "gc_cpu_s" -> Json.num(r.gcS))))),
      "ops" -> Json.arr(ops.map(o => Json.obj(Seq("name" -> Json.str(o.name),
        "round" -> Json.num(o.round), "seconds" -> Json.num(o.seconds),
        "cpu_s" -> Json.num(o.cpuS))))),
      "failures" -> Json.arr(failures.map { case (n, m) =>
        Json.obj(Seq("name" -> Json.str(n), "error" -> Json.str(m))) }),
      "dumps" -> Json.arr(dumps.keys.toSeq.map(Json.str)),
      "oracle" -> Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "staged_dir" -> Json.str(stagedDir),
      "peak_rss_mb" -> Json.num(rssMb),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(loadEnd),
      "confs" -> Json.obj(confs.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1 << 20)),
      "run_id" -> Json.str(tracer.runId),
      "spans" -> Json.arr(tracer.spans.toSeq.map { s =>
        Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
          "name" -> Json.str(s.name), "run_id" -> Json.str(s.runId),
          "start_ns" -> Json.num(s.startNs - t0), "end_ns" -> Json.num(s.endNs - t0),
          "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) =>
            k -> Json.num(v) })))
      })
    ))) finally w.close()
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => 0.0 }
}

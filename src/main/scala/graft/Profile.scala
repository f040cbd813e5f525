package graft

import org.apache.spark.sql.execution.ExplainMode

/** Ad-hoc profiling main for the optimization rounds: same session shape
  * and populate phase as [[Bench]], then for each named query prints a
  * metrics line ([[Bench.sample]]: the bench ledgers' warm min-of-2
  * [[observability.QueryMetrics.profile]]) and optionally dumps the
  * `explain("formatted")` plan to a file.
  *
  * Usage: `Profile <sfDir> <q1,q2,...> [explainDir] [tag] [fresh]`
  *   - metrics go to stdout as one line per query:
  *     `PROFILE name wall_s scanRows scanBytes shuffleBytes shuffleRecs
  *      spillBytes expandRows outputRows`
  *   - with `explainDir`, each query's formatted plan lands at
  *     `<explainDir>/<name>_<tag>.txt` (tag defaults to "before").
  *   - `fresh` times bench-style instead (`PROFILE name wall_s fresh`):
  *     [[Bench.noopSeconds]] runs with [[Memos.newGeneration]] before each,
  *     so memoized builds are re-run inside the clock.
  *   - exits with status 1, after the other names, when a name is unknown
  *     or its run fails.
  *
  * This is a measurement tool, not a declared query: nothing here is
  * registered in [[SparkEntry.queries]] and no result is persisted.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq.empty
    val explainDir = if (args.length > 2 && args(2).nonEmpty) Some(args(2))
      else None
    val tag = if (args.length > 3) args(3) else "before"
    // "fresh" repeats memoized work per run (the bench second-sample
    // discipline): entries whose timed work is a memoized build must
    // re-run it, not hit the memo
    val fresh = args.length > 4 && args(4) == "fresh"
    val spark = LocalSession()
    Bench.populate(spark, sfDir)
    val qs = SparkEntry.queries
    val ok = names.map { name => qs.get(name) match {
      case None =>
        System.err.println(s"[profile] no such query: $name")
        false
      case Some(fn) =>
        spark.sparkContext.setJobDescription(s"profile:$name")
        try {
          if (fresh) {
            // Memos.newGeneration before each run so the memoized build
            // repeats inside the noop timer's clock — the bench
            // second-sample discipline
            val (t, hi) = Bench.minOf2 { () =>
              Memos.newGeneration()
              Bench.noopSeconds(fn(spark, sfDir))
            }(identity)
            println(f"PROFILE $name $t%.3f fresh hi=$hi%.3f")
          } else {
            val (p, hi) = Bench.sample(fn(spark, sfDir))
            println(f"PROFILE $name ${p.wallMs / 1e3}%.3f ${p.scanRows} " +
              s"${p.scanBytes} ${p.shuffleWriteBytes} ${p.shuffleRecordsWritten} " +
              s"${p.spillBytes} ${p.expandRows} ${p.outputRows} " +
              f"hi=$hi%.3f")
          }
          explainDir.foreach { d =>
            val f = new java.io.File(d, s"${name}_$tag.txt")
            f.getParentFile.mkdirs()
            val plan = fn(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(f.toPath,
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $name FAILED: ${e.getMessage}")
          false
        } finally spark.sparkContext.setJobDescription(null)
    }}
    spark.stop()
    // a typo or a failed run must reach the calling script
    if (ok.contains(false)) sys.exit(1)
  }
}

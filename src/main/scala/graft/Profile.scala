package graft

import org.apache.spark.sql.execution.ExplainMode

/** Ad-hoc profiling main for the optimization rounds: same session shape
  * and populate phase as [[Bench]], then for each named query prints a
  * metrics line ([[Bench.sample]]: the bench ledgers' min-of-2
  * [[observability.QueryMetrics.profile]]) and optionally dumps the
  * `explain("formatted")` plan to a file. Each sample starts a new
  * [[Memos.newGeneration]] before it builds the entry, so a memoized
  * per-run build repeats inside the sample's clock.
  *
  * Usage: `Profile <sfDir> <q1,q2,...> [explainDir] [tag]`
  *   - metrics go to stdout as one line per query:
  *     `PROFILE name wall_s scanRows scanBytes shuffleBytes shuffleRecs
  *      spillBytes expandRows outputRows`
  *   - with `explainDir`, each query's formatted plan lands at
  *     `<explainDir>/<name>_<tag>.txt` (tag defaults to "before").
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
          val (p, hi) = Bench.sample {
            Memos.newGeneration()
            fn(spark, sfDir)
          }
          println(f"PROFILE $name ${p.wallMs / 1e3}%.3f ${p.scanRows} " +
            s"${p.scanBytes} ${p.shuffleWriteBytes} ${p.shuffleRecordsWritten} " +
            s"${p.spillBytes} ${p.expandRows} ${p.outputRows} " +
            f"hi=$hi%.3f")
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

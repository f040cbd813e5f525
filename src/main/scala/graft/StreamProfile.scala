package graft

import org.apache.spark.sql.functions._

/** Dev profiler for `stream_near_dedup`'s wall cost (r10 verdict item 5):
  * splits the entry into its phases — feed landing, the streaming run
  * itself (per micro-batch, from the progress log), and the sink read +
  * ledger aggregate — and re-runs the SAME stream on a tiny feed to
  * measure the harness FLOOR (session+checkpoint+no-data-batch overhead
  * that does not scale with rows). Run:
  * `tools/run_graft.sh graft.StreamProfile /root/testdata/sf0.1`
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROFILE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def runOnce(tag: String, feedDf: org.apache.spark.sql.DataFrame): Unit = {
      val base = Scratch.path(spark, "graft-streamprof", s"$tag-${System.nanoTime()}")
      t(s"$tag/land") { feedDf.write.mode("overwrite").parquet(s"$base/src") }
      t(s"$tag/stream") {
        val q = streaming.StreamNearDedup.nearDedup(
          streaming.StreamRun.session(spark), s"$base/src", s"$base/out",
          s"$base/ckpt")
        q.awaitTermination()
        q.recentProgress.foreach { p =>
          println(f"PROFILE $tag/batch${p.batchId}%-20s ${p.durationMs.get("triggerExecution").toDouble / 1e3}%8.3f s " +
            s"rows=${p.numInputRows} addBatch=${p.durationMs.getOrDefault("addBatch", -1L)}ms " +
            s"getBatch=${p.durationMs.getOrDefault("getBatch", -1L)}ms " +
            s"queryPlanning=${p.durationMs.getOrDefault("queryPlanning", -1L)}ms " +
            s"walCommit=${p.durationMs.getOrDefault("walCommit", -1L)}ms " +
            s"stateComm=${p.stateOperators.headOption.map(_.commitTimeMs).getOrElse(-1L)}ms")
        }
      }
      t(s"$tag/ledger-read") {
        spark.read.parquet(s"$base/out")
          .groupBy(col("doc_id")).agg(min(when(col("fresh"), 1).otherwise(0)))
          .count()
      }
    }
    // session warm-up so tag runs don't pay first-job costs
    spark.range(1000).groupBy(expr("id % 3")).count().collect()
    val full = streaming.StreamNearDedup.feed(spark, dir)
    val tiny = full.limit(100)
    runOnce("floor100", tiny)
    runOnce("full", full)
    runOnce("full2", full)
    spark.stop()
  }
}

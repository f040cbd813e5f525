package graft

import graft.streaming.StreamRun
import org.apache.spark.sql.SparkSession

/** The stream runner's session and the child sessions of the registered
  * rule demos are [[plans.ChildSession]]s: a runtime conf set on the caller
  * reaches them, which a bare `newSession()` loses.
  */
class StreamRunSpec extends SparkSpec {
  private val Ansi = "spark.sql.ansi.enabled"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** A caller whose ANSI mode is flipped at runtime, and the flipped value. */
  private def caller(): (SparkSession, String) = {
    val flipped = (!spark.conf.get(Ansi).toBoolean).toString
    (plans.ChildSession(spark, Ansi -> flipped), flipped)
  }

  test("the runner streams on a child with the caller's confs, state partitions, no-data switch") {
    val (parent, flipped) = caller()
    for (skip <- Seq(false, true)) {
      var ss: SparkSession = null
      val run = StreamRun(parent, "graft-stream-run-spec", s"skip-$skip",
          skipNoDataBatches = skip) { (s, r) =>
        ss = s
        parent.range(10).write.parquet(r.src)
        StreamRun.parquet(s.readStream.schema("id BIGINT").parquet(r.src),
          r.out, r.ckpt)
      }
      assert(ss ne parent)
      assert(ss.conf.get(Ansi) == flipped, "the caller's runtime conf is lost")
      assert(ss.conf.get("spark.sql.shuffle.partitions") ==
        streaming.IncrementalIngest.StreamShufflePartitions.toString)
      assert(ss.conf.get(NoData) == (!skip).toString)
      assert(parent.read.parquet(run.out).count() == 10, "the run drained")
    }
  }

  test("src_gen_spj_join and join_bloom_prune plan on a child with the caller's confs") {
    val (parent, flipped) = caller()
    val sessions = Seq("src_gen_spj_join", "join_bloom_prune")
      .map(name => name -> SparkEntry.queries(name)(parent, sf).sparkSession)
    assert(sessions.forall(_._2 ne parent))
    val lost = sessions.collect { case (name, s) if s.conf.get(Ansi) != flipped => name }
    assert(lost.isEmpty, s"the caller's runtime conf is lost in $lost")
  }
}

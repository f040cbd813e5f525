package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The [[Scratch]] memo contract: builds nest, a failed build is retried,
  * concurrent callers share one build, perRun entries follow
  * [[Memos.newGeneration]], and releasing one application leaves the others
  * alone; keys never sanitize into hidden leaves; and [[Scratch.reuse]]
  * keeps the local master's single-replica plan. Every test uses its own
  * family so entries never collide across tests; the shared session never
  * stops, so release is called directly.
  */
class ScratchSpec extends SparkSpec {

  private def family(name: String) = s"graft-spec-$name-${System.nanoTime()}"

  test("a build may build another memo (nested builds)") {
    val (fa, fb) = (family("outer"), family("inner"))
    val inner = new AtomicInteger()
    def b(): String = Scratch.memo(spark, fb, "k") { _ => inner.incrementAndGet(); "B" }
    val a = Scratch.memo(spark, fa, "k")(_ => b() + "A")
    assert(a == "BA")
    assert(Scratch.memo(spark, fa, "k")(_ => "rebuilt") == "BA")
    assert(b() == "B" && inner.get == 1)
  }

  test("a build that throws is not cached; the next call builds again") {
    val f = family("retry")
    val calls = new AtomicInteger()
    def get(): Int = Scratch.memo(spark, f, "k") { _ =>
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      42
    }
    intercept[IllegalStateException](get())
    assert(get() == 42)
    assert(get() == 42)
    assert(calls.get == 2)
  }

  test("two threads on one key run the build once") {
    val f = family("race")
    val builds = new AtomicInteger()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => results.add(Scratch.memo(spark, f, "k") { _ =>
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get == 1)
    assert(results.size == 2 && (results.peek() eq results.toArray.last))
  }

  test("after newGeneration a perRun entry gets a new path, a setup entry does not") {
    val f = family("gen")
    def paths() = (Scratch.memo(spark, f, "/data/sf0.001", perRun = true)(identity[String]),
      Scratch.memo(spark, f, "/data/sf0.001")(identity[String]))
    val (run0, setup0) = paths()
    assert(run0.contains(Memos.runTag) && run0.endsWith("_data_sf0.001"), run0)
    Memos.newGeneration()
    val (run1, setup1) = paths()
    assert(run1 != run0 && run1.contains(Memos.runTag), run1)
    assert(setup1 == setup0)
    assert(run1 == Scratch.path(spark, f, "/data/sf0.001", perRun = true))
  }

  test("release drops one application's entries and directory, no one else's") {
    val f = family("release")
    val app = s"synthetic-app-${System.nanoTime()}"
    val builds = new AtomicInteger()
    def synthetic(): String = Scratch.memoFor(app, f, "k", perRun = false) { p =>
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "part"), "x")
      p
    }
    val live = new AtomicInteger()
    def liveEntry(): String = Scratch.memo(spark, f, "k") { p =>
      live.incrementAndGet()
      Files.createDirectories(Paths.get(p))
      p
    }
    val p = synthetic()
    val livePath = liveEntry()
    val appRoot = new File(p).getParentFile.getParentFile
    assert(appRoot.getName == app && new File(p, "part").exists)

    Scratch.release(app)
    assert(!appRoot.exists, s"$appRoot survived release")
    synthetic()
    assert(builds.get == 2, "the released application's entry was still memoized")
    Scratch.release(app)

    assert(liveEntry() == livePath && live.get == 1)
    assert(new File(livePath).isDirectory)
  }

  test("an absolute key's leaf is not hidden, and a parquet under it reads back") {
    val f = family("hidden")
    val leaf = new File(Scratch.path(spark, f, "/x/sf0.01")).getName
    assert(!leaf.startsWith("_") && !leaf.startsWith("."), leaf)
    val df = Scratch.parquet(spark, f, "/x/sf0.01")(spark.range(3).toDF("id"))
    assert(df.inputFiles.nonEmpty)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("reuse on a local master keeps one replica; the replicated level gives the same rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    def rdd(df: DataFrame) = df.queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r.rdd }.get
    val base = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS g")
      .groupBy("g").count()
    assert(spark.sparkContext.isLocal)
    val reused = Scratch.reuse(base)
    assert(rdd(reused).getStorageLevel.replication == 1)
    val replicated = base.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK_2)
    assert(rdd(replicated).getStorageLevel.replication == 2)
    assert(reused.collect().map(_.toString).sorted.toSeq ==
      replicated.collect().map(_.toString).sorted.toSeq)
    assert(Scratch.reuse(base, eager = true).collect().length == 7)
  }
}

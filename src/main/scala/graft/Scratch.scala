package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one home of per-(application, corpus) derived state.
  *
  * Every artifact a query derives once and reuses — the materialized
  * warehouse, signature tables, indexes, landed feeds, a stream's
  * checkpoint and sink — lives at
  * `<java.io.tmpdir>/graft-scratch/<appId>/<family>/[<runTag>/]<key>` and
  * is built once through [[memo]]. `family` is the artifact's `graft-*`
  * name; `key` is usually the corpus directory. A `perRun` entry carries
  * [[Memos.runTag]] in both its memo key and its path, so after
  * [[Memos.newGeneration]] it rebuilds into a fresh directory (the timed
  * operators: stream runs, landings, compactions); the rest is setup, built
  * once per application.
  *
  * Builds may nest (a signature table builds the shingle index it reads):
  * the map only hands out a per-key [[Cell]], and the build runs under that
  * cell's lock, outside the map. Concurrent callers of one key wait for one
  * build; a build that throws leaves the cell empty, so the next call
  * builds again.
  *
  * When the application ends (`SparkContext.stop`, which Spark's shutdown
  * hook also calls) a listener registered on the context's first use
  * deletes `<root>/<appId>` and drops that application's entries. Nothing
  * is released at [[Memos.newGeneration]]: superseded run directories stay
  * until the application ends, so a new generation adds no timed work.
  *
  * In-memory reuse of an intermediate within one query goes through
  * [[reuse]], the one materialization policy.
  */
object Scratch {
  private val Root = new File(sys.props("java.io.tmpdir"), "graft-scratch")

  /** One key's build, run at most once to success. */
  private final class Cell {
    @volatile private var done = false
    private var value: Any = _

    def get[T](build: => T): T = {
      if (!done) synchronized {
        if (!done) { value = build; done = true }
      }
      value.asInstanceOf[T]
    }
  }

  /** `run` is the [[Memos.runTag]] of a perRun entry, "" otherwise. The
    * all-empty key of an application holds its listener registration.
    */
  private final case class Key(app: String, family: String, run: String, key: String)

  private val cells = new ConcurrentHashMap[Key, Cell]()

  /** The key's leaf carries a fixed prefix: a sanitized absolute path
    * starts with `_`, which Spark's file listing treats as hidden (and a
    * key like `..` would climb out of its family). The prefix keeps the
    * mapping exactly as injective as the sanitization itself.
    */
  private def dir(app: String, family: String, run: String, key: String): String =
    Seq(app, family, run, "k-" + key.replaceAll("[^A-Za-z0-9._-]", "_"))
      .filter(_.nonEmpty).foldLeft(Root)(new File(_, _)).getPath

  /** The directory of (this application, family, [run tag,] key). Nothing
    * is created; for artifacts that need a path but no memo.
    */
  def path(spark: SparkSession, family: String, key: String,
      perRun: Boolean = false): String =
    dir(spark.sparkContext.applicationId, family,
      if (perRun) Memos.runTag else "", key)

  /** `build(path)` once per (this application, family, [run tag,] key). */
  def memo[T](spark: SparkSession, family: String, key: String,
      perRun: Boolean = false)(build: String => T): T = {
    val sc = spark.sparkContext
    val app = sc.applicationId
    cells.computeIfAbsent(Key(app, "", "", ""), _ => new Cell)
      .get(sc.addSparkListener(new Release(app)))
    memoFor(app, family, key, perRun)(build)
  }

  /** [[memo]] for a parquet artifact: write `build` to the entry's path
    * once and hand back a read of it.
    */
  def parquet(spark: SparkSession, family: String, key: String,
      perRun: Boolean = false)(build: => DataFrame): DataFrame =
    memo(spark, family, key, perRun) { p =>
      build.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

  /** [[memo]] under an explicit application id, without the listener. */
  private[graft] def memoFor[T](app: String, family: String, key: String,
      perRun: Boolean)(build: String => T): T = {
    val run = if (perRun) Memos.runTag else ""
    cells.computeIfAbsent(Key(app, family, run, key), _ => new Cell)
      .get(build(dir(app, family, run, key)))
  }

  /** Keep `df` for its several consumers: the first action computes it
    * once into Spark's block store and every later reader starts from the
    * blocks, with the lineage truncated so each consumer plans one short
    * tree instead of re-deriving the whole upstream. It is a local
    * checkpoint — serialized row blocks, not the columnar `.cache()`,
    * whose encoding build was measured at 30 s of CPU for 150 k rows —
    * and needs no checkpoint directory. `eager` computes it now, for a
    * caller that fans the result out to concurrent jobs (two lazy readers
    * racing would both compute the one RDD).
    *
    * On a local master the blocks live in the one application JVM, so a
    * single replica is as safe as any. Elsewhere they live on executors,
    * and a lost executor would lose the only copy of a lineage-truncated
    * block, which cannot be recomputed: there the blocks are written
    * twice, spilling to disk under memory pressure.
    */
  def reuse(df: DataFrame, eager: Boolean = false): DataFrame =
    if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint(eager)
    else df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_2)

  /** Drop the application's entries and delete its directory. */
  private[graft] def release(app: String): Unit = {
    cells.keySet.removeIf(_.app == app)
    org.apache.commons.io.FileUtils.deleteDirectory(new File(Root, app))
  }

  private final class Release(app: String) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      release(app)
  }
}

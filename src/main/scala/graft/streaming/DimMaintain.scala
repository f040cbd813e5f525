package graft.streaming

import graft.warehouse.Scd2
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming dimension maintenance: SCD2 merges applied from a CHANGE
  * STREAM via `foreachBatch` — the sink pattern for writes Structured
  * Streaming cannot express declaratively (a versioned merge reads its own
  * previous output). Each micro-batch runs the same merge semantics as the
  * batch [[graft.warehouse.Scd2]] operator: close the current version of
  * keys whose attributes changed, append the successor, insert fresh keys.
  *
  * Exactly-once without transactions, from three independent guards:
  *
  *  - **checkpoint** — each batch is delivered once (plus at most one
  *    replay after a crash);
  *  - **replay no-op merge** — an insert is skipped when the key already
  *    exists, an update is skipped when the current attributes already
  *    equal the incoming ones or the change predates the current version's
  *    valid_from (out-of-order late changes would invert validity
  *    intervals; same-date corrections DO apply); malformed change rows
  *    (null key or null effective date) are dropped at the door;
  *  - **atomic publication** — each merge writes a complete snapshot
  *    `snap_<id>` (ids self-allocated latest+1, immune to checkpoint-reset
  *    batch-id restarts) and readers resolve the LATEST snapshot carrying
  *    the engine-owned `_GRAFT_BATCH` marker, written only after the
  *    parquet commit succeeds — independent of the committer's `_SUCCESS`
  *    configuration. No in-place overwrite of a "current" directory exists,
  *    so no crash window can lose the dimension: an interrupted write has
  *    no marker and is invisible; the replay (detected by the marker's
  *    recorded batch id) rewrites or skips it. Retention keeps the newest
  *    two snapshots so a reader that just resolved the prior one can still
  *    finish its scan; older ones are pruned with idempotent deletes.
  *    Filesystem access goes through the Hadoop FileSystem API, so the same
  *    code addresses HDFS/S3 paths, not only local disk.
  *
  * Scale notes (100 TB): the change batch is small by nature and is
  * broadcast into one pass over the dimension snapshot; versions are derived
  * (`current version + 1`), never a sequence. The snapshot scheme stands in
  * for the MERGE INTO of a transactional table format, which is what a
  * production deployment would use — the merge DAG is identical.
  */
object DimMaintain {

  private val changeDdl =
    "patient_id BIGINT, age_group STRING, sex STRING, location STRING, " +
      "effective_date DATE"

  private def dimSchema: StructType = StructType.fromDDL(
    "patient_id BIGINT, age_group STRING, sex STRING, location STRING, " +
      "version INT, valid_from DATE, valid_to DATE, is_current BOOLEAN")

  private def fileSystem(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Engine-owned completeness marker written LAST inside a snapshot — the
    * publication commit point. Deliberately not `_SUCCESS`: that file is
    * under the committer's control (`marksuccessfuljobs` is often disabled
    * on object stores) and must not double as our visibility protocol. The
    * file's content is the source batch id, which is also the crash-replay
    * detector.
    */
  private val Marker = "_GRAFT_BATCH"

  private val SnapName = "snap_([0-9]+)".r

  /** (path, snapshot id, source batch id) of every PUBLISHED snapshot
    * (marker present); non-numeric `snap_*` names are ignored, not errors.
    */
  private def publishedSnaps(spark: SparkSession,
      dimDir: String): Seq[(Path, Long, Long)] = {
    val fs = fileSystem(spark, dimDir)
    val root = new Path(dimDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { s =>
      s.getPath.getName match {
        case SnapName(id) if s.isDirectory
            && fs.exists(new Path(s.getPath, Marker)) =>
          val in = fs.open(new Path(s.getPath, Marker))
          val src = try scala.io.Source.fromInputStream(in).mkString.trim.toLong
          finally in.close()
          Some((s.getPath, id.toLong, src))
        case _ => None
      }
    }.sortBy(_._2)
  }

  /** The versioned dimension as of the last published snapshot (empty frame
    * before the first).
    */
  def dim(spark: SparkSession, dimDir: String): DataFrame =
    publishedSnaps(spark, dimDir).lastOption match {
      case Some((p, _, _)) => spark.read.parquet(p.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], dimSchema)
    }

  /** One SCD2 merge of a change batch into the dimension snapshot.
    * Deterministic: duplicate keys within a batch collapse to the
    * lexicographically-greatest (effective_date, attrs) tuple; closes and
    * inserts derive purely from (current row, incoming row).
    *
    * Snapshot ids are self-allocated (latest + 1), NOT the batch id — batch
    * ids restart at 0 when a checkpoint is rebuilt, and a merge must never
    * become invisible behind a higher-numbered stale snapshot. The marker
    * records which batch produced each snapshot, so a crash-replay of the
    * same batch is detected by content, not by name.
    */
  def mergeBatch(spark: SparkSession, batch0: DataFrame, dimDir: String,
      batchId: Long): Unit = {
    if (batch0.isEmpty) return
    val snaps = publishedSnaps(spark, dimDir)
    // crash-replay short-circuit: the latest snapshot already came from
    // this batch — only the retention pass may still be owed
    if (!snaps.lastOption.exists(_._3 == batchId))
      mergeInto(spark, batch0, dimDir,
        snaps.lastOption.map(_._2 + 1).getOrElse(0L), batchId)
    // retention: keep the newest TWO published snapshots — the prior one
    // stays readable for any consumer that resolved it just before this
    // publish; deletes are idempotent under replay
    val after = publishedSnaps(spark, dimDir)
    val fs = fileSystem(spark, dimDir)
    after.dropRight(2).foreach { case (p, _, _) => fs.delete(p, true) }
  }

  private def mergeInto(spark: SparkSession, batch0: DataFrame,
      dimDir: String, snapId: Long, batchId: Long): Unit = {
    import spark.implicits._
    val batch = batch0
      // malformed changes (no key / no effective date) never reach the merge
      .filter($"patient_id".isNotNull && $"effective_date".isNotNull)
      .groupBy($"patient_id")
      .agg(max(struct($"effective_date", $"age_group", $"sex", $"location"))
        .as("c"))
      .select($"patient_id", $"c.age_group", $"c.sex", $"c.location",
        $"c.effective_date")
    val cur = dim(spark, dimDir)
    val current = cur.filter($"is_current").select($"patient_id",
      $"age_group".as("c_ag"), $"sex".as("c_sex"), $"location".as("c_loc"),
      $"version".as("c_ver"), $"valid_from".as("c_from"))
    val b = batch.join(current, Seq("patient_id"), "left")
    val inserts = b.filter($"c_ver".isNull)
      .select($"patient_id", $"age_group", $"sex", $"location",
        lit(1).as("version"), $"effective_date".as("valid_from"),
        lit(Scd2.OpenEnd).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    // only REAL attribute changes at-or-after the current version's start
    // take effect: equal attrs = replay no-op; effective_date < current
    // valid_from = out-of-order late change, rejected rather than closing a
    // row with an inverted validity interval. Same-date corrections apply
    // (the closed row gets a zero-length interval — "never effective");
    // disambiguating a correction from a re-delivered STALE same-date value
    // needs change sequence ids, which this feed does not carry.
    val changed = b.filter($"c_ver".isNotNull &&
      $"effective_date" >= $"c_from" &&
      (!($"age_group" <=> $"c_ag") || !($"sex" <=> $"c_sex")
        || !($"location" <=> $"c_loc")))
    val newVers = changed
      .select($"patient_id", $"age_group", $"sex", $"location",
        ($"c_ver" + 1).cast("int").as("version"),
        $"effective_date".as("valid_from"),
        lit(Scd2.OpenEnd).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    val closing = changed.select($"patient_id", $"effective_date".as("eff"))
    val updated = cur.join(broadcast(closing), Seq("patient_id"), "left")
      .select($"patient_id", $"age_group", $"sex", $"location", $"version",
        $"valid_from",
        when($"is_current" && $"eff".isNotNull, $"eff").otherwise($"valid_to")
          .as("valid_to"),
        ($"is_current" && $"eff".isNull).as("is_current"))
    val out = updated.unionByName(inserts).unionByName(newVers)
    // atomic publication: the snapshot becomes visible only when the engine-
    // owned marker (written after the parquet commit succeeds) appears; a
    // crash mid-write leaves an unmarked, invisible directory that the
    // replay simply overwrites
    val snap = new Path(s"$dimDir/snap_$snapId")
    out.write.mode("overwrite").parquet(snap.toString)
    val fs = fileSystem(spark, dimDir)
    val outStream = fs.create(new Path(snap, Marker), true)
    try outStream.write(batchId.toString.getBytes("UTF-8"))
    finally outStream.close()
  }

  /** Watch `srcDir` for change-record parquet files and keep the versioned
    * dimension under `dimDir` current. AvailableNow catch-up trigger, like
    * the other streaming entries.
    */
  def maintain(spark: SparkSession, srcDir: String, dimDir: String,
      checkpointDir: String): StreamingQuery =
    StreamRun.start(spark.readStream
      .schema(StructType.fromDDL(changeDdl))
      .parquet(srcDir), checkpointDir)(_
      .foreachBatch((b: DataFrame, id: Long) =>
        mergeBatch(b.sparkSession, b, dimDir, id)))
}

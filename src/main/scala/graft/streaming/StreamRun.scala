package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** How a streaming entry runs: on a child session sized for stream state,
  * as one checkpointed `Trigger.AvailableNow` catch-up, drained to
  * termination, in a per-run scratch directory — the streaming form of
  * the reference's "run the pipeline again to process the next batch"
  * (`etl_pipeline.py:125-132,184-195`).
  */
object StreamRun {

  /** The stream session: a [[graft.plans.ChildSession]] of `spark` (same
    * SparkContext and runtime confs, independent conf) at
    * [[IncrementalIngest.StreamShufflePartitions]]. The entries share the
    * application with 200+ batch queries whose parallelism must not be
    * disturbed; the child makes the override invisible outside the stream
    * by construction.
    *
    * A no-data micro-batch exists to EMIT what only a watermark advance can
    * release (closed windows, expired outer-join rows, fired timers) and to
    * evict state. For a query whose every output row is produced in the
    * data batch that receives it — inner stream-stream joins,
    * dropDuplicates*, timer-less transformWithState — the trailing no-data
    * batch does nothing the sink can see, yet costs a full plan+state-commit
    * cycle per run (~0.3-0.5 s at 4 state partitions); `skipNoDataBatches`
    * turns it off, and the session sets the switch either way, so a value
    * carried over from the caller never decides it. Entries whose output
    * DEPENDS on watermark emission must never set it — and neither may an
    * entry whose CHECKPOINT is itself read by a checked query
    * (stream_state_metadata pins the no-data batch's batch id).
    */
  def session(spark: SparkSession, skipNoDataBatches: Boolean = false): SparkSession =
    graft.plans.ChildSession(spark,
      "spark.sql.shuffle.partitions" ->
        IncrementalIngest.StreamShufflePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        (!skipNoDataBatches).toString)

  /** Start `ds` as one checkpointed AvailableNow catch-up into the sink
    * `sink` configures (a `foreachBatch`); see [[parquet]] for a file sink.
    * Append, the writer's default output mode, is every sink's mode.
    */
  def start[T](ds: Dataset[T], checkpointDir: String)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery =
    sink(ds.writeStream)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[start]] into a parquet directory. */
  def parquet[T](ds: Dataset[T], outDir: String,
      checkpointDir: String): StreamingQuery =
    start(ds, checkpointDir)(_.format("parquet").option("path", outDir))

  /** A run directory: `src` holds a feed the entry lands itself, `out`
    * the sink, `ckpt` the checkpoint.
    */
  final case class Dirs(dir: String) {
    def src: String = s"$dir/src"
    def out: String = s"$dir/out"
    def ckpt: String = s"$dir/ckpt"
  }

  /** Run one streaming entry once per (application, run, corpus `key`):
    * `query` starts the stream on the stream [[session]] over the run's
    * [[Dirs]], the run drains it to termination, and the run directory
    * comes back for the read-back. Per run (`Scratch.memo(perRun = true)`):
    * the sink is append-mode, so a re-run against the same directory would
    * re-append the same rows.
    */
  def apply(spark: SparkSession, family: String, key: String,
      skipNoDataBatches: Boolean = false)(
      query: (SparkSession, Dirs) => StreamingQuery): Dirs =
    graft.Scratch.memo(spark, family, key, perRun = true) { dir =>
      val run = Dirs(dir)
      query(session(spark, skipNoDataBatches), run).awaitTermination()
      run
    }
}

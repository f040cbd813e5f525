package graft

/** Measurement-run generation tag for memoized, TIMED operator work.
  *
  * Several registered queries do their real work — landing a feed, running
  * a stream to termination, compacting a directory — inside a
  * per-(application, corpus) memo, so a SECOND timed run of the same entry
  * would measure the memo hit instead of the operator (r8:
  * `stream_near_dedup` re-timed at 0.38 s vs an 11.2 s first sample).
  * Those modules keep that memo as a `perRun` [[Scratch]] entry, whose
  * key and directory carry [[runTag]]; [[Bench]] bumps the generation
  * before its re-timing pass so a second sample repeats the FULL work in a
  * fresh scratch area (fresh source landing, fresh checkpoint, fresh
  * sink), not a cache read.
  *
  * Everything pre-warmed in Bench's untimed setup phase (warehouse build,
  * dedup pair tables, ANN indexes, bucketed layouts) deliberately does NOT
  * participate: its cost is charged to setup, so first and second samples
  * of its consumers already measure the same warm work.
  */
object Memos {
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Memo-key / scratch-path component for the current measurement run. */
  def runTag: String = s"g${generation.get}"

  /** Start a new measurement generation: every runTag-keyed memo
    * recomputes from scratch on its next call.
    */
  def newGeneration(): Unit = generation.incrementAndGet()
}

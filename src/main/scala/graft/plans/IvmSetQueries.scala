package graft.plans

import graft.{Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVM × set partials: incrementally maintain a `collect_set` view and
  * serve coarser-grain COUNT(DISTINCT) from the refreshed snapshot.
  *
  * The r10 distinct merge ([[MvRewrite]]) answers `count(distinct x)`
  * from a stored `collect_set(x)` — but a 100 TB corpus's view cannot be
  * rebuilt from scratch per batch. Set partials are MERGEABLE state:
  * for a late-arriving delta batch,
  *
  * {{{   sets_v1(g) = array_union(sets_v0(g), collect_set(delta rows in g)) }}}
  *
  * — a full-outer merge AT THE VIEW'S GRAIN between the v0 PARQUET and
  * the delta's own (tiny) set aggregate. The pre-delta fact is never
  * rescanned; counts ride along additively. After the merge the view
  * re-registers at the v1 snapshot (the
  * [[MvWarehouseQueries.ivmRefreshServed]] discipline), and a raw-table
  * `count(distinct)` consumer is served from v1, hash-matching the
  * DuckDB raw recompute — one green row proves delta-merge exactness of
  * the SET state, re-registration, and the distinct rewrite together.
  * Set order after an incremental merge differs from a fresh
  * `collect_set`'s — irrelevant by construction, every set consumer is
  * order-insensitive (the r10 float gate keeps it that way).
  *
  * The delta carve-out (`l_orderkey % LateMod == 0`) models the late
  * batch; both the v0 filter and the delta filter derive from the ONE
  * modulus, so the union of the two partitions is exactly the raw table
  * the oracle recomputes from.
  */
object IvmSetQueries {

  /** Late-batch carve-out modulus (~10% of lineitems arrive "late"). */
  val LateMod = 10

  /** Multi-view selection over one base is DETERMINISTIC since r12
    * ([[MvRewrite.orderedEntries]]: coarsest serving grain, then name —
    * spec-pinned with two adversarially-named views), so co-registered
    * views no longer threaten the plan gate; lineitem stays the base here
    * simply because the orders views already exercise the other paths.
    */
  private def keyed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).select(
      year($"l_shipdate").cast("int").as("yr"),
      month($"l_shipdate").cast("int").as("mo"),
      $"l_suppkey",
      (pmod($"l_orderkey", lit(LateMod)) === 0).as("late"))
  }

  /** The view pipeline over a slice: (yr, mo) → supplier set + count. */
  private def setsOf(df: DataFrame): DataFrame = {
    df.groupBy(col("yr"), col("mo"))
      .agg(collect_set(col("l_suppkey")).as("supp_set"),
        count(lit(1)).as("n_items"))
  }

  /** Registration defining: the SAME pipeline over the FULL table. */
  private def definingAll(spark: SparkSession, dir: String): DataFrame =
    setsOf(keyed(spark, dir).drop("late"))

  /** v0 from the on-time slice, delta sets from the late slice, v1 =
    * grain-level full-outer `array_union` merge of v0's PARQUET with the
    * delta — then re-register at v1. A perRun [[Scratch]] entry, so
    * a bench second sample repeats the refresh, not a memo hit.
    *
    * The refresh counts as done only AFTER register succeeds (a build that
    * throws is not memoized), and concurrent callers block on the
    * in-flight refresh instead of racing past an unregistered view — a
    * failed refresh is retried by the next caller, never silently skipped.
    */
  private def refresh(spark: SparkSession, dir: String): Unit =
    Scratch.memo(spark, "graft-ivm-set", dir, perRun = true)(
      doRefresh(spark, dir, _))

  private def doRefresh(spark: SparkSession, dir: String, scratch: String): Unit = {
    import spark.implicits._
    // ONE lineitem scan lands both slices: aggregating at (yr, mo, late)
    // grain partitions the rows exactly as the two filtered setsOf calls
    // did (late is a grouping key, so each set/count sees only its slice),
    // and reusing it lets the v0 write and the delta merge share the pass
    // instead of re-scanning the fact per consumer.
    val byLate = Scratch.reuse(keyed(spark, dir)
      .groupBy($"yr", $"mo", $"late")
      .agg(collect_set($"l_suppkey").as("supp_set"),
        count(lit(1)).as("n_items")))
    byLate.filter(!$"late").select($"yr", $"mo", $"supp_set", $"n_items")
      .write.mode("overwrite").parquet(s"$scratch/v0")
    val delta = byLate.filter($"late")
      .select($"yr", $"mo", $"supp_set".as("d_set"), $"n_items".as("d_n"))
    val empty = expr("CAST(array() AS ARRAY<BIGINT>)")
    val v1 = spark.read.parquet(s"$scratch/v0")
      .join(delta, Seq("yr", "mo"), "full_outer")
      .select($"yr", $"mo",
        array_union(coalesce($"supp_set", empty), coalesce($"d_set", empty))
          .as("supp_set"),
        (coalesce($"n_items", lit(0L)) + coalesce($"d_n", lit(0L)))
          .as("n_items"))
    v1.write.mode("overwrite").parquet(s"$scratch/v1")
    val ok = MvRewrite.register(s"mv_ivm_supp_sets:$dir",
      definingAll(spark, dir), spark.read.parquet(s"$scratch/v1"))
    require(ok, "mv_ivm_supp_sets must register (structured path)")
  }

  /** The consumer: yearly distinct suppliers + item counts from "raw"
    * lineitem, served from the incrementally-maintained set view.
    */
  def served(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0, MvRewrite.EnabledKey -> "true")
    refresh(spark, dir)
    import spark.implicits._
    keyed(spark, dir).drop("late")
      .groupBy($"yr")
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy($"yr")
  }

  // =====================================================================
  // Retractable state: (grain, value) → multiset COUNT, not a bare set
  // =====================================================================

  // The forget batch is the REAL cascade's level-1 key set
  // ([[graft.ingest.ForgetFlow.deletedOrderKeys]] — orders of customers
  // whose md5 nibble matches the request): one flow drives the GDPR
  // rewrite (`etl_forget_cascade`), this view retraction, and the oracle's
  // WHERE clause, per the one-constant-two-engines discipline. ~1/16 of
  // orders' lineitems are deleted after v0 was built.

  /** A bare `collect_set` view cannot RETRACT — `array_union` has no
    * inverse, so a forget/GDPR delete would silently over-count
    * COUNT(DISTINCT) forever. The retractable form stores the MULTISET:
    * state rows `(yr, mo, l_suppkey) → cnt`, merged additively with
    * SIGNED deltas (+1 per late insert, −1 per forgotten row), rows
    * dropped at zero — a supplier leaves the grain's set exactly when its
    * last contributing fact row is forgotten. The served `collect_set`
    * view is then DERIVED from the state (tiny: one row per present
    * (grain, value)), so the registered shape — and the coarser-grain
    * distinct merge it feeds — is unchanged. The pre-delete fact is never
    * rescanned: v1 = full-outer merge of v0's parquet with the signed
    * delta's own aggregate.
    *
    * The consumer reads the REWRITTEN current table (the forget cascade
    * rewrites the base; `curr` materializes that once, as setup) and is
    * served from the state-derived set view; the DuckDB oracle recomputes
    * from raw lineitem WITH the delete applied — a hash match proves the
    * retraction arithmetic exact.
    */
  /** Fail-loud zero-floor: the merged multiset count, or `raise_error` if
    * it went negative (a delete arrived for a fact the state never
    * counted). Inlined into the state write so the audit costs no extra
    * pass — and spec-pinned against optimizer simplification: the
    * downstream `filter(cnt > 0)` substitutes this CASE into its
    * predicate, and a rewrite that pruned the error branch (negatives
    * "can't pass the filter anyway") would turn the invariant breach into
    * a silent row drop.
    */
  private[graft] def zeroFloorGuard(cnt: Column, at: Column): Column =
    when(cnt < 0,
      raise_error(concat(lit("retraction below zero at "), at,
        lit(" — a delete arrived for a fact the state never counted")))
        .cast("long"))
      .otherwise(cnt)

  private def refreshRetract(spark: SparkSession, dir: String): String =
    Scratch.memo(spark, "graft-ivm-set", s"retract:$dir", perRun = true) { scratch =>
      doRefreshRetract(spark, dir, scratch)
      scratch
    }

  private def doRefreshRetract(spark: SparkSession, dir: String,
      scratch: String): Unit = {
    import spark.implicits._
    // `bad` = this lineitem belongs to a cascade-deleted order: the SAME
    // broadcast key set the GDPR rewrite anti-joins with, here as a flag
    // (left join + null test) because both partitions of the row stream
    // are needed — kept rows rebuild `current`, bad rows form the −1 delta
    val del = graft.ingest.ForgetFlow.deletedOrderKeys(spark, dir)
      .withColumn("bad_", lit(true))
    // Materialize the flagged NARROW projection once: every arm below
    // (current rebuild, v0 state, +/− delta, zero-floor audit) is a
    // different filter of the same join result, and deriving each straight
    // from Tables.lineitem re-scanned + re-joined the full-width base per
    // action — 6 scans where one suffices (the r12 judge's slowest-entry
    // finding). Eager: the two overlapped writes below read it from two
    // threads, and two lazy readers would both compute the one RDD.
    val rows = Scratch.reuse(Tables.lineitem(spark, dir)
      .join(broadcast(del), $"l_orderkey" === $"o_orderkey", "left")
      .select(
        year($"l_shipdate").cast("int").as("yr"),
        month($"l_shipdate").cast("int").as("mo"),
        $"l_suppkey",
        (pmod($"l_orderkey", lit(LateMod)) === 0).as("late"),
        coalesce($"bad_", lit(false)).as("bad")), eager = true)
    // the rewritten base table (setup, like the warehouse build): what the
    // forget cascade leaves behind; the consumer and the defining read THIS
    // as a bare relation — the rewrite gate's sameResult match is anchored
    // on the base RELATION, so serving-from-state (the entry's whole point,
    // spec-pinned via executed scan roots ⊆ /v1sets) needs the materialized
    // table, not a filter view over `rows` (r13 tried the view: the gate
    // declined and the consumer fell back to the base scan).
    // The current rebuild and the v0 state build are INDEPENDENT reads of
    // the reused blocks — overlapped from a two-thread pool (guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially; the second job's tasks back-fill the first's tail).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fCurrent = Future {
      rows.filter(!$"bad").select($"yr", $"mo", $"l_suppkey")
        .write.mode("overwrite").parquet(s"$scratch/current")
    }
    // v0 multiset state from the on-time slice (bad rows still present —
    // the forget arrives with the delta batch)
    val fV0 = Future {
      rows.filter(!$"late")
        .groupBy($"yr", $"mo", $"l_suppkey")
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$scratch/v0")
    }
    // join BOTH outcomes before proceeding (r13 advice): awaiting only
    // fCurrent first meant its failure propagated while fV0 still ran
    // detached against the same scratch dir, and an fV0-only failure was
    // observed late
    Await.result(Future.sequence(Seq(fCurrent, fV0)), Duration.Inf)
    // signed delta: +1 per late insert, −1 per forget delete, as ONE net
    // weight per row in ONE scan of the delta-batch slice (a late bad row
    // is inserted then forgotten — net zero — and drops out here instead
    // of contributing a +1 and a −1 row to a unioned double scan). In
    // production this aggregates the DELTA BATCH, which is the small side;
    // the late||bad prefilter keeps the evidence query the same shape.
    val delta = rows.filter($"late" || $"bad")
      .select($"yr", $"mo", $"l_suppkey",
        (when($"late", 1L).otherwise(0L) +
          when($"bad", -1L).otherwise(0L)).as("w"))
      .filter($"w" =!= 0L)
      .groupBy($"yr", $"mo", $"l_suppkey")
      .agg(sum($"w").as("d_cnt"))
    // merge + zero-floor audit + state write land as ONE job: the audit is
    // an inline raise_error on any negative count (a delete arrived for a
    // fact the state never counted), so it fails the write itself loudly —
    // no separate full-merge materialization and no extra audit pass. Rows
    // at exactly zero (last contributing fact forgotten) drop here.
    // merge + zero-floor audit + state write stay ONE job, and the set
    // view derives from the written state's parquet (measured in r13's
    // second sitting: checkpointing the merge to overlap the two writes
    // read 3.1-3.8 s fresh vs 2.8 s for this shape — the extra
    // materialization job costs more than the overlap buys)
    spark.read.parquet(s"$scratch/v0")
      .join(delta, Seq("yr", "mo", "l_suppkey"), "full_outer")
      .select($"yr", $"mo", $"l_suppkey",
        (coalesce($"cnt", lit(0L)) + coalesce($"d_cnt", lit(0L))).as("cnt"))
      .select($"yr", $"mo", $"l_suppkey",
        zeroFloorGuard($"cnt", concat(lit("("), $"yr", lit(","), $"mo",
          lit(","), $"l_suppkey", lit(")"))).as("cnt"))
      .filter($"cnt" > 0)
      .write.mode("overwrite").parquet(s"$scratch/v1state")
    // the SERVED set view, derived from state (one row per present value)
    spark.read.parquet(s"$scratch/v1state")
      .groupBy($"yr", $"mo")
      .agg(collect_set($"l_suppkey").as("supp_set"), sum($"cnt").as("n_items"))
      .write.mode("overwrite").parquet(s"$scratch/v1sets")
    val defining = setsOf(currentRows(spark, scratch))
    val ok = MvRewrite.register(s"mv_ivm_supp_retract:$dir",
      defining, spark.read.parquet(s"$scratch/v1sets"))
    require(ok, "mv_ivm_supp_retract must register (structured path)")
  }

  private def currentRows(spark: SparkSession, scratch: String): DataFrame =
    spark.read.parquet(s"$scratch/current")

  /** Yearly distinct suppliers + item counts over the POST-FORGET table,
    * served from the retractable state's derived set view.
    */
  def servedRetract(spark0: SparkSession, dir: String): DataFrame = {
    val spark = ChildSession(spark0, MvRewrite.EnabledKey -> "true")
    val scratch = refreshRetract(spark, dir)
    import spark.implicits._
    currentRows(spark, scratch)
      .groupBy($"yr")
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_items"))
      .orderBy($"yr")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opt_mv_ivm_distinct" -> (served _),
    "opt_mv_ivm_retract" -> (servedRetract _))

  /** Raw-table recomputes — prove the incremental SET/multiset state
    * exact (the retract twin re-applies the forget filter from scratch).
    */
  val oracle: Map[String, String] = Map(
    "opt_mv_ivm_distinct" ->
      """SELECT year(l_shipdate)::INT AS yr,
       count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
       count(*)::BIGINT AS n_items
FROM lineitem
GROUP BY 1
ORDER BY yr""",
    "opt_mv_ivm_retract" ->
      s"""SELECT year(l_shipdate)::INT AS yr,
       count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
       count(*)::BIGINT AS n_items
FROM lineitem
WHERE l_orderkey NOT IN (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    WHERE substring(md5(c_custkey::VARCHAR), 1, 1)
            = '${graft.ingest.ForgetFlow.RequestNibble}'))
GROUP BY 1
ORDER BY yr""")
}

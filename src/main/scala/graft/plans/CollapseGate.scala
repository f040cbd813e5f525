package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.SQLConfHelper
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.internal.Logging

/** The shared cost gate behind the aggregate-moving rewrites
  * ([[EagerAggregation]]'s below-join partial, [[RerollExpandAggregate]]'s
  * below-Expand leaf): both pay one extra exchange of leaf-grain rows to
  * remove work proportional to the input, so both are wins exactly when
  * the leaf grain COLLAPSES the input hard enough — and, at bench-able
  * scale, when the work removed is large enough in ABSOLUTE terms to
  * outrun the rewrite's fixed costs (an extra aggregation stage and its
  * exchange). Three thresholds; the two floors are conf-tunable per rule:
  *
  *  - [[CollapseGate.MaxRatio]]: |distinct leaf keys| / |rows| must be
  *    ≤ 0.1 — the sf0.1 ledgers put the wall break-even between a 4:1
  *    collapse (measured LOSS: the leaf hash-aggregate costs more than
  *    the shuffled rows it saves) and a ~600:1 collapse (measured win), so
  *    the gate demands an order of magnitude.
  *  - [[MinSavedRowsKey]]: `savedFactor × rows × (1 − ratio)` — the
  *    caller's estimate of rows removed from the pre-shuffle path (the
  *    join exchange for eager aggregation; the Expand replication,
  *    `savedFactor = G−1`, for the re-roll) — must be ≥ this. Guards the
  *    FIXED cost: below a few million saved rows the extra exchange
  *    dominates on any hardware this was measured on; at 100 TB any
  *    qualifying plan clears it by orders of magnitude. Per-rule default
  *    (constructor): 0 disables the floor.
  *  - [[MinSavedBytesKey]]: saved rows × the child's unsafe-row output
  *    width (`defaultSize` sum) must be ≥ this. The byte twin of the rows
  *    floor, for rules whose benefit axis is SHUFFLE BYTES rather than
  *    operator rows: the r11 `eager_agg_hc` ledger measured a 600:1
  *    collapse wall-POSITIVE (forced 0.70s vs off 0.84s, shuffle 44 KB vs
  *    5.5 MB) yet the 2M-ROW floor declined it — 599k saved rows is few,
  *    but ~10 MB of saved exchange is not. Per-rule default (constructor):
  *    0 disables it.
  *
  * Estimation order:
  *
  *  1. Catalog stats, when the plan carries a row count AND a distinct
  *     count for every (attribute) leaf key — the CBO/ANALYZE path, free.
  *  2. Else a probe: one `count + approx_count_distinct` pass over the key
  *     columns, executed through [[org.apache.spark.sql.graft.PlanDF]]
  *     with a re-entrancy latch held (rules must skip the probe's own
  *     optimization), cached per canonicalized (plan, keys). The probe is
  *     KEY-HASH-SAMPLED ([[CollapseGate.SampleMod]] = 16): rows with
  *     `hash(keys) % 16 ≠ 0` pass only through `count`, and the distinct
  *     sketch sees 1/16 of the KEYS, each kept or dropped with ALL its
  *     rows. Because sampling is key-coherent, `d_s / n_s` is an
  *     (asymptotically) unbiased estimate of ndv/rows at ~1/16 the
  *     aggregation cost — unlike a LIMIT prefix, which over-observes
  *     distincts (a random 100k-row prefix of a 4-rows-per-key fact covers
  *     ~73% distinct keys where the full input collapses to 0.25 —
  *     measured at sf0.1). The exact total row count rides the same
  *     single pass.
  *
  * [[ProbeRowsKey]] only switches the gate: unset or negative probes,
  * `0` disables the gate (the rewrite fires ungated — the forced arms),
  * and a positive value is rejected.
  *
  * The probe's SCAN is itself bounded ([[CollapseGate.ProbeFileFraction]]):
  * when the child reads exactly one file-based relation, the probe scans a
  * deterministic ≤10% subset of its FILES (evenly strided over the sorted
  * path list, so a date-partitioned layout contributes every era) and
  * scales the row count back up by the subset's BYTE fraction. At 100 TB
  * un-ANALYZEd this is the difference between a planning-time probe
  * reading a key column of the whole lake and it reading a few files. Two
  * estimation consequences, both conservative:
  *
  *  - rows: scaled by byte fraction — exact for uniform row widths, close
  *    elsewhere;
  *  - ratio: keys that SPAN files are observed once per subset file, so
  *    `d/ns` over a fraction `p` of files over-estimates the true ratio by
  *    at most 1/p — biased TOWARD DECLINING, the cheap failure mode (one
  *    forgone win, never a redundant exchange). A genuinely qualifying
  *    collapse (the gate demands ≥10×) still reads ≤ p⁻¹·ratio ≪ the
  *    maximum ratio at the scales where the rewrite matters.
  *
  * Single-file inputs (the sf0.1 test tables) keep the full scan — there
  * is nothing to bound.
  *
  * Inputs smaller than [[CollapseGate.MinRows]] skip the gate — the
  * estimate is too noisy to act on and the decision too cheap to matter.
  * Streaming children skip it too (no batch probe possible). A FAILED
  * probe declines the rewrite without caching: the stock plan is the
  * never-worse fallback, and a transient failure (cancelled job) must not
  * pin a session-lifetime decision either way. Either failure mode costs
  * one redundant shuffle or one forgone win, never a wrong answer.
  */
final class CollapseGate(rule: String, confPrefix: String,
    defaultMinSavedRows: Long = 0L,
    defaultMinSavedBytes: Long = 0L)
    extends SQLConfHelper with Logging {

  val ProbeRowsKey = s"$confPrefix.probeRows"
  val MinSavedRowsKey = s"$confPrefix.minSavedRows"
  val MinSavedBytesKey = s"$confPrefix.minSavedBytes"

  /** Re-entrancy latch shared by ALL gates on the thread: a probe's own
    * optimization must not probe (rules consult [[probing]] in apply).
    */
  def probing: Boolean = CollapseGate.probing.get

  // (rows, ratio) per canonicalized (plan, keys); boxed value so a missing
  // key reads as null, never as a zero hit
  private val ratioCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()

  /** Cache entry count — EagerAggSpec pins that re-building the same query
    * does NOT re-probe (the r11 cache-key exprId bug's regression guard).
    */
  private[graft] def probeCacheSize: Int = ratioCache.size

  /** true = rewrite, false = decline. `savedFactor` scales the estimated
    * saved rows: 1 for eager aggregation (rows removed from the join
    * exchange ≈ rows − leafGroups), G−1 for the re-roll (Expand copies
    * avoided per input row).
    */
  def ok(child: LogicalPlan, keys: Seq[Expression],
      savedFactor: Double = 1.0): Boolean = {
    import CollapseGate.{MaxRatio, MinRows}
    val probeRows = conf.getConfString(ProbeRowsKey, "-1").toLong
    if (probeRows > 0) throw new IllegalArgumentException(
      s"$ProbeRowsKey=$probeRows: only a negative value (probe) or 0 " +
        "(gate off) is supported")
    val minSaved =
      conf.getConfString(MinSavedRowsKey, defaultMinSavedRows.toString).toLong
    val minSavedBytes =
      conf.getConfString(MinSavedBytesKey, defaultMinSavedBytes.toString).toLong
    if (probeRows == 0 || child.isStreaming) return true
    // the saved-bytes floor prices saved rows at the child's unsafe-row
    // width — defaultSize is the planner's own per-type estimate, the same
    // coin sizeInBytes stats are minted in
    val rowWidth = child.output.map(_.dataType.defaultSize).sum.max(1)

    def decide(rows: Long, ratio: Double): Boolean = {
      if (rows < MinRows) return true // too small to gate: always rewrite
      val saved = savedFactor * rows * (1.0 - ratio)
      val savedBytes = saved * rowWidth
      val accept = ratio <= MaxRatio && saved >= minSaved &&
        savedBytes >= minSavedBytes
      if (!accept) logInfo(f"$rule declined: collapse ratio $ratio%.4f " +
        f"(max $MaxRatio), saved rows ≈ $saved%.0f (min $minSaved), " +
        f"saved bytes ≈ $savedBytes%.0f (min $minSavedBytes)")
      accept
    }

    // --- stats path: rowCount + per-key distinctCount when ANALYZEd ----
    val stats = child.stats
    stats.rowCount match {
      case Some(rc) if rc.toLong < MinRows => return true
      case Some(rc) =>
        val ndvs = keys.map {
          case a: Attribute =>
            stats.attributeStats.get(a).flatMap(_.distinctCount)
          case _ => None
        }
        if (ndvs.forall(_.isDefined)) {
          // independence upper bound, capped by the row count itself
          val ndv = ndvs.flatten.foldLeft(BigInt(1))(_ * _).min(rc)
          return decide(rc.toLong, ndv.toDouble / rc.toDouble)
        }
      case None => ()
    }

    // --- probe path ----------------------------------------------------
    val spark = SparkSession.getActiveSession.getOrElse(return true)
    // key normalization: QueryPlan.canonicalized renumbers the CHILD's
    // exprIds positionally, but Expression.canonicalized does NOT — a key
    // stringified with its live exprIds is unique per DataFrame
    // construction, which made this cache miss (and the probe re-scan the
    // fact) on every query build until r11. Rewrite each attribute to its
    // position in child.output first.
    val pos: Map[Long, Int] = child.output.map(_.exprId.id).zipWithIndex.toMap
    val keyTag = keys.map(_.canonicalized.transformUp {
      case a: Attribute => Literal(pos.getOrElse(a.exprId.id, -1))
    }.toString).mkString(",")
    // semanticHash of the canonicalized plan, NOT its treeString: the
    // string truncates at spark.sql.debug.maxToStringFields, so two wide
    // plans differing only past the cut would collide and reuse each
    // other's ratio (wrong gate decision, never wrong results); the output
    // schema rides along so an Int-hash collision needs a schema match too
    val cacheKey = child.semanticHash().toString + "|" +
      child.output.map(a => a.name + ":" + a.dataType.simpleString)
        .mkString(";") + "|" + keyTag
    val cached = ratioCache.get(cacheKey)
    val (rows, ratio): (Long, Double) = if (cached != null) cached else {
      CollapseGate.probing.set(true)
      try {
        import org.apache.spark.sql.catalyst.plans.logical.Project
        val named = keys.zipWithIndex.map { case (k, i) =>
          Alias(k, s"_gate_k$i")(): NamedExpression
        }
        // bound the SCAN, not just the sketch: a deterministic file subset
        // of the child's (single) relation, rows scaled back by the byte
        // fraction — see the class doc for the bias story
        val (boundedChild, byteFrac) =
          CollapseGate.boundFiles(child, CollapseGate.ProbeFileFraction)
        val probe = org.apache.spark.sql.graft.PlanDF.ofRows(spark,
          Project(named, boundedChild))
        val keyCols = named.map(n => probe.col(n.name))
        val row = CollapseGate.probeAgg(probe, keyCols,
          CollapseGate.SampleMod).head()
        val n = (row.getLong(0) / byteFrac).toLong
        val ns = row.getLong(1)
        val d = row.getLong(2)
        // ns == 0 with n > 0: fewer than ~16 distinct keys exist at all —
        // the collapse is extreme, ratio ≈ 0
        val r = if (ns == 0) 0.0 else d.toDouble / ns.toDouble
        ratioCache.put(cacheKey, (n, r))
        (n, r)
      } catch { case e: Throwable =>
        // decline WITHOUT caching: stock is the never-worse plan, and a
        // transient failure must not pin a session-lifetime forced-on (the
        // old MaxValue sentinel cleared every floor) or forced-off: an
        // UNCONDITIONAL false, whatever the floors
        logWarning(s"$rule probe failed, declining rewrite (not cached): $e")
        return false
      } finally CollapseGate.probing.set(false)
    }
    decide(rows, ratio)
  }
}

object CollapseGate {
  /** The largest |distinct leaf keys| / |rows| the gate accepts. */
  val MaxRatio = 0.1

  /** Inputs with fewer rows skip the gate. */
  val MinRows = 1000L

  /** The probe's key-hash sample modulus: 1/16 of the keys feed the sketch. */
  val SampleMod = 16

  /** The probe scans at most this fraction of a single relation's files. */
  val ProbeFileFraction = 0.1

  private val probing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  /** A [[FileIndex]] view keeping only `keep` paths — the probe's bounded
    * scan. Partition values and schema pass through; pruned-empty
    * partitions drop whole (their files contribute no probe rows either
    * way).
    */
  private final class SubsetFileIndex(inner: FileIndex, keep: Set[String],
      keptBytes: Long) extends FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = inner.rootPaths
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      inner.listFiles(partitionFilters, dataFilters)
        .map(pd => pd.copy(files = pd.files.filter(f => keep(f.getPath.toString))))
        .filter(_.files.nonEmpty)
    override def inputFiles: Array[String] = inner.inputFiles.filter(keep)
    override def refresh(): Unit = inner.refresh()
    override def sizeInBytes: Long = keptBytes
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      inner.partitionSchema
  }

  /** Replace `child`'s single file-based relation with a deterministic
    * ≤`frac` subset of its files (evenly strided over the sorted path
    * list), returning the bounded plan and the kept BYTE fraction the
    * probe's row count must scale back by. Plans that are not one
    * file-relation leaf — or whose relation has too few files for a subset
    * to mean anything — pass through unbounded (fraction 1.0).
    */
  private[graft] def boundFiles(child: LogicalPlan, frac: Double)
      : (LogicalPlan, Double) = {
    if (frac >= 1.0 || frac <= 0.0) return (child, 1.0)
    val rels = child.collect {
      case lr @ LogicalRelation(_: HadoopFsRelation, _, _, _, _) => lr }
    if (rels.size != 1 || child.collectLeaves().size != 1) return (child, 1.0)
    val fs = rels.head.relation.asInstanceOf[HadoopFsRelation]
    val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen)).sortBy(_._1)
    val keepN = math.max(1, math.ceil(files.size * frac).toInt)
    if (keepN >= files.size) return (child, 1.0)
    // even stride over sorted paths: a lexicographic (≈ time-partitioned)
    // layout contributes files from every era, not one hot prefix
    val step = files.size.toDouble / keepN
    val kept = (0 until keepN).map(i => files((i * step).toInt)).distinct
    val totalBytes = files.map(_._2).sum
    if (totalBytes <= 0) return (child, 1.0)
    val keptBytes = kept.map(_._2).sum
    // a kept subset of zero-length files would make byteFrac 0.0 and the
    // scale-back divide the probe's row count by zero — fall back to the
    // unbounded probe rather than gate on garbage
    if (keptBytes <= 0) return (child, 1.0)
    val index = new SubsetFileIndex(fs.location, kept.map(_._1).toSet, keptBytes)
    val bounded = child.transform {
      case lr @ LogicalRelation(hfs: HadoopFsRelation, _, _, _, _) =>
        lr.copy(relation = hfs.copy(location = index)(hfs.sparkSession))
    }
    (bounded, keptBytes.toDouble / totalBytes)
  }

  /** The bounded probe as a (DataFrame, byteFraction) pair over `df`'s own
    * plan — exposed so the bench `gate_probe` ledger and the gate spec
    * price the SAME file-subset scan the gate runs at planning time.
    */
  private[graft] def boundedProbe(df: DataFrame, keys: Seq[String],
      frac: Double, sampleMod: Int): (DataFrame, Double) = {
    val (bounded, byteFrac) =
      boundFiles(df.queryExecution.analyzed, frac)
    val pdf = org.apache.spark.sql.graft.PlanDF.ofRows(df.sparkSession, bounded)
    (probeAgg(pdf, keys.map(pdf.col), sampleMod), byteFrac)
  }

  /** The probe aggregate over `df` with `keyCols` as the leaf keys: one
    * row `(n, ns, d)` — total rows, key-hash-sampled rows, distinct
    * sampled keys (HLL). `sampleMod ≤ 1` keeps every key (`ns = n`, `d`
    * exact-probe). Exposed so the bench ledger and the gate spec measure
    * the SAME probe the gate runs.
    */
  def probeAgg(df: DataFrame, keyCols: Seq[Column], sampleMod: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    if (sampleMod <= 1)
      df.agg(count(lit(1)).as("n"), count(lit(1)).as("ns"),
        approx_count_distinct(struct(keyCols: _*)).as("d"))
    else {
      // key-coherent sample: a key's rows are kept or dropped as a unit,
      // so d/ns estimates ndv/rows without the prefix probe's bias
      val s = pmod(hash(keyCols: _*), lit(sampleMod)) === 0
      df.agg(count(lit(1)).as("n"),
        count(when(s, 1)).as("ns"),
        approx_count_distinct(when(s, struct(keyCols: _*))).as("d"))
    }
  }
}

package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

import graft.functions.Md5Hash

/** File-level data skipping: prune a scan's FILE LIST at plan time from a
  * write-time per-file statistics sidecar (min/max envelopes + a Bloom
  * filter), below the granularity partition pruning can reach.
  *
  * The layered pruning story so far: static partition filters prune named
  * partition directories; [[DerivedPartitionFilter]] derives them from
  * data-column predicates; Catalyst's dynamic partition pruning derives
  * them from a dim join at runtime. All three stop at DIRECTORY
  * granularity. But the selective scans the reference serves with B-tree
  * indexes (`/root/reference/sql/01_schema.sql:19-34`) hit UNPARTITIONED
  * key columns — and at 100 TB a flat or Z-ordered layout is 100k files on
  * object storage, where the dominant cost of `key = ?` is listing,
  * opening, and scheduling tasks for 100k files to find the ~3 that
  * matter. Parquet's own row-group stats can't help: the reader consults
  * them only AFTER the file is opened. Delta and Iceberg solve this with
  * per-file stats consulted at PLANNING time; this rule is that consumer
  * for plain parquet layouts:
  *
  *  - the WRITER lands the layout, then [[index]] collects per-file
  *    min/max envelopes from parquet FOOTERS alone
  *    ([[graft.warehouse.FileManifest.build]] — metadata I/O, no row
  *    decode) plus an optional per-file Bloom filter over a point-lookup
  *    column (one codegen'd `bit_or` aggregation pass), and persists both
  *    as `_graft_filestats.json` under the layout root;
  *  - at plan time, for a `Filter` directly over the layout's relation,
  *    the rule evaluates the filter's supported conjuncts against each
  *    file's stats and swaps the relation's [[FileIndex]] for a
  *    [[SkipPrunedFileIndex]] that hides the files which provably contain
  *    no matching row. The filter itself is untouched — exactness never
  *    depends on the stats — so a pruned plan and an unpruned plan are
  *    row-identical by construction (FileSkipSpec pins parity, the
  *    executed scan's file count, and the cleared-registry fresh-session
  *    path; the bench `file_skip` ledger prices the cut).
  *
  * '''Soundness.''' A file is dropped only when some null-intolerant
  * conjunct contradicts its stats: `c = v` with `v` outside the file's
  * `[min, max]` or rejected by its Bloom filter, `c >= v` with
  * `max < v`, etc. Rows with `c` NULL cannot satisfy any of these
  * conjuncts, so null-heavy files prune correctly; min/max come from
  * parquet footer statistics which every row group must carry
  * ([[graft.warehouse.FileManifest.build]] fails loudly otherwise — a
  * partial envelope must never read as prunable); Bloom rejection has no
  * false negatives by construction. Files the sidecar does not list, and
  * files whose on-disk length no longer matches the recorded one (a
  * partial re-land over a stale sidecar), are always kept.
  *
  * '''Scale shape.''' The envelope pass reads ~KB footers (minutes for a
  * 100 TB table, parallelized across executors); the Bloom pass is one
  * linear scan with a map-side-combinable `bit_or` aggregate — both are
  * write-time costs amortized over every subsequent selective read. The
  * sidecar is driver-bounded by files × words
  * ([[MaxBloomCells]] fail-loud cap); a 100k-file production layout
  * shards the sidecar per directory the way Delta checkpoints do —
  * mechanical, not done here.
  *
  * Registry discipline mirrors [[DerivedPartitionFilter]]: in-process
  * registry for the writer's JVM, lazily-loaded sidecar for every other
  * session, [[register]] replaces, [[deregister]] clears a root, rule
  * ships session-gated default-off.
  */
object FileSkipIndex extends Rule[LogicalPlan] with PredicateHelper {

  /** Session opt-in (default OFF, consistent with the other graft rules). */
  val EnabledKey = "spark.sql.graft.fileSkip.enabled"

  /** Sidecar file name under the layout root (underscore prefix = invisible
    * to Spark's file listing, like `_SUCCESS`).
    */
  val SidecarName = "_graft_filestats.json"

  /** Bloom hash count (matches the Md5Hash-derived family everywhere). */
  val K = 3

  /** Usable bits per Bloom word (bit 63 kept clear — the
    * [[graft.analytics.BloomSketch]] discipline, shared with the DuckDB
    * twin's overflow-checked `<<`).
    */
  val WordBits = 63

  /** Fail-loud cap on files × words collected to the driver at index-build
    * time (≈ 128 MB of longs). Beyond this, shard the sidecar.
    */
  val MaxBloomCells: Long = 16L << 20

  /** Per-file Bloom filter: `words(p / 63) bit (p % 63)` set for each of
    * the [[K]] md5-derived positions of each present key.
    */
  final case class BloomStat(col: String, words: Array[Long]) {
    def mightContain(v: Long): Boolean = {
      val mBits = words.length.toLong * WordBits
      (0 until K).forall { j =>
        val p = Md5Hash.md5Int(s"fskip$j:$v") % mBits
        (words((p / WordBits).toInt) >>> (p % WordBits).toInt & 1L) == 1L
      }
    }
  }

  /** One file's stats: name is the path RELATIVE to the layout root; `len`
    * is the byte length at index time (the staleness guard the pruner
    * checks against the live listing).
    */
  final case class FileStat(name: String, len: Long, rows: Long,
      env: Map[String, (Long, Long)], bloom: Option[BloomStat])

  /** A layout's complete index: every data file under `root` at index
    * time, keyed by relative name.
    */
  final case class LayoutStats(root: String, files: Seq[FileStat]) {
    val byName: Map[String, FileStat] = files.map(f => f.name -> f).toMap
  }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, LayoutStats]()
  private val sidecarChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def norm(p: String): String = new Path(p).toUri.getPath

  /** Register a layout's stats (REPLACES any prior entry for the root). */
  def register(stats: LayoutStats): Unit =
    registry.put(norm(stats.root), stats.copy(root = norm(stats.root)))

  def deregister(root: String): Unit = {
    registry.remove(norm(root))
    sidecarChecked.remove(norm(root))
  }

  def clear(): Unit = { registry.clear(); sidecarChecked.clear() }

  private[graft] def registered(root: String): Option[LayoutStats] =
    Option(registry.get(norm(root)))

  // =====================================================================
  // Index build (write-time)
  // =====================================================================

  /** Build + register + persist the stats index for the flat parquet
    * layout at `root`: min/max envelopes for `rangeCols` (from footers),
    * and a `words`-long Bloom filter per file over `bloomCol` (one
    * distributed scan). Returns the stats.
    */
  def index(spark: SparkSession, root: String, rangeCols: Seq[String],
      bloomCol: Option[String], words: Int): LayoutStats = {
    val lens = listLens(spark, root)
    val stats = LayoutStats(root,
      statsFor(spark, root, lens, rangeCols, bloomCol, words))
    register(stats)
    persist(spark, stats)
    stats
  }

  /** Incrementally extend `root`'s index with the files that appeared
    * since the last [[index]]/[[indexAppend]] — the append-only ingest
    * path: each landed batch manifests just ITS files' footers and Bloom
    * words, prior entries are reused verbatim, and the merged sidecar is
    * re-persisted. Between the append and this call the new files are
    * simply unknown to the pruner and always read, so the index can LAG
    * ingest without correctness risk (FileSkipSpec pins both states).
    * Files that vanished since the last index are dropped from the stats.
    */
  def indexAppend(spark: SparkSession, root: String, rangeCols: Seq[String],
      bloomCol: Option[String], words: Int): LayoutStats = {
    val prior = registered(root).orElse {
      // adopt a sidecar written by another process before extending it
      sidecarChecked.remove(norm(root))
      loadSidecar(root, spark.sessionState.newHadoopConf())
      registered(root)
    }.map(_.byName).getOrElse(Map.empty)
    val lens = listLens(spark, root)
    val freshNames = lens.keySet.filterNot(prior.contains)
    val fresh = statsFor(spark, root, lens.view.filterKeys(freshNames).toMap,
      rangeCols, bloomCol, words)
    val stats = LayoutStats(root,
      (lens.keySet -- freshNames).toSeq.sorted.map(prior) ++ fresh)
    register(stats)
    persist(spark, stats)
    stats
  }

  /** The layout's live data files (recursive — a Hive-partitioned layout
    * keeps its files under `k=v/` subdirectories): relative name → byte
    * length. Relative names retain the partition path, so nested layouts
    * index and prune exactly like flat ones.
    */
  private def listLens(spark: SparkSession, root: String): Map[String, Long] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Map.newBuilder[String, Long]
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (s.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith("."))
        out += relName(fs, root, s.getPath.toString) -> s.getLen
    }
    out.result()
  }

  private def relName(fs: org.apache.hadoop.fs.FileSystem, root: String,
      p: String): String = {
    val rootUri = fs.makeQualified(new Path(root)).toString
    val q = fs.makeQualified(new Path(p)).toString
    require(q.startsWith(rootUri), s"$q not under $rootUri")
    q.stripPrefix(rootUri).stripPrefix("/")
  }

  /** Per-file stats for exactly the files in `lens` (envelopes from
    * footers, Bloom words from one scan of those files only).
    */
  private def statsFor(spark: SparkSession, root: String,
      lens: Map[String, Long], rangeCols: Seq[String],
      bloomCol: Option[String], words: Int): Seq[FileStat] = {
    import org.apache.spark.sql.functions._
    if (lens.isEmpty) return Nil
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rel(p: String): String = relName(fs, root, p)
    val paths = lens.keys.toSeq.sorted.map(n => s"$root/$n")
    // envelopes from footers only, labeled by FULL path (part-file names
    // repeat across `k=v/` partition directories) and mapped back to the
    // layout-relative name
    val envRows = graft.warehouse.FileManifest
      .buildFiles(spark, paths, rangeCols, label = identity)
      .collect()
      .map(r => (rel(r.getString(0)), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val envByFile = envRows.groupBy(_._1).map { case (f, rs) =>
      f -> (rs.map(r => r._2 -> (r._3, r._4)).toMap, rs.head._5)
    }
    val blooms: Map[String, Array[Long]] = bloomCol match {
      case None => Map.empty
      case Some(bc) =>
        require(lens.size.toLong * words <= MaxBloomCells,
          s"bloom sidecar would exceed $MaxBloomCells cells — shard it")
        val mBits = words.toLong * WordBits
        val keyed = spark.read.parquet(paths: _*)
          .select(input_file_name().as("f"), col(bc).cast("long").as("k"))
          .filter(col("k").isNotNull).distinct()
          .withColumn("j", explode(sequence(lit(0), lit(K - 1))))
          .withColumn("p", pmod(Md5Hash.h32(concat(lit("fskip"),
            col("j").cast("string"), lit(":"), col("k").cast("string"))),
            lit(mBits)))
          .groupBy(col("f"), expr(s"cast(p div $WordBits as int)").as("w"))
          .agg(expr(s"bit_or(shiftleft(1L, cast(p % $WordBits as int)))")
            .as("word"))
          .collect()
        keyed.groupBy(r => rel(r.getString(0))).map { case (f, rs) =>
          val arr = new Array[Long](words)
          rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
          f -> arr
        }
    }
    lens.keys.toSeq.sorted.map { name =>
      val (env, rows) = envByFile.getOrElse(name, (Map.empty[String, (Long, Long)], 0L))
      FileStat(name, lens(name), rows, env,
        blooms.get(name).map(BloomStat(bloomCol.get, _)))
    }
  }

  // =====================================================================
  // Sidecar IO
  // =====================================================================

  private def persist(spark: SparkSession, stats: LayoutStats): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    stats.files.foreach { f =>
      val o = om.createObjectNode()
      o.put("name", f.name); o.put("len", f.len); o.put("rows", f.rows)
      val e = om.createObjectNode()
      f.env.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = om.createArrayNode(); a.add(lo); a.add(hi); e.set[com.fasterxml.jackson.databind.JsonNode](c, a)
      }
      o.set[com.fasterxml.jackson.databind.JsonNode]("env", e)
      f.bloom.foreach { b =>
        val bo = om.createObjectNode()
        bo.put("col", b.col)
        val bb = java.nio.ByteBuffer.allocate(b.words.length * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.words.foreach(bb.putLong)
        bo.put("data", java.util.Base64.getEncoder.encodeToString(bb.array()))
        o.set[com.fasterxml.jackson.databind.JsonNode]("bloom", bo)
      }
      arr.add(o)
    }
    val path = new Path(stats.root, SidecarName)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try out.write(om.writeValueAsBytes(arr)) finally out.close()
    sidecarChecked.put(norm(stats.root), true)
  }

  /** Lazily load `root`'s sidecar (once per process per root; misses are
    * cached) — what makes a FRESH session prune a layout it never wrote.
    */
  private def loadSidecar(rootRaw: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val root = norm(rootRaw)
    if (sidecarChecked.containsKey(root)) return
    val found: Boolean = try {
      val path = new Path(rootRaw, SidecarName)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) false else {
        val in = fs.open(path)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(bytes)
        val files = scala.collection.mutable.ArrayBuffer[FileStat]()
        val it = node.elements()
        while (it.hasNext) {
          val e = it.next()
          val env = scala.collection.mutable.Map[String, (Long, Long)]()
          val fields = e.path("env").properties().iterator()
          while (fields.hasNext) {
            val kv = fields.next()
            env(kv.getKey) =
              (kv.getValue.get(0).asLong(), kv.getValue.get(1).asLong())
          }
          val bloom = Option(e.get("bloom")).map { b =>
            val raw = java.util.Base64.getDecoder.decode(b.path("data").asText())
            val bb = java.nio.ByteBuffer.wrap(raw)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val ws = new Array[Long](raw.length / 8)
            var i = 0
            while (i < ws.length) { ws(i) = bb.getLong(); i += 1 }
            BloomStat(b.path("col").asText(), ws)
          }
          files += FileStat(e.path("name").asText(), e.path("len").asLong(),
            e.path("rows").asLong(), env.toMap, bloom)
        }
        if (files.nonEmpty) {
          registry.put(root, LayoutStats(root, files.toSeq))
          logInfo(s"loaded file stats for ${files.size} file(s) from $path")
        }
        files.nonEmpty
      }
    } catch { case e: Throwable =>
      logWarning(s"filestats sidecar load failed for $rootRaw (ignored): $e")
      false
    }
    sidecarChecked.put(root, found)
  }

  // =====================================================================
  // The rule
  // =====================================================================

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "false").toBoolean) plan
    else plan.transformUp {
      case f @ Filter(cond, child) =>
        prune(cond, child).map(nl => Filter(cond, nl)).getOrElse(f)
    }

  private def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case s: SubqueryAlias => unwrap(s.child)
    case other            => other
  }

  /** The relation with a pruned file index, or None when nothing prunes. */
  private def prune(cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    val (lr, fsRel) = unwrap(child) match {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => (lr, fs)
      case _ => return None
    }
    if (fsRel.location.rootPaths.size != 1) return None
    val rootRaw = fsRel.location.rootPaths.head.toString
    loadSidecar(rootRaw, fsRel.sparkSession.sessionState.newHadoopConf())
    val stats = registered(rootRaw).getOrElse(return None)
    val preds = supported(cond, lr)
    if (preds.isEmpty) return None
    val kept = stats.files.filter(f => preds.forall(_.admits(f))).map(_.name).toSet
    if (kept.size == stats.files.size) return None
    // fixed point: re-deriving the same kept set over an already-pruned
    // index is a no-op; a DIFFERENT set (new conjuncts) re-wraps the
    // ORIGINAL index, never a wrapper
    val inner = fsRel.location match {
      case p: SkipPrunedFileIndex =>
        if (p.keptNames == kept) return None else p.inner
      case other => other
    }
    val pruned = new SkipPrunedFileIndex(inner, norm(rootRaw), kept,
      stats.byName.view.mapValues(_.len).toMap)
    logInfo(s"file-skip: ${kept.size}/${stats.files.size} files admitted " +
      s"under $rootRaw")
    Some(lr.copy(relation = fsRel.copy(location = pruned)(fsRel.sparkSession)))
  }

  /** One supported null-intolerant conjunct bound to a stats column. */
  private[plans] sealed trait SkipPred {
    def col: String
    /** Whether `f` may contain a matching row (false = provably not). */
    def admits(f: FileStat): Boolean
  }
  private final case class Ge(col: String, v: Long) extends SkipPred {
    def admits(f: FileStat) = f.env.get(col).forall(_._2 >= v)
  }
  private final case class Gt(col: String, v: Long) extends SkipPred {
    def admits(f: FileStat) = f.env.get(col).forall(_._2 > v)
  }
  private final case class Le(col: String, v: Long) extends SkipPred {
    def admits(f: FileStat) = f.env.get(col).forall(_._1 <= v)
  }
  private final case class Lt(col: String, v: Long) extends SkipPred {
    def admits(f: FileStat) = f.env.get(col).forall(_._1 < v)
  }
  private final case class Pt(col: String, v: Long) extends SkipPred {
    def admits(f: FileStat) =
      f.env.get(col).forall { case (lo, hi) => lo <= v && v <= hi } &&
        f.bloom.forall(b => b.col != col || b.mightContain(v))
  }
  private final case class InVals(col: String, vs: Seq[Long]) extends SkipPred {
    def admits(f: FileStat) = vs.exists(v => Pt(col, v).admits(f))
  }

  /** Extract the supported conjuncts of `cond` bound (by exprId) to the
    * relation's own integral columns.
    */
  private def supported(cond: Expression, lr: LogicalRelation): Seq[SkipPred] = {
    def bind(e: Expression): Option[String] = e match {
      case a: Attribute =>
        lr.output.find(_.exprId == a.exprId).map(_.name)
      case _ => None
    }
    // integral types compare as raw longs; DATE literals are epoch DAYS
    // (int) and TIMESTAMP literals epoch MICROS (long) — exactly the units
    // parquet footer stats carry for those logical types, so the envelope
    // comparison is unit-consistent by construction
    def longOf(l: Literal): Option[Long] = l.dataType match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType =>
        Option(l.value).map(_.asInstanceOf[java.lang.Number].longValue())
      case _ => None
    }
    splitConjunctivePredicates(cond).flatMap {
      case GreaterThanOrEqual(a, l: Literal) =>
        for (c <- bind(a); v <- longOf(l)) yield Ge(c, v)
      case GreaterThan(a, l: Literal) =>
        for (c <- bind(a); v <- longOf(l)) yield Gt(c, v)
      case LessThanOrEqual(a, l: Literal) =>
        for (c <- bind(a); v <- longOf(l)) yield Le(c, v)
      case LessThan(a, l: Literal) =>
        for (c <- bind(a); v <- longOf(l)) yield Lt(c, v)
      // mirrored literal-first forms
      case GreaterThanOrEqual(l: Literal, a) =>
        for (c <- bind(a); v <- longOf(l)) yield Le(c, v)
      case GreaterThan(l: Literal, a) =>
        for (c <- bind(a); v <- longOf(l)) yield Lt(c, v)
      case LessThanOrEqual(l: Literal, a) =>
        for (c <- bind(a); v <- longOf(l)) yield Ge(c, v)
      case LessThan(l: Literal, a) =>
        for (c <- bind(a); v <- longOf(l)) yield Gt(c, v)
      case EqualTo(a, l: Literal) =>
        for (c <- bind(a); v <- longOf(l)) yield Pt(c, v)
      case EqualTo(l: Literal, a) =>
        for (c <- bind(a); v <- longOf(l)) yield Pt(c, v)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        for {
          c <- bind(a)
          ls <- Some(vs.map(v => longOf(v.asInstanceOf[Literal])))
          if ls.forall(_.isDefined)
        } yield InVals(c, ls.map(_.get))
      case _ => None
    }
  }
}

/** A [[FileIndex]] that delegates to `inner` but hides files the stats
  * index proved empty of matches. Unknown files (not in the stats at
  * prune time) and files whose live length differs from the recorded one
  * (stale sidecar after a partial re-land) are ALWAYS listed — staleness
  * degrades to no-pruning, never to wrong results.
  */
final class SkipPrunedFileIndex(val inner: FileIndex, rootNorm: String,
    val keptNames: Set[String], statLen: Map[String, Long]) extends FileIndex {

  private def relName(f: FileStatusWithMetadata): String =
    f.getPath.toUri.getPath.stripPrefix(rootNorm).stripPrefix("/")

  private def keep(f: FileStatusWithMetadata): Boolean = {
    val n = relName(f)
    statLen.get(n) match {
      case None                          => true // unknown file: never prune
      case Some(l) if l != f.getLen      => true // stale stats: never prune
      case Some(_)                       => keptNames(n)
    }
  }

  override def rootPaths: Seq[Path] = inner.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters)
      .map(pd => PartitionDirectory(pd.values, pd.files.filter(keep)))

  override def inputFiles: Array[String] = inner.inputFiles.filter(p =>
    statLen.get(new Path(p).toUri.getPath.stripPrefix(rootNorm)
      .stripPrefix("/")) match {
      case None    => true
      case Some(_) => keptNames(new Path(p).toUri.getPath
        .stripPrefix(rootNorm).stripPrefix("/"))
    })

  override def refresh(): Unit = inner.refresh()

  /** Inner size minus the pruned files' recorded bytes — never undercounts
    * files the stats don't know about.
    */
  override def sizeInBytes: Long = {
    val prunedBytes = statLen.collect {
      case (n, l) if !keptNames(n) => l
    }.sum
    math.max(0L, inner.sizeInBytes - prunedBytes)
  }

  override def partitionSchema: org.apache.spark.sql.types.StructType =
    inner.partitionSchema

  override def metadataOpsTimeNs: Option[Long] = inner.metadataOpsTimeNs
}

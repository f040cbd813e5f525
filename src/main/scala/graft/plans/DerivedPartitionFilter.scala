package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType}

/** Generated-column partition transitivity: derive PARTITION-column
  * predicates from DATA-column predicates, so a date-ranged query prunes
  * a derived-key partition layout it never names.
  *
  * The cluster-scale fact layout here
  * ([[graft.warehouse.PartitionedFact.factByMonth]], the reference's
  * month-bucketed reporting grain re-landed as `month_key=yyyyMM/`
  * directories) partitions by a column COMPUTED from a data column:
  * `month_key = date_key div 100`. Every consumer that filters on the
  * partition column prunes for free — but real dashboards filter on the
  * DATA column (`WHERE date_key BETWEEN 19960115 AND 19960420`, or just
  * as naturally `WHERE encounter_date BETWEEN DATE '…' AND DATE '…'` —
  * the reference's consumers filter through dim_time dates,
  * `/root/reference/sql/analytics_queries.sql:79`), and no stock
  * Catalyst rule connects the two: the scan lists and reads every
  * partition of a 100 TB layout to apply a four-month predicate.
  * Engines with generated-column metadata (Delta's `GENERATED ALWAYS
  * AS`, Hive's partition-expression pruning) close this gap in the
  * catalog; this rule closes it for plain parquet layouts via an
  * invariant the layout WRITER declares — and, since round 13, PERSISTS
  * with the layout itself:
  *
  * {{{
  *   DerivedPartitionFilter.register(path, "date_key", "month_key", 100L)
  *   DerivedPartitionFilter.registerDateMonth(path, "encounter_date", "month_key")
  *   DerivedPartitionFilter.persist(spark, path)  // sidecar under the root
  * }}}
  *
  * Two derivation SHAPES are supported, both monotone non-decreasing
  * maps `f: data → partition` (the property that makes bound transport
  * sound):
  *
  *  - `intdiv`: `p = d div k`, k > 0, non-negative integral domain
  *    (yyyyMMdd ints here; floor-division is monotone only on one sign,
  *    so negative literals derive nothing);
  *  - `yyyymm`: `p = year(d)*100 + month(d)` from a DateType data
  *    column — monotone over ALL dates (pre-1970 included), no domain
  *    restriction.
  *
  * For a filter conjunct on the data column the rule APPENDS the implied
  * conjunct on the partition column:
  *
  *  - `d >= A` / `d > A`  →  `p >= f(A)`
  *  - `d <= B` / `d < B`  →  `p <= f(B)`
  *  - `d = C`             →  `p = f(C)`
  *  - `d IN (…)`          →  `p IN (distinct f(…))`
  *
  * The ORIGINAL predicate always stays (exactness is its job; the
  * implied conjunct is strictly weaker row-wise), so the rewrite is
  * sound unconditionally: any row the implied conjunct drops was
  * already dropped by the original (monotonicity), and a null data
  * value nulls both. What the implied conjunct ADDS is plan-level:
  * [[org.apache.spark.sql.execution.datasources.FileSourceStrategy]]
  * splits it into the scan's `PartitionFilters`, so the layout prunes
  * to the named months BEFORE listing a data file — at 100 TB the
  * difference between reading 4 directories and reading ~84
  * (DerivedPartitionSpec pins the executed scan's partition filter, a
  * ScalaCheck soundness property, and row parity; the bench
  * `derived_dpp` ledger prices it).
  *
  * '''Durability.''' The in-process registry dies with the writer's JVM
  * — and at 100 TB the reader is NEVER the writer's JVM. So the writer
  * also persists the invariants as a sidecar `_graft_derivations.json`
  * under the layout root ([[persist]]; the leading underscore keeps it
  * invisible to Spark's file listing), and the rule lazily loads the
  * sidecar the first time it sees an unregistered relation root — a
  * fresh session reading the layout cold still prunes. The sidecar is
  * the same assertion a generated-column DDL makes in catalog-backed
  * engines, stored WITH the data the way `_metadata` folders are.
  *
  * '''Registry hygiene.''' [[register]] REPLACES any existing entry for
  * the same `(pathPrefix, dataCol, partCol)` triple — re-landing a
  * layout with a different divisor/kind cannot leave a stale invariant
  * active alongside the new one — and [[deregister]] drops every
  * invariant under a prefix for full re-lands. (The key includes
  * `dataCol` deliberately: `month_key` is legitimately derivable from
  * BOTH `date_key` and `encounter_date` at once — same layout, two
  * invariants — so keying on `(path, partCol)` alone would make the
  * second registration silently evict the first.)
  *
  * Scope guards (any miss leaves the plan untouched): the filter must
  * sit on the registered relation itself (through SubqueryAlias only —
  * after predicate pushdown that IS the shape), the predicate attribute
  * must resolve by exprId to the relation's own data column, literals
  * must be in the map's domain (non-negative integrals for `intdiv`,
  * non-null dates for `yyyymm`), and a conjunct already implied (by a
  * previous pass — this rule is fixed-point safe) is never re-added.
  * Ships session-gated like every graft rule ([[EnabledKey]], default
  * off) and derives nothing without a registration or sidecar.
  */
object DerivedPartitionFilter extends Rule[LogicalPlan] with PredicateHelper {

  /** Session opt-in (default OFF, consistent with the other graft rules). */
  val EnabledKey = "spark.sql.graft.derivedPartitionFilter.enabled"

  /** Sidecar file name under the layout root (underscore prefix = ignored
    * by Spark's InMemoryFileIndex listing, like `_SUCCESS`).
    */
  val SidecarName = "_graft_derivations.json"

  /** One write-time invariant: every row under `pathPrefix` satisfies
    * `partCol = f(dataCol)` where `f` is the monotone map named by
    * `kind` — `"intdiv"` (`d div divisor`) or `"yyyymm"`
    * (`year(d)*100 + month(d)` over DateType).
    */
  final case class Derivation(pathPrefix: String, dataCol: String,
      partCol: String, kind: String, divisor: Long) {
    require(kind == "intdiv" || kind == "yyyymm", s"unknown kind $kind")
    require(kind != "intdiv" || divisor > 0,
      "divisor must be positive (monotone division)")
  }

  // keyed by (normalized prefix, dataCol, partCol) so a re-registration
  // REPLACES the prior invariant for the same column pair instead of
  // accumulating a stale one alongside it
  private val registry = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), Derivation]()

  // roots whose sidecar has been probed this process (value = found);
  // negative entries stop a per-query FS stat on sidecar-less layouts
  private val sidecarChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Declare an `intdiv` layout invariant: `partCol = dataCol div divisor`
    * (integral, non-negative domain). The WRITER calls this right after
    * landing the partitioned layout; replaces any prior invariant for the
    * same `(pathPrefix, dataCol, partCol)`.
    */
  def register(pathPrefix: String, dataCol: String, partCol: String,
      divisor: Long): Unit =
    put(Derivation(norm(pathPrefix), dataCol, partCol, "intdiv", divisor))

  /** Declare a `yyyymm` layout invariant: `partCol = year(dataCol)*100 +
    * month(dataCol)` with `dataCol` a DateType column.
    */
  def registerDateMonth(pathPrefix: String, dataCol: String,
      partCol: String): Unit =
    put(Derivation(norm(pathPrefix), dataCol, partCol, "yyyymm", 0L))

  private def put(d: Derivation): Unit =
    registry.put((d.pathPrefix, d.dataCol, d.partCol), d)

  /** Drop every registered invariant under `pathPrefix` — the re-land
    * hook: a writer replacing a layout wholesale deregisters first so no
    * stale invariant of the old layout survives into the new one.
    */
  def deregister(pathPrefix: String): Unit = {
    val p = norm(pathPrefix)
    registry.keySet.removeIf(k => k._1 == p)
    sidecarChecked.remove(p)
  }

  def clear(): Unit = { registry.clear(); sidecarChecked.clear() }

  /** Write the sidecar: every registered derivation whose prefix is
    * exactly `layoutRoot`, as a JSON array under
    * `layoutRoot/_graft_derivations.json`. Overwrites — the sidecar is a
    * snapshot of the layout's CURRENT invariants, so a re-land that
    * deregisters + re-registers then persists leaves no stale entry on
    * disk either.
    */
  def persist(spark: SparkSession, layoutRoot: String): Unit = {
    val root = norm(layoutRoot)
    val ds = registry.values.toArray(Array.empty[Derivation])
      .filter(_.pathPrefix == root).sortBy(d => (d.dataCol, d.partCol))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    ds.foreach { d =>
      val o = om.createObjectNode()
      o.put("dataCol", d.dataCol); o.put("partCol", d.partCol)
      o.put("kind", d.kind); o.put("divisor", d.divisor)
      arr.add(o)
    }
    val path = new org.apache.hadoop.fs.Path(layoutRoot, SidecarName)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try out.write(om.writeValueAsBytes(arr)) finally out.close()
    sidecarChecked.put(root, true)
  }

  /** Lazily load `root`'s sidecar into the registry (once per process per
    * root; a missing or unreadable sidecar is cached as a miss). This is
    * what makes a FRESH session prune a layout its JVM never wrote.
    */
  private def loadSidecar(rootRaw: String, fsRel: HadoopFsRelation): Unit = {
    val root = norm(rootRaw)
    if (sidecarChecked.containsKey(root)) return
    val found: Boolean = try {
      val path = new org.apache.hadoop.fs.Path(rootRaw, SidecarName)
      val fs = path.getFileSystem(
        fsRel.sparkSession.sessionState.newHadoopConf())
      if (!fs.exists(path)) false else {
        val in = fs.open(path)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(bytes)
        var n = 0
        val it = node.elements()
        while (it.hasNext) {
          val e = it.next()
          put(Derivation(root,
            e.path("dataCol").asText(), e.path("partCol").asText(),
            e.path("kind").asText(), e.path("divisor").asLong(0L)))
          n += 1
        }
        logInfo(s"loaded $n derivation(s) from $path")
        n > 0
      }
    } catch { case e: Throwable =>
      logWarning(s"sidecar load failed for $rootRaw (ignored): $e"); false
    }
    sidecarChecked.put(root, found)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(EnabledKey, "false").toBoolean) plan
    else plan.transformUp {
      case f @ Filter(cond, child) =>
        derive(cond, child).map(extra => Filter(And(cond, extra), child))
          .getOrElse(f)
    }

  private def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case s: SubqueryAlias => unwrap(s.child)
    case other            => other
  }

  /** The conjunction of newly-implied partition predicates for this
    * filter, or None when nothing (new) is derivable.
    */
  private def derive(cond: Expression, child: LogicalPlan): Option[Expression] = {
    val rel = unwrap(child) match {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => (lr, fs)
      case _ => return None
    }
    val (lr, fs) = rel
    // scheme-insensitive compare: the writer registers "/tmp/…" while the
    // read-back location reports "file:/tmp/…"
    fs.location.rootPaths.foreach(p => loadSidecar(p.toString, fs))
    val roots = fs.location.rootPaths.map(p => norm(p.toString))
    // segment-aware prefix: "/x/neg" must not claim "/x/neg-unreg"
    def under(root: String, prefix: String): Boolean =
      root == prefix || root.startsWith(prefix + "/")
    val ds = registry.values.toArray(Array.empty[Derivation]).toSeq.filter(d =>
      roots.nonEmpty && roots.forall(under(_, d.pathPrefix)))
    if (ds.isEmpty) return None
    val conjuncts = splitConjunctivePredicates(cond)
    val implied = scala.collection.mutable.ArrayBuffer[Expression]()
    for (d <- ds.sortBy(d => (d.dataCol, d.partCol))) {
      // the predicate attribute must BE the relation's data column (by
      // exprId — a computed look-alike from a projection never reaches
      // here because the filter sits on the relation itself)
      val dataAttr = lr.output.find(_.name == d.dataCol)
      val partAttr = lr.output.find(_.name == d.partCol)
      (dataAttr, partAttr) match {
        case (Some(da), Some(pa)) =>
          def lit(q: Long): Option[Literal] = pa.dataType match {
            case LongType    => Some(Literal(q))
            case IntegerType if q.isValidInt => Some(Literal(q.toInt))
            case ShortType   if q.isValidShort => Some(Literal(q.toShort))
            case ByteType    if q.isValidByte => Some(Literal(q.toByte))
            case _           => None
          }
          // the monotone map f, over its domain only: an out-of-domain
          // literal (negative int for intdiv, null/non-date for yyyymm)
          // derives nothing
          def mapped(l: Literal): Option[Literal] = d.kind match {
            case "intdiv" => l.value match {
              case v: java.lang.Number
                  if (l.dataType == LongType || l.dataType == IntegerType ||
                    l.dataType == ShortType || l.dataType == ByteType) &&
                    v.longValue() >= 0 =>
                lit(v.longValue() / d.divisor)
              case _ => None
            }
            case "yyyymm" => l.value match {
              case days: java.lang.Integer if l.dataType == DateType =>
                val date = java.time.LocalDate.ofEpochDay(days.longValue())
                lit(date.getYear * 100L + date.getMonthValue)
              case _ => None
            }
          }
          def isData(e: Expression): Boolean = e match {
            case a: Attribute => a.exprId == da.exprId
            case _            => false
          }
          conjuncts.foreach {
            case GreaterThanOrEqual(a, l: Literal) if isData(a) =>
              for (p <- mapped(l)) implied += GreaterThanOrEqual(pa, p)
            case GreaterThan(a, l: Literal) if isData(a) =>
              for (p <- mapped(l)) implied += GreaterThanOrEqual(pa, p)
            case LessThanOrEqual(a, l: Literal) if isData(a) =>
              for (p <- mapped(l)) implied += LessThanOrEqual(pa, p)
            case LessThan(a, l: Literal) if isData(a) =>
              for (p <- mapped(l)) implied += LessThanOrEqual(pa, p)
            // mirrored literal-first forms
            case GreaterThanOrEqual(l: Literal, a) if isData(a) => // lit >= d  ⟺  d <= lit
              for (p <- mapped(l)) implied += LessThanOrEqual(pa, p)
            case LessThanOrEqual(l: Literal, a) if isData(a) =>
              for (p <- mapped(l)) implied += GreaterThanOrEqual(pa, p)
            case GreaterThan(l: Literal, a) if isData(a) =>
              for (p <- mapped(l)) implied += LessThanOrEqual(pa, p)
            case LessThan(l: Literal, a) if isData(a) =>
              for (p <- mapped(l)) implied += GreaterThanOrEqual(pa, p)
            case EqualTo(a, l: Literal) if isData(a) =>
              for (p <- mapped(l)) implied += EqualTo(pa, p)
            case EqualTo(l: Literal, a) if isData(a) =>
              for (p <- mapped(l)) implied += EqualTo(pa, p)
            case In(a, vs) if isData(a) && vs.nonEmpty &&
                vs.forall(_.isInstanceOf[Literal]) =>
              val ps = vs.flatMap(v => mapped(v.asInstanceOf[Literal]))
              if (ps.size == vs.size) implied += In(pa, ps.distinct)
            case _ => ()
          }
        case _ => ()
      }
    }
    // fixed-point safety: only conjuncts not already present count as new
    val fresh = implied.filter(e => !conjuncts.exists(_.semanticEquals(e)))
      .foldLeft(Seq.empty[Expression]) { (acc, e) =>
        if (acc.exists(_.semanticEquals(e))) acc else acc :+ e
      }
    if (fresh.isEmpty) None else Some(fresh.reduce(And(_, _)))
  }
}

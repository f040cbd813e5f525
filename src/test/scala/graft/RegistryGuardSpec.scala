package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the query registry ([[Registry]]), the class scan behind
  * [[SparkEntry.queries]] and [[SparkEntry.oracleSql]].
  *
  * The scan finds every `graft.*` singleton whose `all` method has the
  * registry shape `Map[String, (SparkSession, String) => DataFrame]`, so a
  * module cannot be left out of the registry by a forgotten edit (the
  * failure that shipped twice while the registry was a hand-kept `++`
  * chain: round 6's JsonOps, round 7's SkewAdvisor). What can still go
  * wrong is a scan that finds nothing, or two modules that claim one name;
  * this spec pins both. CatalogSpec additionally fails if a module drops out,
  * since the README catalog lists every registered query.
  */
class RegistryGuardSpec extends AnyFunSuite {

  test("the scan itself sees the known registry modules (not vacuous)") {
    val names = Registry.modules.map(_.className).toSet
    for (expected <- Seq("graft.warehouse.SkewAdvisor$", "graft.ingest.JsonOps$",
        "graft.analytics.Queries$", "graft.observability.ColumnLineage$"))
      assert(names.contains(expected), s"classpath scan lost $expected")
    assert(Registry.modules.size >= 90,
      s"only ${Registry.modules.size} registry modules found — scan broke")
  }

  test("no two modules declare the same query name (++ replaces silently)") {
    // the r9 near-miss: a new module declared "text_chunk_windows", which
    // TextAnalysis already owned — a map union would silently replace the
    // original query AND its oracle, stripping its gate coverage. A name
    // must have exactly one owner.
    val owners = Registry.modules
      .flatMap(m => m.queries.keys.map(_ -> m.simpleName))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val dups = owners.filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"DUPLICATE QUERY NAMES across modules:\n  " +
        dups.map { case (q, ms) => s"$q <- ${ms.mkString(", ")}" }
          .mkString("\n  "))
  }

  test("the merge rejects a name declared by two modules (negative control)") {
    val q: Registry.Query = (spark, _) => spark.emptyDataFrame
    val a = Registry.Module("graft.A$", Map("x_one" -> q, "x_shared" -> q), Map.empty)
    val b = Registry.Module("graft.B$", Map("x_shared" -> q), Map.empty)
    assert(Registry.merge(Seq(a))(_.queries).keySet == Set("x_one", "x_shared"))
    val e = intercept[RuntimeException](Registry.merge(Seq(a, b))(_.queries))
    for (part <- Seq("x_shared", "graft.A$", "graft.B$"))
      assert(e.getMessage.contains(part), e.getMessage)
  }
}

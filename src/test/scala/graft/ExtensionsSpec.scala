package graft

/** The SparkSessionExtensions entry point: functions injected at session
  * build time must resolve from plain SQL with no manual registration call
  * (TestSpark builds with `.withExtensions(new GraftExtensions())`).
  */
class ExtensionsSpec extends SparkSpec {

  test("extension-installed functions are SQL-visible without registration") {
    val c = spark.sql(
      "SELECT graft_cosine(array(float(3.0), float(4.0)), " +
        "array(float(3.0), float(4.0))) AS c").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)

    // components h/2^31 - 1: 2147483648 -> 0.0, 0 -> -1.0; dot = 0.0
    val d = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0), float(0.0)), " +
        "array(bigint(2147483648), bigint(0))) AS d").head().getDouble(0)
    assert(d == 0.0)

    val fps = spark.sql(
      "SELECT size(graft_winnow('abcdefghijklmnopqrstuvwxyz')) AS n")
      .head().getInt(0)
    assert(fps > 0)
  }

  test("null planes and null elements propagate null, never NPE or garbage") {
    // foldable NULL plane literal: type-checks (array<bigint>), folds to null
    // components — constant-null result, not an NPE at codegen time
    val nullPlane = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0)), CAST(NULL AS ARRAY<BIGINT>)) AS d")
      .head()
    assert(nullPlane.isNullAt(0))
    // plane literal with a null element
    val nullElemPlane = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0), float(2.0)), " +
        "array(bigint(1), CAST(NULL AS BIGINT))) AS d").head()
    assert(nullElemPlane.isNullAt(0))
    // embedding with a null element: null result (zip_with propagation), not
    // a silent 0.0 read from the primitive accessor
    val nullElemEmb = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0), CAST(NULL AS FLOAT)), " +
        "array(bigint(2147483648), bigint(2147483648))) AS d").head()
    assert(nullElemEmb.isNullAt(0))
    val nullElemCos = spark.sql(
      "SELECT graft_cosine(array(float(1.0), CAST(NULL AS FLOAT)), " +
        "array(float(1.0), float(2.0))) AS c").head()
    assert(nullElemCos.isNullAt(0))
  }

  test("bad SQL input fails at analysis with a named error, not a CCE") {
    val wrongType = intercept[Exception] {
      spark.sql("SELECT graft_winnow(123)").collect()
    }
    assert(wrongType.getMessage.contains("graft_winnow"), wrongType.getMessage)
    val wrongArity = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(float(1.0)))").collect()
    }
    assert(wrongArity.getMessage.contains("graft_cosine"), wrongArity.getMessage)
    val wrongCos = intercept[Exception] {
      spark.sql("SELECT graft_cosine(1, 2)").collect()
    }
    assert(wrongCos.getMessage.contains("graft_cosine"), wrongCos.getMessage)
    val unfoldablePlane = intercept[Exception] {
      spark.sql("SELECT graft_plane_dot(array(float(1.0)), array(id)) " +
        "FROM range(1)").collect()
    }
    assert(unfoldablePlane.getMessage.contains("graft_plane_dot"),
      unfoldablePlane.getMessage)
  }

  test("install adds graft to a session once") {
    val s = plans.ChildSession(spark)
    val reg = s.sessionState.functionRegistry
    val ids = GraftExtensions.functions.map(_._1)
    // a name missing from the registry is (re)installed
    reg.dropFunction(ids.head)
    GraftExtensions.install(s)
    val first = ids.map(reg.lookupFunction)
    assert(first.forall(_.isDefined), s"unregistered: ${ids.zip(first)}")
    // a second call replaces nothing: the very same registry entries, one
    // copy of each rule in `rules` order, one as-of strategy
    GraftExtensions.install(s)
    val second = ids.map(reg.lookupFunction)
    for ((id, (a, b)) <- ids.zip(first.zip(second)))
      assert(a.get eq b.get, s"$id was registered again")
    assert(s.experimental.extraOptimizations == GraftExtensions.rules)
    assert(s.experimental.extraStrategies == Seq(plans.AsOfJoinStrategy))
  }

  test("an entry runs on a session built without the extension") {
    import org.apache.spark.sql.SparkSession
    // create() makes the new session the default and active one
    val (active, default) = (SparkSession.getActiveSession,
      SparkSession.getDefaultSession)
    val bare = SparkSession.builder().create()
    try {
      val bigrams = org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_bigram_counts")
      assert(!bare.sessionState.functionRegistry.functionExists(bigrams),
        "the bare session must start without graft")
      val q = SparkEntry.queries("text_bigram_novelty")
      assert(q(bare, sf).collect().toSeq == q(spark, sf).collect().toSeq)
    } finally {
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}

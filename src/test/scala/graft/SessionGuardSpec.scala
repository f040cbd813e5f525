package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the one session factory, the one way graft reaches a session and
  * the one stream runner: only [[plans.ChildSession]] calls `newSession()`
  * (a bare one drops the parent's runtime confs), only [[LocalSession]] and
  * the extension-bearing session of `MvWarehouseQueries` build a session,
  * only [[GraftExtensions]] adds rules, strategies or functions to one, and
  * only [[streaming.StreamRun]] triggers and drains a stream
  * ([[StreamProfile]] may await the query it profiles). Comments may name
  * them.
  */
class SessionGuardSpec extends AnyFunSuite {

  /** Each pattern and the files allowed to use it. */
  private val homes = Seq(
    "newSession()" -> Set("ChildSession.scala"),
    "SparkSession.builder()" -> Set("LocalSession.scala", "MvWarehouseQueries.scala"),
    "extraOptimizations" -> Set("GraftExtensions.scala"),
    "extraStrategies" -> Set("GraftExtensions.scala"),
    "createOrReplaceTempFunction" -> Set("GraftExtensions.scala"),
    "tableFunctionRegistry" -> Set("GraftExtensions.scala"),
    "Trigger.AvailableNow" -> Set("StreamRun.scala"),
    "awaitTermination" -> Set("StreamRun.scala", "StreamProfile.scala"))

  private def offenders(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0).trim
      if !code.startsWith("*") && !code.startsWith("/*")
      (pat, allowed) <- homes
      if code.contains(pat) && !allowed(f.getFileName.toString)
    } yield s"$f:${i + 1}: $pat"
  }

  test("sessions and stream runs are built only in their homes in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val found = offenders(root)
    assert(found.isEmpty, found.mkString("outside their homes:\n  ", "\n  ", ""))
  }

  test("the scan sees planted sessions and drains (negative control)") {
    val dir = Files.createTempDirectory("graft-session-guard")
    try {
      Files.writeString(dir.resolve("Planted.scala"),
        """object Planted {
          |  /** a bare `newSession()` drops runtime confs */
          |  def s(spark: SparkSession) = spark.newSession() // not allowed
          |  def q(df: DataFrame) = df.writeStream
          |    .trigger(Trigger.AvailableNow()).start().awaitTermination()
          |  def r(s: SparkSession) = s.experimental.extraOptimizations = Nil
          |  def t(s: SparkSession) = s.experimental.extraStrategies = Nil
          |  def f(s: SparkSession) = s.sessionState.functionRegistry
          |    .createOrReplaceTempFunction("f", null, "built-in")
          |  def g(s: SparkSession) = s.sessionState.tableFunctionRegistry
          |}
          |""".stripMargin)
      Files.writeString(dir.resolve("ChildSession.scala"),
        "object ChildSession { def s(p: SparkSession) = p.newSession() }\n")
      Files.writeString(dir.resolve("StreamProfile.scala"),
        "object StreamProfile { def f(q: StreamingQuery) = q.awaitTermination() }\n")
      Files.writeString(dir.resolve("GraftExtensions.scala"),
        "object GraftExtensions { def i(s: SparkSession) = " +
          "s.experimental.extraOptimizations = Nil }\n")
      val planted = dir.resolve("Planted.scala").toString
      assert(offenders(dir) == Seq(s"$planted:3: newSession()",
        s"$planted:5: Trigger.AvailableNow", s"$planted:5: awaitTermination",
        s"$planted:6: extraOptimizations", s"$planted:7: extraStrategies",
        s"$planted:9: createOrReplaceTempFunction",
        s"$planted:10: tableFunctionRegistry"))
    } finally {
      Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the one scratch root and the one materialization policy: only
  * [[Scratch]] may name the temp directory, create a temp directory or
  * sanitize a key into a path, so a new module cannot add a scratch root
  * that nothing cleans up; and only [[Scratch]] may checkpoint, cache or
  * persist a Dataset on a code line, so every in-memory reuse of an
  * intermediate goes through [[Scratch.reuse]]. Comments may name the
  * materializers.
  */
class ScratchGuardSpec extends AnyFunSuite {

  /** Named anywhere, comments included. */
  private val roots = Seq("java.io.tmpdir", "createTempDirectory",
    "[^A-Za-z0-9._-]")

  /** Named on code lines. A Dataset `persist` takes no argument or a
    * storage level; the sidecar writers' `persist(spark, path)` takes two
    * and is not matched.
    */
  private val materializers = (Seq("localCheckpoint", ".checkpoint(",
    ".cache()").map(java.util.regex.Pattern.quote) :+
    """\.persist\(([^,()]*\)|\s*$)""").map(_.r)

  /** `file:line: pattern` for each pattern `hits(line, code)` finds outside
    * Scratch.scala; `code` is the line without its `//` comment, empty on
    * a doc-comment line.
    */
  private def scan(root: Path)(hits: (String, String) => Seq[String]): Seq[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    for {
      f <- files if f.getFileName.toString != "Scratch.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      stripped = line.split("//", 2)(0).trim
      code = if (stripped.startsWith("*") || stripped.startsWith("/*")) "" else stripped
      pat <- hits(line, code)
    } yield s"$f:${i + 1}: $pat"
  }

  private def rootOffenders(root: Path) =
    scan(root)((line, _) => roots.filter(line.contains))

  private def materializations(root: Path) =
    scan(root)((_, code) =>
      materializers.filter(_.findFirstIn(code).isDefined).map(_.toString))

  private def mainRoot: Path = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    root
  }

  test("no scratch root outside Scratch.scala in src/main") {
    val found = rootOffenders(mainRoot)
    assert(found.isEmpty, found.mkString("scratch roots outside Scratch:\n  ", "\n  ", ""))
  }

  test("no in-memory materialization outside Scratch.scala in src/main") {
    val found = materializations(mainRoot)
    assert(found.isEmpty,
      found.mkString("materializations outside Scratch.reuse:\n  ", "\n  ", ""))
  }

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-guard")
    try body(dir)
    finally Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("the scan sees a planted root (negative control)") {
    withDir { dir =>
      Files.writeString(dir.resolve("Planted.scala"),
        "object Planted { val p = sys.props(\"java.io.tmpdir\") }\n")
      Files.writeString(dir.resolve("Scratch.scala"),
        "object Scratch { val p = sys.props(\"java.io.tmpdir\") }\n")
      assert(rootOffenders(dir).map(_.takeWhile(_ != ':')) ==
        Seq(dir.resolve("Planted.scala").toString))
    }
  }

  test("the scan sees planted materializations, not comments or sidecars (negative control)") {
    withDir { dir =>
      Files.writeString(dir.resolve("Planted.scala"),
        """object Planted {
          |  /** a bare `df.localCheckpoint()` or `.persist()` bypasses reuse */
          |  def a(df: DataFrame) = df.localCheckpoint(eager = false)
          |  def b(df: DataFrame) = df.persist(StorageLevel.MEMORY_ONLY)
          |  def c(df: DataFrame) = df.cache() // not allowed
          |  // df.checkpoint() in a comment is fine
          |  def d(spark: SparkSession, p: String) =
          |    DerivedPartitionFilter.persist(spark, p)
          |  def e(df: DataFrame) = df.checkpoint(true)
          |  def f(df: DataFrame) = df.persist()
          |}
          |""".stripMargin)
      Files.writeString(dir.resolve("Scratch.scala"),
        "object Scratch { def reuse(df: DataFrame) = df.localCheckpoint(false) }\n")
      val planted = dir.resolve("Planted.scala").toString
      assert(materializations(dir).map(_.split(": ", 2)(0)) ==
        Seq(3, 4, 5, 9, 10).map(n => s"$planted:$n"))
    }
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the one scratch root: only [[Scratch]] may name the temp
  * directory, create a temp directory or sanitize a key into a path, so a
  * new module cannot add a scratch root that nothing cleans up.
  */
class ScratchGuardSpec extends AnyFunSuite {

  private val forbidden = Seq("java.io.tmpdir", "createTempDirectory",
    "[^A-Za-z0-9._-]")

  private def offenders(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for {
      f <- files if f.getFileName.toString != "Scratch.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      pat <- forbidden if line.contains(pat)
    } yield s"$f:${i + 1}: $pat"
  }

  test("no scratch root outside Scratch.scala in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val found = offenders(root)
    assert(found.isEmpty, found.mkString("scratch roots outside Scratch:\n  ", "\n  ", ""))
  }

  test("the scan sees a planted root (negative control)") {
    val dir = Files.createTempDirectory("graft-guard")
    try {
      Files.writeString(dir.resolve("Planted.scala"),
        "object Planted { val p = sys.props(\"java.io.tmpdir\") }\n")
      Files.writeString(dir.resolve("Scratch.scala"),
        "object Scratch { val p = sys.props(\"java.io.tmpdir\") }\n")
      assert(offenders(dir).map(_.takeWhile(_ != ':')) ==
        Seq(dir.resolve("Planted.scala").toString))
    } finally {
      Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the one top-k kernel: a per-group top-k in `similarity/` runs on
  * [[graft.functions.TopK.rank]], and every ranked window left there says
  * why the kernel's contract does not hold with a `// window: <reason>`
  * comment on the line the rank function starts on or the line above.
  */
class WindowReasonSpec extends AnyFunSuite {

  // the rank-function family, with `.over(` on the same line or a later one
  private val window = """\b(row_number|rank|dense_rank|percent_rank)\(\)\s*\.over\(""".r
  private val reason = "// window:"

  private def offenders(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    for {
      f <- files
      text = Files.readString(f)
      lines = text.split("\n", -1).toIndexedSeq
      m <- window.findAllMatchIn(text).toSeq
      i = text.substring(0, m.start).count(_ == '\n')
      if !lines(i).contains(reason) && !(i > 0 && lines(i - 1).contains(reason))
    } yield s"$f:${i + 1}"
  }

  test("every ranked window in similarity/ carries a // window: reason") {
    val root = Paths.get("src/main/scala/graft/similarity")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val found = offenders(root)
    assert(found.isEmpty, found.mkString("windows without a reason:\n  ", "\n  ", ""))
  }

  test("the scan sees an unexplained window (negative control)") {
    val dir = Files.createTempDirectory("graft-window-guard")
    try {
      Files.writeString(dir.resolve("Planted.scala"),
        """object Planted {
          |  // window: ascending distance
          |  val a = row_number().over(w1)
          |  val b = row_number().over(w2) // window: unpartitioned, K rows
          |
          |  val c = row_number().over(w3)
          |  val d = rank().over(w4)
          |  val e = df.withColumn("rk", dense_rank()
          |    .over(w5))
          |  // window: split line, reason above the rank function
          |  val f = row_number()
          |    .over(w6)
          |  val g = "ROW_NUMBER() OVER (PARTITION BY q)"
          |}
          |""".stripMargin)
      val planted = dir.resolve("Planted.scala")
      assert(offenders(dir) == Seq(s"$planted:6", s"$planted:7", s"$planted:8"))
    } finally {
      Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}

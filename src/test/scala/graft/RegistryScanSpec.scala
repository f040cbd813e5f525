package graft

import java.io.File
import java.nio.file.Files
import java.util.jar.{JarEntry, JarOutputStream}
import org.scalatest.funsuite.AnyFunSuite

/** The registry scan's two code-source branches, and its build-once
  * contract. `sbt test`, perfbench and `tools/run_graft.sh` run from a
  * classes directory; a forked `sbt runMain` may run from a packaged jar.
  * Both must yield the same modules.
  */
class RegistryScanSpec extends AnyFunSuite {

  private val classesDir = new File(
    Registry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)

  private def keys(ms: Seq[Registry.Module]) =
    ms.map(m => (m.className, m.queries.keySet, m.oracles.keySet))

  test("scanning a jar of the compiled classes finds the directory's modules") {
    assert(classesDir.isDirectory, s"$classesDir is not a classes directory")
    val jar = Files.createTempFile("graft-classes", ".jar")
    try {
      val out = new JarOutputStream(Files.newOutputStream(jar))
      try {
        def walk(f: File): Seq[File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        for (f <- walk(new File(classesDir, "graft"))) {
          out.putNextEntry(new JarEntry(
            classesDir.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/')))
          Files.copy(f.toPath, out)
          out.closeEntry()
        }
      } finally out.close()
      val fromJar = Registry.scan(jar.toFile)
      assert(fromJar.size >= 90, s"jar scan found ${fromJar.size} modules")
      assert(keys(fromJar) == keys(Registry.modules))
    } finally Files.delete(jar)
  }

  test("the registry is built once per JVM, not per lookup") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}

package graft

import java.io.File
import java.util.jar.JarFile
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry: the one list of query modules, found by a class scan
  * of the compiled code. [[SparkEntry.queries]] and [[SparkEntry.oracleSql]]
  * return its merged maps; the generated operator catalog ([[CatalogGen]])
  * reads its per-module view.
  *
  * A query module is any `graft.*` singleton object exposing
  * `all: Map[String, (SparkSession, String) => DataFrame]` and optionally
  * `oracle: Map[String, String]` (the DuckDB twin of each query). The
  * convention is read from the compiled classes' generic signatures, not
  * declared: a module is registered the moment it compiles.
  *
  * The scan and the merge run once per JVM, on the first
  * `SparkEntry.queries` call; perfbench looks a query up inside every timed
  * operation, so lookups must never rescan.
  */
object Registry {

  type Query = (SparkSession, String) => DataFrame

  final case class Module(className: String, queries: Map[String, Query],
      oracles: Map[String, String]) {
    /** `graft.warehouse.SkewAdvisor$` → `SkewAdvisor`. */
    def simpleName: String =
      className.stripSuffix("$").split('.').last
  }

  /** Every query module on the classpath, sorted by class name. */
  lazy val modules: Seq[Module] = scan(new File(
    getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  lazy val queries: Map[String, Query] = merge(modules)(_.queries)

  lazy val oracles: Map[String, String] = merge(modules)(_.oracles)

  /** One map from every module's map. A name declared by two modules is an
    * error naming both: a silent overwrite would replace one module's query
    * (or oracle) with another's and strip its gate coverage.
    */
  private[graft] def merge[V](modules: Seq[Module])(
      map: Module => Map[String, V]): Map[String, V] = {
    val merged = mutable.HashMap.empty[String, (String, V)]
    for (m <- modules; (name, v) <- map(m))
      merged.put(name, (m.className, v)).foreach { case (prev, _) =>
        sys.error(s"query name `$name` is declared by both $prev and ${m.className}")
      }
    merged.view.mapValues(_._2).toMap
  }

  /** Every query module under `root`, the code source of the compiled
    * classes: a classes directory (`sbt test`, perfbench,
    * `tools/run_graft.sh`) or a jar (forked `sbt runMain`). Object classes
    * are loaded without initialization; only confirmed modules are
    * initialized. A class that fails to load fails the scan, since dropping
    * it would silently drop its module's queries.
    */
  private[graft] def scan(root: File): Seq[Module] =
    classNames(root).sorted.flatMap { name =>
      val c = try Class.forName(name, false, getClass.getClassLoader)
        catch { case e @ (_: ClassNotFoundException | _: LinkageError) =>
          throw new IllegalStateException(s"registry scan cannot load $name", e)
        }
      allMethod(c).map { all =>
        val inst = c.getField("MODULE$").get(null)
        Module(c.getName, all.invoke(inst).asInstanceOf[Map[String, Query]],
          oracleMethod(c).fold(Map.empty[String, String])(
            _.invoke(inst).asInstanceOf[Map[String, String]]))
      }
    }

  /** `graft/**/X$.class` entries of `root` as binary class names. */
  private def classNames(root: File): Seq[String] = {
    val paths: Seq[String] =
      if (root.isFile) {
        val jar = new JarFile(root)
        try jar.entries().asScala.map(_.getName).toList
        finally jar.close()
      } else {
        def walk(f: File): Seq[File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        val base = root.toPath
        walk(new File(root, "graft")).map(f =>
          base.relativize(f.toPath).toString.replace(File.separatorChar, '/'))
      }
    paths.filter(p => p.startsWith("graft/") && p.endsWith("$.class"))
      .map(_.stripSuffix(".class").replace('/', '.'))
  }

  /** The registry shape, recognized from the GENERIC method signature. */
  private def allMethod(c: Class[_]) =
    c.getMethods.find { m =>
      m.getName == "all" && m.getParameterCount == 0 &&
        classOf[scala.collection.immutable.Map[_, _]]
          .isAssignableFrom(m.getReturnType) &&
        m.getGenericReturnType.getTypeName.contains("scala.Function2") &&
        m.getGenericReturnType.getTypeName
          .contains("org.apache.spark.sql.SparkSession")
    }

  private def oracleMethod(c: Class[_]) =
    c.getMethods.find { m =>
      m.getName == "oracle" && m.getParameterCount == 0 &&
        m.getGenericReturnType.getTypeName ==
          "scala.collection.immutable.Map<java.lang.String, java.lang.String>"
    }
}

package graft
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Output-boundary type contract for every [[SparkEntry.queries]] result.
  *
  * Convention (enforced here + VerifySchemaSpec): emitted numeric columns
  * are BIGINT/INT or DOUBLE — never DECIMAL. Money math runs in DECIMAL
  * *internally* (exactness), but a DECIMAL in the OUTPUT schema
  * materializes as arbitrary-precision objects in pandas/pyarrow while a
  * SQL oracle's DECIMAL lands float64, so dtype-sensitive comparisons
  * mismatch on representation even when every value is equal. 2-decimal
  * money and counts are exactly representable in float64, so casting at
  * the boundary loses nothing.
  */
object OutputContract {
  /** Fully-qualified paths of DECIMAL-typed leaves anywhere in `schema`
    * (including inside struct/array/map nesting). Empty = compliant. */
  def decimalColumns(schema: StructType): Seq[String] = {
    def walk(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType   => Seq(path)
      case s: StructType    => s.fields.flatMap(f => walk(f.dataType, s"$path.${f.name}")).toSeq
      case a: ArrayType     => walk(a.elementType, s"$path[]")
      case m: MapType       => walk(m.keyType, s"$path.key") ++ walk(m.valueType, s"$path.value")
      case _                => Nil
    }
    schema.fields.flatMap(f => walk(f.dataType, f.name)).toSeq
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration;
    // the driver always runs the full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // driver contract: result lands at outDir/<name>.parquet (a parquet
      // directory readable by pyarrow/duckdb)
      try {
        val df = fn(spark, sfDir)
        val decimals = OutputContract.decimalColumns(df.schema)
        if (decimals.nonEmpty) sys.error(
          s"output contract violation — DECIMAL column(s) ${decimals.mkString(", ")}; " +
            "cast to DOUBLE/BIGINT at the output boundary (see OutputContract)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The driver keys its oracle lookup by the output directory basename —
    // "<name>.parquet" (CORRECTNESS_r05 resolved all 269 entries this way;
    // the bare-name dual keys the earlier rounds hedged with are dropped).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(s"$k.parquet")}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** oracle_sql.json, keyed by the output directory basename —
    * "<name>.parquet", which is how the oracle compare looks entries up
    * (CORRECTNESS_r05 resolved all 269 entries this way; the bare-name dual
    * keys the earlier rounds hedged with are dropped). Written by Jackson,
    * which escapes every control character: a tab or CR in hand-written
    * oracle SQL must not make the compare's `json.load` fail and silently
    * zero the round's correctness.
    */
  def oracleJson(oracle: Map[String, String]): String = {
    val json = new ObjectMapper()
    val o = json.createObjectNode()
    oracle.foreach { case (k, v) => o.put(s"$k.parquet", v) }
    json.writeValueAsString(o)
  }
}

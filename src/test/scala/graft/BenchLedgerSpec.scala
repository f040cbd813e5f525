package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The bench artifact's ledger runner and its JSON writers.
  *
  * A ledger that throws must be named in `failed_ledgers`, not left as a
  * missing key; every arm of a ledger that runs carries the same field set;
  * and every string the artifact and `oracle_sql.json` carry — an sf
  * directory from the environment, hand-written oracle SQL — must
  * parse back unchanged, whatever characters it holds.
  */
class BenchLedgerSpec extends SparkSpec {
  private val json = new ObjectMapper()

  private val armFields = Seq("sec", "sec_hi", "shuffle_bytes", "scan_rows",
    "scan_files", "scan_bytes", "expand_rows")

  test("a throwing ledger lands in failed_ledgers; the other carries every arm field") {
    import org.apache.spark.sql.functions.col
    val oddSf = "sf\"quoted\\back\tslash"
    val orders = () => Tables.orders(spark, sf)
    val table = Seq(
      Bench.Ledger("synthetic_ok", None, Seq(
        "scan" -> (() => orders().select(col("o_orderkey"))),
        "agg" -> (() => orders().groupBy(col("o_custkey")).count()))),
      Bench.Ledger("synthetic_throws", Some("never priced"), Seq(
        "fine" -> (() => spark.range(10).toDF()),
        "boom" -> (() => throw new IllegalStateException("planted arm failure")))))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Bench.runArtifacts(spark, oddSf, -1.0, Seq.empty, partial = true, table)
    }
    val line = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq.last
    val node: JsonNode = json.readTree(line)

    for (k <- Seq("metric", "value", "unit", "queries", "failed"))
      assert(node.has(k), s"artifact key $k missing: $line")
    val failed = node.path("failed_ledgers")
    assert(failed.isArray && failed.size == 1, line)
    assert(failed.get(0).path("name").asText == "synthetic_throws")
    assert(failed.get(0).path("error").asText.contains("planted arm failure"))
    assert(!node.has("synthetic_throws"))

    val ok = node.path("synthetic_ok")
    val expected = (for (arm <- Seq("scan", "agg"); f <- armFields)
      yield s"${arm}_$f").toSet + "noise_flags"
    assert(ok.fieldNames().asScala.toSet == expected, line)
    assert(ok.path("noise_flags").isArray)
    assert(ok.path("scan_scan_rows").asLong == orders().count())
    assert(ok.path("agg_shuffle_bytes").asLong > 0)

    assert(node.path("sf").asText == oddSf)
  }

  test("a sample times the query's construction too") {
    val (prof, hi) = Bench.sample { Thread.sleep(300); spark.range(1).toDF() }
    assert(prof.outputRows == 1)
    assert(prof.wallMs >= 300, prof)
    assert(hi >= 0.3, hi)
  }

  test("the stdout line is pure ASCII and reads back equal, em dash included") {
    val node = json.createObjectNode()
      .put("claim", "exec — window parity — see asof_skew")
    val line = Bench.stdoutLine(node)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(bytes.forall(b => b >= 0x20 && b < 0x7f), line)
    assert(line.contains("\\u2014"), line)
    assert(json.readTree(line) == node)
  }

  test("Verify's oracle JSON parses back to the same SQL, control characters included") {
    val sql = Map(
      "q_tab" -> "SELECT\t1",
      "q_cr" -> "SELECT 1\r\nFROM t",
      "q_ctl" -> "SELECT '\u0001' AS c, 'quote\"back\\slash' AS d")
    val node = json.readTree(Verify.oracleJson(sql))
    assert(node.size == sql.size)
    for ((k, v) <- sql) assert(node.path(s"$k.parquet").asText == v, k)
    val all = json.readTree(Verify.oracleJson(SparkEntry.oracleSql))
    assert(all.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap ==
      SparkEntry.oracleSql.map { case (k, v) => s"$k.parquet" -> v })
  }
}

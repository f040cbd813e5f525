package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the results file and the output dumps.
  *
  * Row values are written so that run.py can canonicalize them exactly:
  * doubles with all their digits, non-finite doubles as {"f": "NaN"},
  * timestamps as {"ts": epoch micros}, dates as {"d": epoch day}, binary as
  * {"b": hex}, structs as arrays.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def bool(v: Boolean): String = if (v) "true" else "false"
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def row(r: Row): String = arr((0 until r.length).map(i => value(r.get(i))))

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => bool(b)
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => x.toPlainString
    case s: String => str(s)
    case t: java.sql.Timestamp =>
      obj(Seq("ts" -> num(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)))
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      obj(Seq("ts" -> num(i.getEpochSecond * 1000000L + i.getNano / 1000)))
    case d: java.sql.Date => obj(Seq("d" -> num(d.toLocalDate.toEpochDay)))
    case b: Array[Byte] => obj(Seq("b" -> str(b.map(x => f"${x & 0xff}%02x").mkString)))
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case other => str(other.toString)
  }

  private def double(x: Double): String =
    if (x.isNaN) """{"f":"NaN"}"""
    else if (x.isInfinite) (if (x > 0) """{"f":"Infinity"}""" else """{"f":"-Infinity"}""")
    else java.lang.Double.toString(x)
}

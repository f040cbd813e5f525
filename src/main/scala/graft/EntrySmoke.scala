package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    df.show(10, false)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}

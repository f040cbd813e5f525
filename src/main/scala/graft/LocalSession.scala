package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs on: `local[$SPARK_GRAFT_CPUS]` (default 32)
  * with as many shuffle partitions, UTC session time zone, no UI and WARN
  * logging.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The local session the tool mains and the specs run on: `local[cpus]`,
  * `cpus` shuffle partitions, UI off, UTC session time zone, WARN logging.
  * (`Bench` and `Verify` keep their own, unchanged.) */
object LocalSession {
  def apply(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

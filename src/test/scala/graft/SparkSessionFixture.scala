package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-level specs (startup ~5s). */
object SparkSessionFixture {
  lazy val spark: SparkSession = LocalSession(8, "graft-test")
}

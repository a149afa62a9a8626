package graft.functions

import org.apache.spark.sql.SparkSession

/** Same as [[NativeRegistry.register]]; kept under this name for `Bench`. */
object PdfFunctions {
  def register(spark: SparkSession): Unit = NativeRegistry.register(spark)
}

package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming carrier for the extraction pipeline (SURVEY.md §2.10):
  * `readStream` over the pages directory → the same typed extraction →
  * parquet sink with `Trigger.AvailableNow` + checkpointLocation. The
  * Spark checkpoint gives exactly-once file-level resume — the streaming
  * alternative to [[ResumableExtract]]'s group markers. */
object StreamingExtract {

  def run(spark: SparkSession, pagesDir: String, outDir: String, checkpointDir: String,
          password: String = ""): Unit = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[PageRow].schema
    val pages = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "16")
      .parquet(pagesDir)
      .as[PageRow]
    val extracted = ExtractPipeline.extract(pages, password)
    val q = extracted.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

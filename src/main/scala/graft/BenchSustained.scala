package graft

import org.apache.spark.sql.functions._

/** Sustained-scale rehearsal (VERDICT r4 task #10): drive the size-routed
  * extraction pipeline continuously for ≥ `SPARK_GRAFT_SUSTAIN_MIN`
  * minutes (default 10) and ≥ `SPARK_GRAFT_SUSTAIN_DOCS` documents
  * (default 6M), recording per-minute throughput and the heap high-water
  * mark — evidence that the narrow pipeline's memory stays FLAT beyond
  * short bench legs (no accumulation in caches, shuffle buffers, or the
  * parser) and throughput does not decay with runtime.
  *
  * Emits ONE JSON line and writes BENCH_sustained.json. */
object BenchSustained {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val minMinutes = sys.env.getOrElse("SPARK_GRAFT_SUSTAIN_MIN", "10").toInt
    val minDocs = sys.env.getOrElse("SPARK_GRAFT_SUSTAIN_DOCS", "6000000").toLong
    val batchDocs = sys.env.getOrElse("SPARK_GRAFT_SUSTAIN_BATCH", "600000").toLong
    val spark = LocalSession(cpus)

    // heap sampler: high-water of used heap, bucketed per minute
    val heapPerMin = scala.collection.concurrent.TrieMap[Int, Long]()
    val t0 = System.nanoTime()
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        val rt = Runtime.getRuntime
        val used = rt.totalMemory() - rt.freeMemory()
        val minute = ((System.nanoTime() - t0) / 60e9).toInt
        heapPerMin.updateWith(minute)(prev => Some(math.max(prev.getOrElse(0L), used)))
        Thread.sleep(2000)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // batches: fresh synthesized slice each time (salted by batch index so
    // partitions/urls differ), full extraction forced by the aggregate
    final case class Batch(endSec: Double, docs: Long, pages: Long, sec: Double)
    val batches = scala.collection.mutable.ArrayBuffer[Batch]()
    var totalDocs = 0L
    var batchIdx = 0
    // warm-up (JIT + fixture broadcast), not recorded
    graft.spark.ExtractPipeline.extractSizeRouted(
      graft.spark.PagesTable.synthesize(spark, 20000, cpus * 3))
      .agg(count(lit(1))).collect()
    while ((System.nanoTime() - t0) / 60e9 < minMinutes || totalDocs < minDocs) {
      val b0 = System.nanoTime()
      val pages = graft.spark.PagesTable.synthesize(spark, batchDocs, cpus * 3)
      val row = graft.spark.ExtractPipeline.extractSizeRouted(pages)
        .agg(count(lit(1)), sum(col("n_pages"))).collect()(0)
      val sec = (System.nanoTime() - b0) / 1e9
      totalDocs += row.getLong(0)
      batches += Batch((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1), sec)
      batchIdx += 1
    }
    running = false
    val totalSec = (System.nanoTime() - t0) / 1e9

    // per-minute docs/sec: attribute each batch's docs uniformly over its
    // runtime, then bucket
    val perMinute = scala.collection.mutable.Map[Int, Double]()
    batches.foreach { b =>
      val start = b.endSec - b.sec
      var m = (start / 60).toInt
      while (m <= (b.endSec / 60).toInt) {
        val lo = math.max(start, m * 60.0)
        val hi = math.min(b.endSec, (m + 1) * 60.0)
        if (hi > lo) perMinute(m) = perMinute.getOrElse(m, 0.0) + b.docs * (hi - lo) / b.sec
        m += 1
      }
    }
    val minutes = perMinute.keys.toSeq.sorted
    // stability: ratio of the last completed minute's rate to the first
    // (excluding partial tail minutes)
    val fullMinutes = minutes.filter(m => (m + 1) * 60.0 <= totalSec)
    val stability =
      if (fullMinutes.length >= 2) perMinute(fullMinutes.last) / perMinute(fullMinutes.head)
      else 1.0
    val heapMbByMin = heapPerMin.toSeq.sortBy(_._1).map { case (m, b) => m -> b / (1 << 20) }
    val json =
      s"""{"metric":"sustained_docs_per_sec","value":${(totalDocs / totalSec).round},"unit":"docs/sec"""" +
        s""","total_docs":$totalDocs,"total_sec":${math.round(totalSec)},"batches":${batches.length}""" +
        s""","docs_per_sec_by_min":${minutes.map(m => f"${perMinute(m) / 60.0}%.0f").mkString("[", ",", "]")}""" +
        s""","heap_mb_high_water_per_min":${heapMbByMin.map(_._2).mkString("[", ",", "]")}""" +
        s""","heap_mb_max":${heapMbByMin.map(_._2).maxOption.getOrElse(0L)}""" +
        f""","rate_stability_last_over_first":$stability%.3f""" +
        s""","cpus":$cpus,"batch_docs":$batchDocs}"""
    println(json)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sustained.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
  }
}

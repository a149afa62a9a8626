package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Skew-stress artifact (north rule: "handles size-skewed documents via
  * salted repartitioning and AQE skew-split"; VERDICT r3 next-round #3).
  *
  * Corpus: `nSmall` one-page docs plus `nHeavy` monster docs of
  * `heavyPages` pages each, planted CONTIGUOUSLY at the head of the row
  * index space — the adversarial placement a real crawl produces when one
  * host's giant PDFs arrive as one slice, so the narrow (shuffle-free) plan
  * inherits them all into one input partition.
  *
  * Measured, per mode (narrow `extract` vs `extractSalted`):
  *  - end-to-end wall seconds;
  *  - per-TASK parse wall (sum of per-doc parse_ms by partition_id — the
  *    lineage column the pipeline already carries): p50 / p99 / max.
  *
  * The claim under test: with clustered skew the narrow plan's max task
  * carries ~all monster parse time (max ≫ p50) and gates the job; salting
  * spreads monsters uniformly so max collapses toward p50 + one monster,
  * bounding the straggler at a single document's parse time — the point of
  * the north rule's skew clause. One JSON line on stdout + BENCH_skew.json.
  */
object BenchSkew {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nSmall = sys.env.getOrElse("SPARK_GRAFT_SKEW_SMALL", "60000").toLong
    val nHeavy = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY", "32").toInt
    val heavyPages = sys.env.getOrElse("SPARK_GRAFT_SKEW_PAGES", "5000").toInt
    val parts = cpus

    val spark = LocalSession(cpus)
    import spark.implicits._

    val monster = graft.core.SynthPdf.multiPage(heavyPages)
    // realistic 1-pager: the reference text fixture (real fonts/content
    // stream), so the p50 task time reflects genuine small-doc parse work
    val small = graft.spark.PagesTable.fixture("text.pdf")
    val bcM = spark.sparkContext.broadcast(monster)
    val bcS = spark.sparkContext.broadcast(small)
    val epochMs = 1704067200000L

    def corpus(): Dataset[graft.spark.PageRow] =
      spark.range(0, nSmall + nHeavy, 1, parts).as[Long].map { i =>
        // monsters first: rows [0, nHeavy) — all in input partition 0
        val payload = if (i < nHeavy) bcM.value else bcS.value
        graft.spark.PageRow(
          url = s"synth://${if (i < nHeavy) "monster" else "small"}/$i",
          warc_ts = new java.sql.Timestamp(epochMs + i * 1000L),
          html = payload, text = null, lang = "la")
      }

    final case class ModeStats(sec: Double, p50: Long, p99: Long, max: Long,
                               maxDocMs: Long, tasks: Long)

    def measure(mode: String): ModeStats = {
      val ext = mode match {
        case "narrow" => graft.spark.ExtractPipeline.extract(corpus())
        case "salted" => graft.spark.ExtractPipeline.extractSalted(corpus())
        case "routed" => graft.spark.ExtractPipeline.extractSizeRouted(corpus())
      }
      val t0 = System.nanoTime()
      // one job: per-partition wall + per-doc max, aggregated declaratively
      val rows = ext.groupBy(col("partition_id"))
        .agg(sum(col("parse_ms")).as("wall_ms"), max(col("parse_ms")).as("max_doc_ms"),
          count(lit(1)).as("docs"))
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val walls = rows.map(_.getAs[Long]("wall_ms")).sorted
      def pct(p: Double): Long =
        if (walls.isEmpty) 0L else walls(math.min(walls.length - 1, (p * walls.length).toInt))
      ModeStats(sec, pct(0.50), pct(0.99), walls.lastOption.getOrElse(0L),
        rows.map(_.getAs[Long]("max_doc_ms")).max, walls.length)
    }

    // warm both paths (JIT + broadcast ship) on a small slice
    locally {
      val w = spark.range(0, 2000, 1, parts).as[Long]
        .map(i => graft.spark.PageRow(s"w/$i", new java.sql.Timestamp(epochMs), bcS.value, null, "la"))
      graft.spark.ExtractPipeline.extract(w).agg(count(lit(1))).collect()
      graft.spark.ExtractPipeline.extractSalted(w).agg(count(lit(1))).collect()
    }

    // best-of-reps per mode, interleaved (same contention-filtering protocol
    // as graft.Bench — single-shot numbers are not comparable on this host)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPS", "3").toInt
    val modes = Seq("narrow", "salted", "routed")
    val runs = (1 to reps).flatMap(_ => modes.map(m => m -> measure(m)))
    def best(m: String): ModeStats = runs.collect { case (`m`, s) => s }.minBy(_.sec)
    val narrow = best("narrow"); val salted = best("salted"); val routed = best("routed")

    def modeJson(name: String, s: ModeStats): String =
      f""""${name}_sec":${s.sec}%.3f,"${name}_task_ms_p50":${s.p50},"${name}_task_ms_p99":${s.p99},"${name}_task_ms_max":${s.max},"${name}_tasks":${s.tasks},"${name}_max_over_p50":${s.max.toDouble / math.max(1, s.p50)}%.1f"""
    val json =
      s"""{"metric":"skew_stress","n_small":$nSmall,"n_heavy":$nHeavy,"heavy_pages":$heavyPages""" +
        s""","cpus":$cpus,"reps":$reps,""" +
        modeJson("narrow", narrow) + "," + modeJson("salted", salted) + "," +
        modeJson("routed", routed) +
        s""","monster_parse_ms":${Seq(narrow, salted, routed).map(_.maxDocMs).max}}"""
    println(json)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_skew.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
  }
}

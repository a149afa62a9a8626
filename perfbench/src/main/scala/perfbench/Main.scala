package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark: one workload per process, one operation
  * in flight at a time, a `local[4]` leg then a `local[1]` leg, each with
  * its own session, set-up and warm pass. Prints a context line and, last,
  * the result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> */
object Main {

  val Cores = 4
  val QueryStrata = 40

  val EndToEnd: Vector[(String, String)] = Vector(
    "setup_s" -> "s", "wall_s" -> "s", "ops_per_s" -> "1/s", "scaling_eff" -> "ratio",
    "op_s_p50" -> "s", "op_s_p95" -> "s", "live_heap_peak_mb" -> "MB")

  val PerLayer: Vector[(String, String)] = Vector(
    "core.load_ms" -> "ms", "core.decode_ms" -> "ms", "core.decode_bytes_out" -> "bytes",
    "core.interp_ms" -> "ms", "core.assemble_ms" -> "ms", "core.pages" -> "count", "core.chars" -> "count",
    "core.font_ms" -> "ms", "core.font_distinct_frac" -> "ratio",
    "html.parse_ms" -> "ms", "html.main_text_ms" -> "ms",
    "spark.task_ms_p50" -> "ms", "spark.task_ms_max" -> "ms", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.parse_ms_p99" -> "ms", "spark.busy_frac" -> "ratio", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_delay_ms" -> "ms", "spark.failed_tasks" -> "count") ++
    Queries.Families.flatMap(f => Vector(s"ops.$f.s" -> "s", s"ops.$f.jobs" -> "count", s"ops.$f.shuffle_bytes" -> "bytes")) ++
    Queries.Targets.flatMap(q => Vector(s"ops.$q.s" -> "s", s"ops.$q.jobs" -> "count")) :+
    ("trace.overhead_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, data: Path, work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("data")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(a: Args): Workload = a.workload match {
    case "pdf_mix" => new Workloads.PdfMix(a.seed, 8000)
    case "skew_routed" => new Workloads.SkewRouted(a.seed, 6000, 4)
    case "query_suite" =>
      new QuerySuite(a.data.resolve("sf0.01").toString, a.data.resolve("queries_sf0.01.json"),
        QueryStrata, a.trace)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  final case class Timed(name: String, startNs: Long, endNs: Long, outcome: Outcome) {
    def s: Double = (endNs - startNs) / 1e9
  }

  /** One pass: each operation run and timed. An operation that throws
    * counts as one failed unit. A traced pass submits each operation's jobs
    * under the [[SparkSpans.Op]] local property. */
  def pass(spark: SparkSession, w: Workload, traced: Boolean = false): Vector[Timed] =
    w.ops.toVector.map { op =>
      if (traced) spark.sparkContext.setLocalProperty(SparkSpans.Op, op.name)
      val t0 = System.nanoTime()
      val o =
        try op.run(spark)
        catch { case scala.util.control.NonFatal(e) => Outcome(1, () => Seq(s"${op.name}: ${e.getClass.getSimpleName}")) }
        finally spark.sparkContext.setLocalProperty(SparkSpans.Op, null)
      Timed(op.name, t0, System.nanoTime(), o)
    }

  final case class Leg(setupS: Double, passes: Vector[Vector[Timed]]) {
    def passWalls: Vector[Double] = passes.map(_.map(_.s).sum)
    def units: Long = passes.headOption.map(_.map(_.outcome.units).sum).getOrElse(0L)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.seconds > 0, "--seconds must be positive")
    Files.createDirectories(a.work)
    HeapPeak.install()
    val probes = Probes.host()
    val w0 = System.nanoTime()
    val w = workload(a)
    val failures = Vector.newBuilder[String]
    var attempted = 0L
    val trace = if (a.trace) Some(new SparkSpans) else None
    var traceOverhead = 0.0
    var traced: Vector[Timed] = Vector.empty
    var tracedWallS = 0.0
    var tracedPasses = 0
    var parseMs = Vector.empty[Long]
    var gcS = 0.0

    def check(p: Vector[Timed]): Unit = {
      attempted += p.map(_.outcome.units).sum
      failures ++= p.flatMap(_.outcome.check())
    }

    // leg budgets: a local[1] pass takes up to 4x as long as a local[4]
    // one, so it gets the larger share. A traced run reports no end-to-end
    // metric, so it runs the local[4] leg only.
    val plan = if (a.trace) Vector(Cores -> 1.0) else Vector(Cores -> 0.4, 1 -> 0.6)
    val legs = plan.zipWithIndex.map { case ((cores, share), legNo) =>
      val t0 = System.nanoTime()
      val spark = session(cores, a.work)
      log(f"local[$cores] session ${(System.nanoTime() - t0) / 1e9}%.2fs")
      if (legNo == 0) w.generate()
      log(f"local[$cores] generated ${(System.nanoTime() - t0) / 1e9}%.2fs")
      w.setup(spark)
      log(f"local[$cores] inputs ${(System.nanoTime() - t0) / 1e9}%.2fs")
      // warm passes, checked and part of set-up: a fixed count, so that
      // set-up time grows with the program's cost of warming up
      val warm = (1 to w.warmPasses(legNo == 0)).map { _ => val p = pass(spark, w); check(p); p.map(_.s).sum }
      log(f"local[$cores] warm ${(System.nanoTime() - t0) / 1e9}%.2fs, passes ${warm.map(x => f"$x%.3f").mkString(" ")}")
      val setupS = (System.nanoTime() - t0) / 1e9
      val jobProbe = if (cores == Cores) Probes.jobLatencyMs(spark) else Double.NaN
      // live heap: full collections after the warm-up and after the last
      // timed pass of the local[4] leg, and any during its timed passes
      HeapPeak.armed = cores == Cores
      if (HeapPeak.armed) HeapPeak.fullGc()
      val budget = a.seconds * share
      val passes = Vector.newBuilder[Vector[Timed]]
      var n = 0
      val l0 = System.nanoTime()
      def legS = (System.nanoTime() - l0) / 1e9
      val traceThis = trace.isDefined && cores == Cores
      var untracedWalls = Vector.empty[Double]
      var tracedWalls = Vector.empty[Double]
      var done = false
      if (traceThis) trace.foreach(spark.sparkContext.addSparkListener)
      while (!done) {
        // a traced leg alternates untraced and traced passes, so that both
        // see the same JIT and host state; the listener records only the
        // traced ones
        val listen = traceThis && n % 2 == 1
        val gc0 = HeapPeak.gcSeconds
        val p = pass(spark, w, listen)
        if (listen) {
          tracedWalls :+= p.map(_.s).sum
          traced ++= p
          parseMs ++= p.flatMap(_.outcome.parseMs)
          gcS += HeapPeak.gcSeconds - gc0
        } else if (traceThis) untracedWalls :+= p.map(_.s).sum
        passes += p
        check(p)
        n += 1
        done = n >= w.minPasses(legNo == 0) && legS >= budget && (!traceThis || tracedWalls.nonEmpty)
      }
      if (HeapPeak.armed) HeapPeak.fullGc()
      HeapPeak.armed = false
      if (traceThis) {
        trace.foreach { l => l.drain(spark.sparkContext); spark.sparkContext.removeSparkListener(l) }
        tracedPasses = tracedWalls.size
        tracedWallS = tracedWalls.sum
        traceOverhead = median(tracedWalls) / median(untracedWalls) - 1
      }
      val leg = Leg(setupS, passes.result())
      log(f"local[$cores] ${leg.passes.size} timed passes, median ${median(leg.passWalls)}%.3fs: ${leg.passWalls.map(x => f"$x%.3f").mkString(" ")}")
      stop(spark)
      (leg, jobProbe)
    }
    val totalS = (System.nanoTime() - w0) / 1e9

    val l4 = legs(0)._1
    val l1 = legs.lift(1).map(_._1)
    val failed = failures.result()
    val opsPerS4 = l4.units / median(l4.passWalls)
    val opSamples = if (a.workload == "query_suite") l4.passes.flatMap(_.map(_.s)) else l4.passWalls
    def e2e = Map(
      "setup_s" -> median(legs.map(_._1.setupS)),
      "wall_s" -> median(l4.passWalls),
      "ops_per_s" -> opsPerS4,
      "scaling_eff" -> l1.fold(Double.NaN)(l => opsPerS4 / (Cores * l.units / median(l.passWalls))),
      "op_s_p50" -> quantile(opSamples, 0.5),
      "op_s_p95" -> quantile(opSamples, 0.95),
      "live_heap_peak_mb" -> HeapPeak.peakMb)

    val coreSpans = if (a.trace) corePass(w, a) else Vector.empty
    val ctx = Map(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
      "host" -> json(probes + ("job_latency_ms" -> legs(0)._2)),
      "samples" -> json(Map("passes_local4" -> l4.passes.size.toDouble, "passes_local1" -> l1.fold(0.0)(_.passes.size.toDouble),
        "op_samples" -> opSamples.size.toDouble, "units_per_pass" -> l4.units.toDouble)),
      "fail_frac" -> fmt(if (attempted == 0) 0.0 else failed.size.toDouble / attempted),
      "failures" -> failed.groupBy(identity).map { case (k, v) => s""""${esc(k)}": ${v.size}""" }.mkString("{", ", ", "}"),
      "workload_context" -> json(w.context),
      "total_s" -> fmt(totalS)) ++
      (if (a.trace) featureShares(coreSpans) else Map.empty)
    println(ctx.map { case (k, v) => s""""$k": $v""" }.mkString("""{"context": {""", ", ", "}}"))

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) EndToEnd.map { case (k, u) => k -> (e2e(k), u) }.toMap
      else {
        val l = trace.get
        writeSpans(a, "spark", (l.jobs.asScala ++ l.stages.asScala).toSeq ++ l.tasks.asScala.toSeq.map { t =>
          Span(t.taskId, t.stageId.toLong, "spark", "task", t.launchMs * 1000000L, t.finishMs * 1000000L,
            Map("run_ms" -> t.runMs.toDouble, "shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble))
        })
        val layer = perLayer(l, traced, tracedPasses, tracedWallS, parseMs, gcS) ++
          CoreSpans.summary(coreSpans, w.documents) + ("trace.overhead_frac" -> traceOverhead)
        PerLayer.map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }.toMap
      }
    val correct = failed.isEmpty && attempted > 0
    val m = metrics.toVector.sortBy(_._1).map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failed.size}, "metrics": ${m.mkString("{", ", ", "}")}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Single-thread pass over the generated documents with spans around each
    * engine call; the spans are written to the trace file. */
  private def corePass(w: Workload, a: Args): Vector[Span] = {
    val spans = w.documents.zipWithIndex.flatMap { case (d, i) => CoreSpans.document(i.toLong, d) }.toVector
    writeSpans(a, "core", spans)
    spans
  }

  /** Each generated feature's share of the documents and of the summed
    * per-document time of the single-thread core pass. */
  private def featureShares(spans: Seq[Span]): Map[String, String] = {
    val docs = spans.filter(_.layer == "doc")
    val totalMs = docs.map(_.ms).sum
    val byFeature = docs.groupBy(_.name)
    Map("feature_doc_share" -> json(byFeature.map { case (f, ds) => f -> ds.size.toDouble / docs.size }),
      "feature_time_share" -> json(byFeature.map { case (f, ds) => f -> ds.map(_.ms).sum / totalMs }))
  }

  /** Writes spans, one JSON object a line, under `<work>/../trace/`. */
  private def writeSpans(a: Args, kind: String, spans: Seq[Span]): Unit = {
    val dir = a.work.getParent.resolve("trace")
    Files.createDirectories(dir)
    val lines = spans.map(s => s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "name": "${esc(s.name)}", """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counts": ${json(s.counts)}}""")
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}-$kind.jsonl"), lines.asJava)
  }

  /** Spark layer metrics over the traced passes, per pass where a count.
    * Each job belongs to the operation it was submitted under. */
  private def perLayer(l: SparkSpans, ops: Vector[Timed], passes: Int, wallS: Double,
                       parseMs: Vector[Long], gcS: Double): Map[String, Double] = {
    val tasks = l.tasks.asScala.toVector
    val jobs = l.jobs.asScala.toVector
    val np = math.max(1, passes).toDouble
    val taskMs = tasks.map(_.ms.toDouble)
    val p50 = quantile(taskMs, 0.5)
    val jobOp = jobs.map(j => j.id.toInt -> j.name).toMap
    val opShuffle = tasks.groupBy(t => jobOp.get(t.jobId)).collect { case (Some(q), ts) => q -> ts.map(_.shuffleWriteBytes).sum }
    val opJobs = jobOp.values.groupBy(identity).map { case (q, v) => q -> v.size }
    val opS = ops.groupBy(_.name).map { case (q, v) => q -> v.map(_.s).sum }
    val fam = Queries.Families.flatMap { f =>
      val qs = opS.keys.filter(q => Queries.family(q) == f && !q.startsWith("extract"))
      Vector(s"ops.$f.s" -> qs.map(opS).sum / np, s"ops.$f.jobs" -> qs.map(q => opJobs.getOrElse(q, 0)).sum / np,
        s"ops.$f.shuffle_bytes" -> qs.map(q => opShuffle.getOrElse(q, 0L)).sum / np)
    }
    val targets = Queries.Targets.flatMap { q =>
      Vector(s"ops.$q.s" -> opS.getOrElse(q, 0.0) / np, s"ops.$q.jobs" -> opJobs.getOrElse(q, 0) / np)
    }
    (Map(
      "spark.task_ms_p50" -> p50,
      "spark.task_ms_max" -> (if (taskMs.isEmpty) 0.0 else taskMs.max),
      "spark.task_skew" -> (if (p50 > 0) taskMs.max / p50 else 0.0),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum / np,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleReadBytes).sum / np,
      "spark.spill_bytes" -> tasks.map(_.spillBytes).sum / np,
      "spark.parse_ms_p99" -> (if (parseMs.isEmpty) 0.0 else quantile(parseMs.map(_.toDouble), 0.99)),
      "spark.busy_frac" -> (if (wallS > 0) tasks.map(_.runMs).sum / 1000.0 / (wallS * Cores) else 0.0),
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / np,
      "spark.gc_s" -> gcS / np,
      "spark.jobs" -> jobs.size / np,
      "spark.stages" -> l.stages.size / np,
      "spark.tasks" -> tasks.size / np,
      "spark.scheduler_delay_ms" -> tasks.map(_.schedulerDelayMs).sum / np,
      "spark.failed_tasks" -> tasks.count(_.failed) / np) ++ fam ++ targets)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def json(m: Map[String, Double]): String =
    m.toVector.sortBy(_._1).map { case (k, v) => s""""${esc(k)}": ${fmt(v)}""" }.mkString("{", ", ", "}")
}

/** Host probes recorded beside every run, so a reader can tell a noisy
  * window from a code change. They are context, not metrics. */
object Probes {
  @volatile private var sink = 0L // keeps the spin loop from being optimized away

  def host(): Map[String, Double] = {
    // spin: fixed single-thread integer work
    val spins = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 1L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      sink += x
      (System.nanoTime() - t0) / 1e6
    }
    // bandwidth: copy a 64 MiB array
    val src = new Array[Byte](64 << 20); val dst = new Array[Byte](64 << 20)
    val bws = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(src, 0, dst, 0, src.length)
      src.length / ((System.nanoTime() - t0) / 1e9) / 1e9
    }
    Map("spin_ms" -> Main.median(spins), "copy_gb_per_s" -> Main.median(bws),
      "cpus" -> Runtime.getRuntime.availableProcessors.toDouble)
  }

  /** Median latency of a trivial four-task job. */
  def jobLatencyMs(spark: SparkSession): Double = Main.median((1 to 15).map { _ =>
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to 4, 4).count()
    (System.nanoTime() - t0) / 1e6
  }.drop(5))
}

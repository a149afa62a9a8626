package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for none); spans of one job or one document share
  * the parent's id. */
final case class Span(id: Long, parent: Long, layer: String, name: String, startNs: Long, endNs: Long,
                      counts: Map[String, Double] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class TaskRec(taskId: Long, stageId: Int, jobId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         schedulerDelayMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, failed: Boolean) {
  def ms: Long = finishMs - launchMs
}

/** Benchmark-owned listener: one span per job, its stages as children, and
  * a record per task. It records only the jobs submitted under the
  * [[SparkSpans.Op]] local property, whenever their events arrive, and names
  * each job span after that operation. Everything stays in memory until the
  * run ends. */
final class SparkSpans extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val drained = new java.util.concurrent.atomic.AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(SparkSpans.Marker) != null)) markers.add(e.jobId)
    props.flatMap(p => Option(p.getProperty(SparkSpans.Op))).foreach { op =>
      jobStart.put(e.jobId, (System.nanoTime(), e.stageIds, op))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (markers.remove(e.jobId)) drained.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (t0, st, op) =>
      jobs.add(Span(e.jobId, -1, "spark", op, t0, System.nanoTime(), Map("stages" -> st.size.toDouble)))
    }
  }

  /** Returns once every event posted before the call has reached this
    * listener: the bus delivers in order, so that is when a marker job's
    * end arrives. */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    val n = drained.get
    sc.setLocalProperty(SparkSpans.Marker, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SparkSpans.Marker, null)
    val t0 = System.nanoTime()
    while (drained.get == n && System.nanoTime() - t0 < 10000000000L) Thread.sleep(2)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (stageJob.containsKey(e.stageInfo.stageId)) {
    val i = e.stageInfo
    val end = System.nanoTime()
    val durMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    stages.add(Span(i.stageId, stageJob.getOrDefault(i.stageId, -1).toLong, "spark", i.name,
      end - durMs * 1000000L, end, Map("tasks" -> i.numTasks.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (stageJob.containsKey(e.stageId)) {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val (run, cpu, delay, sr, sw, spill) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
      else {
        val dur = ti.finishTime - ti.launchTime
        val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L))
        (m.executorRunTime, m.executorCpuTime, delay,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    tasks.add(TaskRec(ti.taskId, e.stageId, stageJob.getOrDefault(e.stageId, -1), ti.launchTime, ti.finishTime, run, cpu,
      delay, sr, sw, spill, !ti.successful))
  }
}

object SparkSpans {
  /** Local property that marks a job as traced; its value is the operation. */
  val Op = "perfbench.op"
  private val Marker = "perfbench.drain"
}

/** Spans around each public call of the PDF engine (`graft.core`) and the
  * HTML extractor (`graft.core.html`), taken in a single-thread pass over
  * the generated documents. */
object CoreSpans {
  import graft.core._

  private def time[T](f: => T): (T, Long, Long) = {
    val t0 = System.nanoTime(); val r = f; (r, t0, System.nanoTime())
  }

  /** Spans for one document; the document span is the parent of all. */
  def document(id: Long, d: GenDoc): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    val d0 = System.nanoTime()
    var pages, chars = 0L
    if (d.feature == "html_article") {
      val (h, p0, p1) = time(html.HtmlExtract.parse(d.bytes))
      out += Span(id, id, "html", "parse", p0, p1)
      val (text, m0, m1) = time(h.mainText())
      out += Span(id, id, "html", "main_text", m0, m1, Map("chars" -> text.length.toDouble))
    } else {
      val (loaded, l0, l1) = time(PdfDocument.load(d.bytes))
      out += Span(id, id, "core", "load", l0, l1)
      loaded.foreach { doc =>
        val fontsSeen = new java.util.IdentityHashMap[AnyRef, Unit]()
        doc.pages.foreach { page =>
          pages += 1
          val (bytes, s0, s1) = time(contentStreams(doc, page.dict("Contents")).map(doc.streamData))
          out += Span(id, id, "core", "decode", s0, s1, Map("bytes_out" -> bytes.map(_.length.toLong).sum.toDouble))
          doc.resolve(page.resources("Font")) match {
            case fonts: PdfDict => fonts.entries.foreach { case (tag, ref) =>
              doc.resolve(ref) match {
                case fd: PdfDict if !fontsSeen.containsKey(fd) =>
                  fontsSeen.put(fd, ())
                  val (_, f0, f1) = time(PdfFontDecoder.fromDict(tag, fd, doc))
                  out += Span(id, id, "core", "font", f0, f1)
                case _ => ()
              }
            }
            case _ => ()
          }
          val (_, i0, i1) = time(ContentInterpreter.run(page))
          out += Span(id, id, "core", "interp", i0, i1)
        }
      }
      // text assembly runs the interpreter again; a freshly loaded copy
      // keeps the first run's per-document caches out of its time
      PdfDocument.load(d.bytes).foreach(_.pages.foreach { page =>
        val (tp, b0, b1) = time(TextPage.build(page))
        chars += tp.countChars
        out += Span(id, id, "core", "textpage_build", b0, b1)
      })
    }
    out += Span(id, -1, "doc", d.feature, d0, System.nanoTime(), Map("pages" -> pages.toDouble, "chars" -> chars.toDouble))
    out.result()
  }

  private def contentStreams(doc: PdfDocument, c: PdfObject): Vector[PdfObject] = doc.resolve(c) match {
    case s: PdfStream => Vector(s)
    case PdfArray(items) => items.toVector
    case _ => Vector.empty
  }

  /** Per-layer totals of a core pass. Assembly self time is the build span
    * minus the interpreter span, as the build runs the interpreter. */
  def summary(spans: Seq[Span], docs: Seq[GenDoc]): Map[String, Double] = {
    def total(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name).map(_.ms).sum
    val docSpans = spans.filter(_.layer == "doc")
    val embedded = docs.filter(_.fontProgram >= 0)
    Map(
      "core.load_ms" -> total("core", "load"),
      "core.decode_ms" -> total("core", "decode"),
      "core.decode_bytes_out" -> spans.filter(_.name == "decode").map(_.counts("bytes_out")).sum,
      "core.font_ms" -> total("core", "font"),
      "core.interp_ms" -> total("core", "interp"),
      "core.assemble_ms" -> math.max(0.0, total("core", "textpage_build") - total("core", "interp")),
      "core.pages" -> docSpans.map(_.counts("pages")).sum,
      "core.chars" -> docSpans.map(_.counts("chars")).sum,
      "core.font_distinct_frac" ->
        (if (embedded.isEmpty) 0.0 else embedded.map(_.fontProgram).distinct.size.toDouble / embedded.size),
      "html.parse_ms" -> total("html", "parse"),
      "html.main_text_ms" -> total("html", "main_text"))
  }
}

/** Largest heap in use just after a full collection while `armed`, from
  * the JVM's GC notifications. Only full collections count: after a young
  * collection the heap still holds whatever garbage was promoted. */
object HeapPeak {
  @volatile var armed = false
  @volatile private var peak = 0L
  private val fullGcs = new java.util.concurrent.atomic.AtomicInteger()

  def install(): Unit = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (info.getGcAction == "end of major GC") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            if (armed) synchronized { if (used > peak) peak = used }
            fullGcs.incrementAndGet()
          }
        }
      }, null, null)
    case _ => ()
  }

  /** Two full collections, returning once the second has been seen; the
    * first lets Spark's cleaner drop what became unreachable. */
  def fullGc(): Unit = (1 to 2).foreach { _ =>
    val n = fullGcs.get
    System.gc()
    val t0 = System.nanoTime()
    while (fullGcs.get == n && System.nanoTime() - t0 < 2000000000L) Thread.sleep(5)
    Thread.sleep(50)
  }

  def peakMb: Double = peak / 1048576.0

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

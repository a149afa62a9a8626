package graft.spark

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, Dataset}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.{LogCapture, SparkSessionFixture}
import graft.core.{ErrCodes, PdfDocument, SynthPdf}

/** The two extraction placement policies, the payload guard and resumable
  * extraction on a corpus built in code (generated PDFs, generated HTML, a
  * null payload and one multi-page heavy), so these specs need no reference
  * fixtures. */
class ExtractPipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = SparkSessionFixture.spark

  private val NullUrl = "synth://null"
  private val HeavyUrl = "synth://pdf/heavy"

  private lazy val rows: Seq[PageRow] = {
    val ts = new java.sql.Timestamp(1704067200000L)
    val pdfs = Seq("paragraphs" -> SynthPdf.paragraphsPdf, "article" -> SynthPdf.articlePdf,
      "table" -> SynthPdf.tablePdf, "headings" -> SynthPdf.headingsPdf,
      "two_column" -> SynthPdf.twoColumnPdf, HeavyUrl -> SynthPdf.multiPage(300))
    pdfs.map { case (name, bytes) =>
      PageRow(if (name == HeavyUrl) name else s"synth://pdf/$name", ts, bytes, null, "en")
    } ++ PagesTable.synthesizeHtml(spark, 12, 2).collect() :+
      PageRow(NullUrl, ts, null, null, "en")
  }

  /** The corpus as a parquet scan, the way extraction reads its input: three
    * files with fixed names, since ResumableExtract groups rows by file name
    * and Spark gives each write's part files a fresh UUID. */
  private lazy val pages: Dataset[PageRow] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("extract-corpus").resolve("pages")
    spark.createDataset(rows).repartition(3).write.parquet(dir.toString)
    val written = Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    val (parts, rest) = written.partition(_.getFileName.toString.startsWith("part-"))
    assert(parts.size == 3, written)
    rest.foreach(Files.delete)
    parts.zipWithIndex.foreach { case (f, i) => Files.move(f, dir.resolve(s"pages-$i.parquet")) }
    spark.read.parquet(dir.toString).as[PageRow]
  }

  /** Every payload but the heavy one is at most this many bytes. */
  private lazy val heavyBytes: Int =
    rows.filter(r => r.html != null && r.url != HeavyUrl).map(_.html.length).max

  private def result(ds: Dataset[ExtractedDoc]): Seq[(String, Boolean, String, Int, Long, String)] =
    ds.collect().toSeq.map(d => (d.url, d.ok, d.err_code, d.n_pages, d.n_chars, d.text)).sortBy(_._1)

  private def shuffles(ds: Dataset[_]): Seq[ShuffleExchangeLike] =
    collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }

  test("size-routed extraction equals narrow extraction; only the heavy row is shuffled") {
    assert(rows.find(_.url == HeavyUrl).get.html.length > heavyBytes)
    val narrow = ExtractPipeline.extract(pages)
    val routed = ExtractPipeline.extractSizeRouted(pages, heavyBytes = heavyBytes)
    val expected = result(narrow)
    assert(expected.map(_._1) == rows.map(_.url).sorted)
    assert(expected.count(_._2) == rows.size - 1, "every non-null payload extracts")
    assert(result(routed) == expected)
    val branches = routed.collect().map(d => d.url -> d.branch).toMap
    assert(branches == rows.map(r => r.url -> (if (r.url == HeavyUrl) "salted" else "narrow")).toMap)
    // both plans have now run: narrow has no Exchange, routed exactly one,
    // round-robin into spark.sql.shuffle.partitions
    assert(shuffles(narrow).isEmpty, narrow.queryExecution.executedPlan)
    val routedShuffles = shuffles(routed)
    assert(routedShuffles.size == 1, routed.queryExecution.executedPlan)
    assert(routedShuffles.head.outputPartitioning ==
      RoundRobinPartitioning(spark.sessionState.conf.numShufflePartitions))
  }

  test("heavy rows clustered in one input partition each get their own task") {
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    // p urls that repartition(p, xxhash64(url)) stacks in one task: its
    // HashPartitioning places a row by pmod(hash(xxhash64(url)), p)
    val urls = (0 until 64 * p).map(i => s"synth://pdf/monster-$i").toDS()
      .select(col("value"), pmod(hash(xxhash64(col("value"))), lit(p)).as("bucket"))
      .collect().groupBy(_.getInt(1)).values.find(_.length >= p).get.take(p).map(_.getString(0))
    val ts = new java.sql.Timestamp(1704067200000L)
    val monster = SynthPdf.multiPage(100)
    assert(monster.length > heavyBytes)
    val clustered = urls.toSeq.map(u => PageRow(u, ts, monster, null, "en")) ++
      rows.filter(r => r.url != HeavyUrl)
    val dir = Files.createTempDirectory("extract-clustered").resolve("pages").toString
    spark.createDataset(clustered).coalesce(1).write.parquet(dir)
    val input = spark.read.parquet(dir).as[PageRow]
    assert(input.rdd.getNumPartitions == 1)
    val routed = ExtractPipeline.extractSizeRouted(input, heavyBytes = heavyBytes)
    val heavyTasks = routed.collect().filter(_.branch == "salted").map(d => d.url -> d.partition_id).toMap
    assert(heavyTasks.keySet == urls.toSet)
    assert(heavyTasks.values.toSet.size == p, heavyTasks)
    assert(result(routed) == result(ExtractPipeline.extract(input)))
  }

  test("a null payload fails each entry point the way that entry point reports failures") {
    import spark.implicits._
    val nullOnly = pages.where(col("html").isNull)
    assert(result(ExtractPipeline.extract(nullOnly)) == Seq((NullUrl, false, ErrCodes.Format, 0, 0L, "")))
    assert(ExtractPipeline.extractDoc(nullOnly).collect().toSeq == Seq(DocTable.error(NullUrl, ErrCodes.Format)))
    assert(ExtractPipeline.mapDocs(nullOnly)((url, _) => Seq(url)).collect().isEmpty)
    assert(ExtractPipeline.extractSpans(nullOnly).collect().isEmpty)
  }

  test("the metrics table's wall_ms counts a partition of sub-millisecond documents") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1704067200000L)
    val small = (0 until 64).map(i =>
      PageRow(s"synth://pdf/small-$i", ts, SynthPdf.onePage(s"BT /F1 12 Tf 72 720 Td (doc $i) Tj ET"), null, "en"))
    val input = spark.createDataset(small).coalesce(1)
    assert(ExtractPipeline.extract(input).collect().forall(_.ok)) // warm: each parse now takes well under 1 ms
    val m = ExtractPipeline.metrics(ExtractPipeline.extract(input), "t").collect()
    assert(m.length == 1 && m.head.getAs[Long]("docs") == 64L)
    assert(m.head.getAs[Double]("wall_ms") > 0.0)
  }

  test("extractSpans rows equal the page spans computed on the driver") {
    val expected = rows.filter(_.html != null).flatMap { r =>
      PdfDocument.load(r.html).toSeq.flatMap(_.pages.zipWithIndex.map { case (p, i) =>
        val tp = p.textPage
        PageSpans(r.url, i, tp.text, tp.countChars.toLong,
          tp.rects().map(x => SpanRect(x.left, x.bottom, x.right, x.top)))
      })
    }
    assert(expected.map(_.url).distinct.size == 6, "the six generated PDFs load; HTML does not")
    val got = ExtractPipeline.extractSpans(pages).collect().toSeq
    val key = (s: PageSpans) => (s.url, s.page_idx)
    assert(got.sortBy(key) == expected.sortBy(key))
  }

  /** Every regular file under `root`, relative, with its mtime and bytes. */
  private def files(root: Path): Map[String, (Long, Seq[Byte])] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString -> (Files.getLastModifiedTime(f).toMillis, Files.readAllBytes(f).toSeq)
    }.toMap

  private def resume(out: Path, groups: Int): Unit = ResumableExtract.run(pages, out.toString, groups)

  /** Spark jobs started while `body` runs, and the input rows their tasks
    * read. The listener bus delivers in order, so once a marker job
    * submitted after `body` has reached the listener, so has every job
    * start and task end that `body` caused. */
  private def jobsDuring(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val (started, markers, read) = (new AtomicInteger, new AtomicInteger, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null)) markers.incrementAndGet()
        else started.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val t0 = System.nanoTime()
      while (markers.get == 0 && System.nanoTime() - t0 < 10000000000L) Thread.sleep(2)
      assert(markers.get == 1, "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    (started.get, read.get)
  }

  /** A first run with groups = 2, a crash that `crash` leaves in group 0's
    * output, then a rerun: group 1 keeps its marker and its exact files,
    * and every url is present exactly once. */
  private def rerunAfter(crash: Path => Unit): Unit = {
    val out = Files.createTempDirectory("resume-run").resolve("out")
    resume(out, 2)
    for (g <- 0 to 1) {
      assert(spark.read.parquet(out.resolve(s"group=$g").toString).count() > 0, s"group=$g is empty")
      assert(Files.exists(out.resolve(s"_committed/$g-of-2")), s"marker $g")
    }
    val group1 = (m: Map[String, (Long, Seq[Byte])]) =>
      m.filter { case (f, _) => f.startsWith("group=1") || f.startsWith("_committed/1-of-2") }
    val first = group1(files(out))
    Files.delete(out.resolve("_committed/0-of-2"))
    crash(out.resolve("group=0"))
    resume(out, 2)
    assert(group1(files(out)) == first, "group 1 was rewritten")
    assert(Files.exists(out.resolve("_committed/0-of-2")), "group 0 was not committed")
    val urls = spark.read.parquet(out.toString).select("url").collect().map(_.getString(0)).toSeq
    assert(urls.sorted == rows.map(_.url).sorted, "every url exactly once")
  }

  test("ResumableExtract.run redoes a crashed group in place and leaves committed groups alone") {
    // crash mid-output: the job commit moved only some part files, no _SUCCESS
    rerunAfter { group0 =>
      val landed = Files.list(group0).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      assert(landed.nonEmpty)
      (landed.take((landed.size + 1) / 2) :+ group0.resolve("_SUCCESS")).foreach(Files.delete)
    }
  }

  test("ResumableExtract.run redoes a group whose output landed without its marker") {
    rerunAfter(_ => ())
  }

  test("a settled ResumableExtract.run writes no file and submits no Spark job") {
    val out = Files.createTempDirectory("resume-settled").resolve("out")
    resume(out, 2)
    val settled = files(out.getParent)
    assert(jobsDuring(resume(out, 2)) == (0, 0L))
    assert(files(out.getParent) == settled)
  }

  test("ResumableExtract.run with another groups value throws and writes nothing") {
    import spark.implicits._
    val out = Files.createTempDirectory("resume-groups").resolve("out")
    resume(out, 2)
    val landed = files(out)
    intercept[IllegalArgumentException](resume(out, 3))
    assert(files(out) == landed)
    // a Dataset that is not a file scan has no _metadata to group by
    val fresh = Files.createTempDirectory("resume-input").resolve("out")
    intercept[AnalysisException](ResumableExtract.run(spark.createDataset(rows), fresh.toString, 2))
    assert(!Files.exists(fresh))
  }

  test("ResumableExtract.run reads each input row once, in one job per uncommitted group") {
    assert(pages.inputFiles.length == 3) // writes the corpus before any run is counted
    for (groups <- Seq(1, 4, 16)) {
      val out = Files.createTempDirectory("resume-reads").resolve("out")
      assert(jobsDuring(resume(out, groups)) == (groups, rows.size.toLong), s"groups = $groups")
      // redo every other group: each reads only its own files
      val redo = 0 until groups by 2
      redo.foreach(g => Files.delete(out.resolve(s"_committed/$g-of-$groups")))
      val redoRows = redo.map(g => spark.read.parquet(out.resolve(s"group=$g").toString).count()).sum
      assert(jobsDuring(resume(out, groups)) == (redo.size, redoRows), s"groups = $groups, redo $redo")
    }
  }

  test("a first ResumableExtract.run logs no FileNotFoundException") {
    val dir = Files.createTempDirectory("resume-first")
    val events = LogCapture.during(resume(dir.resolve("out"), 2))
    def fileNotFound(e: org.apache.logging.log4j.core.LogEvent): Boolean =
      e.getMessage.getFormattedMessage.contains("FileNotFoundException") ||
        Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[java.io.FileNotFoundException])
    val logged = events.filter(fileNotFound).map(_.getMessage.getFormattedMessage)
    assert(logged.isEmpty, logged.mkString("\n"))
  }
}

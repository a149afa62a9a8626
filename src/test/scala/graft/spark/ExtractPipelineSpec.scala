package graft.spark

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.{LogCapture, SparkSessionFixture}
import graft.core.{ErrCodes, PdfDocument, SynthPdf}

/** The two extraction placement policies and the payload guard on a corpus
  * built in code (generated PDFs, generated HTML, a null payload and one
  * multi-page heavy), so these specs need no reference fixtures. */
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

  /** The corpus as a parquet scan, the way extraction reads its input. */
  private lazy val pages: Dataset[PageRow] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("extract-corpus").resolve("pages").toString
    spark.createDataset(rows).repartition(3).write.parquet(dir)
    spark.read.parquet(dir).as[PageRow]
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
    // hash-partitioned by xxhash64 into spark.sql.shuffle.partitions
    assert(shuffles(narrow).isEmpty, narrow.queryExecution.executedPlan)
    val routedShuffles = shuffles(routed)
    assert(routedShuffles.size == 1, routed.queryExecution.executedPlan)
    routedShuffles.head.outputPartitioning match {
      case HashPartitioning(Seq(_: XxHash64), n) =>
        assert(n == spark.sessionState.conf.numShufflePartitions)
      case other => fail(s"routed Exchange is not an xxhash64 hash partitioning: $other")
    }
  }

  test("a null payload fails each entry point the way that entry point reports failures") {
    import spark.implicits._
    val nullOnly = pages.where(col("html").isNull)
    assert(result(ExtractPipeline.extract(nullOnly)) == Seq((NullUrl, false, ErrCodes.Format, 0, 0L, "")))
    assert(ExtractPipeline.extractDoc(nullOnly).collect().toSeq == Seq(DocTable.error(NullUrl, ErrCodes.Format)))
    assert(ExtractPipeline.mapDocs(nullOnly)((url, _) => Seq(url)).collect().isEmpty)
    assert(ExtractPipeline.extractSpans(nullOnly).collect().isEmpty)
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

  private def files(root: Path): Map[String, Long] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.getLastModifiedTime(f).toMillis).toMap

  private def deleteTree(root: Path): Unit =
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("ResumableExtract.run redoes a crashed group in place and leaves committed groups alone") {
    val dir = Files.createTempDirectory("resume-run")
    val (out, wm) = (dir.resolve("out"), dir.resolve("wm"))
    def run(): Unit = ResumableExtract.run(spark, pages, out.toString, wm.toString, nBuckets = 8, groups = 2)
    run()
    for (d <- Seq(out, wm); g <- 0 to 1) assert(Files.isDirectory(d.resolve(s"group=$g")), s"$d group=$g")
    val group1 = (m: Map[String, Long]) => m.filter(_._1.startsWith("group=1"))
    val firstOut = files(out)
    val firstWm = files(wm)
    // crash: group 0 neither landed its output nor committed its watermark
    deleteTree(out.resolve("group=0"))
    deleteTree(wm.resolve("group=0"))
    run()
    assert(group1(files(out)) == group1(firstOut) && group1(files(wm)) == group1(firstWm))
    val urls = spark.read.parquet(out.toString).select("url").collect().map(_.getString(0)).toSeq
    assert(urls.sorted == rows.map(_.url).sorted, "every url exactly once")
    // every group committed: a rerun writes nothing
    val settled = files(dir)
    run()
    assert(files(dir) == settled)
  }

  test("a first ResumableExtract.run logs no FileNotFoundException") {
    val dir = Files.createTempDirectory("resume-first")
    val events = LogCapture.during {
      ResumableExtract.run(spark, pages, dir.resolve("out").toString, dir.resolve("wm").toString,
        nBuckets = 8, groups = 2)
    }
    def fileNotFound(e: org.apache.logging.log4j.core.LogEvent): Boolean =
      e.getMessage.getFormattedMessage.contains("FileNotFoundException") ||
        Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[java.io.FileNotFoundException])
    val logged = events.filter(fileNotFound).map(_.getMessage.getFormattedMessage)
    assert(logged.isEmpty, logged.mkString("\n"))
  }

  test("ResumableExtract.run fails on a corrupt watermark instead of redoing every group") {
    val dir = Files.createTempDirectory("resume-corrupt")
    val (out, wm) = (dir.resolve("out"), dir.resolve("wm"))
    // one bucket in one group: the watermark is a single parquet file
    def run(): Unit = ResumableExtract.run(spark, pages, out.toString, wm.toString, nBuckets = 1, groups = 1)
    run()
    val parquet = Files.walk(wm).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    assert(parquet.size == 1, parquet)
    Files.write(parquet.head, "not a parquet file".getBytes("UTF-8"))
    Files.deleteIfExists(parquet.head.resolveSibling(s".${parquet.head.getFileName}.crc"))
    val landed = files(out)
    intercept[Exception](run())
    assert(files(out) == landed, "no group was rewritten")
  }
}

package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}

/** One row of the Common-Crawl-style input table
  * (BASELINE.json input_hint: url, warc_ts, html, text, lang). */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Deterministic synthetic pages table: reference fixture PDFs replicated
  * into the `html` column (seed-free — fully determined by row index), with
  * a size-skew pattern so salting/AQE handling is exercised (FIXTURES.md §1).
  *
  * The fixture corpus is the oracle corpus named by the north star
  * (BASELINE.json: tests/test_textpage.py, tests/test_document.py fixtures).
  * Bytes are loaded once per JVM and shipped to executors via broadcast, so
  * synthesizing N rows costs O(N) longs over the wire, not O(N·docSize).
  */
object PagesTable {

  val FixtureDir = "/root/reference/tests/resources"

  /** Fixture rotation for bulk synthesis: mixed small docs. multipage.pdf
    * (233 KB, 3 pages + huge embedded font) is the skew heavy-hitter. */
  val rotation: Vector[String] = Vector(
    "text.pdf", "empty.pdf", "render.pdf", "toc.pdf", "text.pdf",
    "forms.pdf", "images.pdf", "toc_viewmodes.pdf", "text.pdf", "attachments.pdf")
  val heavy = "multipage.pdf"

  /** Fails with one IllegalStateException naming [[FixtureDir]] and every
    * missing fixture, so a host without the corpus gets one clear cause. */
  @transient private lazy val fixtureBytes: Map[String, Array[Byte]] = {
    val names = rotation.toSet + heavy + "encrypted.pdf" + "box_fallback.pdf" +
      "toc_circular.pdf" + "toc_maxdepth.pdf" + "multipage.pdf" + "mona_lisa.jpg"
    val paths = names.map(n => n -> java.nio.file.Paths.get(FixtureDir, n)).toMap
    val missing = paths.collect { case (n, p) if !java.nio.file.Files.isRegularFile(p) => n }
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"the reference fixture corpus is absent: $FixtureDir lacks ${missing.toSeq.sorted.mkString(", ")}")
    paths.map { case (n, p) => n -> java.nio.file.Files.readAllBytes(p) }
  }

  def fixture(name: String): Array[Byte] = fixtureBytes(name)

  /** Fixture name for row i: every 13th row gets the heavy multipage doc
    * (size skew), the rest rotate through the small corpus. */
  def fixtureNameFor(i: Long): String =
    if (i % 13 == 7) heavy else rotation((i % rotation.length).toInt)

  private val epochMs = 1704067200000L // 2024-01-01T00:00:00Z, fixed

  /** N-row synthetic table. Deterministic: row i is fully determined by i. */
  def synthesize(spark: SparkSession, nDocs: Long, nPartitions: Int = 32): Dataset[PageRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(fixtureBytes)
    spark.range(0, nDocs, 1, nPartitions).as[Long].map { i =>
      val name = fixtureNameFor(i)
      PageRow(
        url = s"fixture://$name/$i",
        warc_ts = new java.sql.Timestamp(epochMs + i * 1000L),
        html = bc.value(name),
        text = null,
        lang = "la")
    }
  }

  /** Deterministic synthetic HTML corpus (for the HTML extraction path of
    * the pipeline — Common-Crawl payloads are mostly HTML). ~2 KB pages with
    * nav/footer boilerplate and row-dependent article content. */
  def synthesizeHtml(spark: SparkSession, nDocs: Long, nPartitions: Int = 32): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, nPartitions).as[Long].map { i =>
      val filler = s"sentence $i of the corpus body keeps the paragraph over the threshold"
      val html =
        s"""<html lang="en"><head><title>Doc $i</title><script>var x=$i<2;</script></head><body>""" +
          """<nav><a href="/">Home</a> <a href="/all">Complete listing of site pages</a></nav>""" +
          (0 until 8).map(k => s"<p>Paragraph $k of document $i: $filler, $filler, $filler.</p>").mkString +
          """<footer>Footer boilerplate long enough to form its own block entirely.</footer></body></html>"""
      PageRow(s"synthetic://html/$i", new java.sql.Timestamp(epochMs + i * 1000L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), null, "en")
    }
  }

  /** Small fixed table over an explicit fixture list (for oracle-pinned
    * correctness queries — one row per named fixture). */
  def ofFixtures(spark: SparkSession, names: Seq[String]): Dataset[PageRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(fixtureBytes)
    val n = names.toVector
    spark.range(0, n.length.toLong, 1, math.min(n.length, 4)).as[Long].map { i =>
      val name = n(i.toInt)
      PageRow(s"fixture://$name", new java.sql.Timestamp(epochMs + i * 1000L),
        bc.value(name), null, "la")
    }
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import graft.core.html.HtmlExtract

/** Sitemap ingest (sitemaps.org XML protocol): `<urlset>` page entries and
  * `<sitemapindex>` child references, plain or gzipped (`sitemap.xml.gz`)
  * — the crawl-discovery channel that complements link harvesting and the
  * source of lastmod freshness signals for recrawl scheduling.
  *
  * Parsing is a single forward tag scan (no XML library, no DOM): inside
  * `<url>`/`<sitemap>` blocks the loc/lastmod/changefreq/priority leaves
  * are captured as written (entity-decoded, trimmed, never re-typed — a
  * priority of "0.80" stays "0.80"). Malformed tails yield the parsed
  * prefix; non-XML payloads yield zero rows, never a throw.
  *
  * Scale shape: narrow flatMap over (sitemap_url, body) rows — payloads
  * parse where the scan produced them, only entry strings leave the row.
  */
object Sitemaps {

  final case class SitemapEntry(
      sitemap: String, // url of the sitemap file the entry came from
      kind: String,    // "url" (urlset entry) | "sitemap" (index child)
      loc: String,
      lastmod: String,
      changefreq: String,
      priority: String)

  /** Parse one sitemap payload (gzip-sniffed) into its entries; a body
    * over `maxBytes`, compressed or plain, gives none
    * ([[graft.core.Http.sniffedBody]]). */
  def parseSitemap(sitemapUrl: String, body: Array[Byte], maxBytes: Int = 64 << 20): Vector[SitemapEntry] = {
    if (body == null || body.isEmpty) return Vector.empty
    val xmlBytes = graft.core.Http.sniffedBody(body, maxBytes).getOrElse(return Vector.empty)
    val xml = new String(xmlBytes, UTF_8)
    val out = Vector.newBuilder[SitemapEntry]
    var i = 0
    var kind = ""                       // inside <url> or <sitemap>
    var loc, lastmod, changefreq, priority = ""
    def flush(): Unit = {
      if (kind.nonEmpty && loc.nonEmpty)
        out += SitemapEntry(sitemapUrl, kind, loc, lastmod, changefreq, priority)
      kind = ""; loc = ""; lastmod = ""; changefreq = ""; priority = ""
    }
    while (i < xml.length) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) { i = xml.length }
        else {
          val rawTag = xml.substring(lt + 1, gt).trim
          val closing = rawTag.startsWith("/")
          val name = (if (closing) rawTag.substring(1) else rawTag)
            .split("[\\s/]", 2)(0).toLowerCase(java.util.Locale.ROOT)
          i = gt + 1
          name match {
            case "url" | "sitemap" =>
              if (closing) flush()
              else { flush(); kind = if (name == "url") "url" else "sitemap" }
            case "loc" | "lastmod" | "changefreq" | "priority" if !closing && kind.nonEmpty =>
              val end = xml.indexOf('<', i)
              if (end >= 0) {
                val v = HtmlExtract.decodeEntities(xml.substring(i, end)).trim
                name match {
                  case "loc"        => loc = v
                  case "lastmod"    => lastmod = v
                  case "changefreq" => changefreq = v
                  case "priority"   => priority = v
                }
                i = end
              }
            case _ => // urlset/sitemapindex wrappers, xml decl, comments, unknowns
          }
        }
      }
    }
    flush() // tolerate a missing final close tag
    out.result()
  }

  /** (url, body:binary) sitemap files → one row per entry. Narrow. */
  def entries(sitemaps: DataFrame): DataFrame = {
    val spark = sitemaps.sparkSession
    import spark.implicits._
    sitemaps.select("url", "body").as[(String, Array[Byte])]
      .flatMap { case (u, b) => parseSitemap(u, b) }
      .toDF()
  }

  /** Deterministic fixture set: one sitemapindex naming 2 children, child
    * urlsets (the second gzipped) whose entries follow formula arithmetic
    * — url /a/p{i}, lastmod day 1+i%28, changefreq cycling
    * daily/weekly/monthly, priority "0.{i%10}" — plus an entity-encoded
    * loc and a malformed tail that must yield its parsed prefix. */
  def synthSitemaps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos); g.write(s.getBytes(UTF_8)); g.close()
      bos.toByteArray
    }
    val freqs = Vector("daily", "weekly", "monthly")
    def urlset(d: Int, from: Int, n: Int): String =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
         |${(from until from + n).map { i =>
              f"<url><loc>https://site$d.example/a/p$i</loc>" +
              f"<lastmod>2024-01-${1 + i % 28}%02d</lastmod>" +
              s"<changefreq>${freqs(i % 3)}</changefreq>" +
              s"<priority>0.${i % 10}</priority></url>"
            }.mkString("\n")}
         |</urlset>""".stripMargin
    val index =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<sitemap><loc>https://site0.example/sitemap1.xml</loc><lastmod>2024-02-01</lastmod></sitemap>
        |<sitemap><loc>https://site0.example/sitemap2.xml.gz</loc><lastmod>2024-02-02</lastmod></sitemap>
        |</sitemapindex>""".stripMargin
    val entityLoc =
      """<urlset><url><loc>https://site0.example/a?x=1&amp;y=2</loc></url></urlset>"""
    val truncated =
      """<urlset><url><loc>https://site0.example/ok</loc></url><url><loc>https://site0.exa"""
    Seq(
      ("https://site0.example/sitemap_index.xml", index.getBytes(UTF_8)),
      ("https://site0.example/sitemap1.xml", urlset(0, 0, 12).getBytes(UTF_8)),
      ("https://site0.example/sitemap2.xml.gz", gz(urlset(0, 12, 12))),
      ("https://site0.example/entity.xml", entityLoc.getBytes(UTF_8)),
      ("https://site0.example/truncated.xml", truncated.getBytes(UTF_8)),
      ("https://site0.example/notxml.bin", Array[Byte](1, 2, 3, 4))
    ).toDF("url", "body")
  }

  /** Sitemap-vs-crawl coverage audit — the discovery-debt report a crawl
    * operator reads weekly: per domain, how many sitemap urls were never
    * fetched (sitemap_only — backlog or dead entries) and how many
    * fetched urls the sitemap never declared (crawled_only — orphan pages
    * reachable only by links, often the stalest). Full outer join on the
    * url key, then one algebraic rollup per domain.
    *
    * Scale shape: both sides project to bare url strings first (the
    * sitemap table is site-sized, the crawl table corpus-sized); the
    * join shuffles url keys only; counts are conditional sums — one
    * Exchange each side + one rollup. */
  def coverage(entries: DataFrame, crawledUrls: DataFrame): DataFrame = {
    val sm = entries.where(col("kind") === "url")
      .select(col("loc").as("u")).distinct()
      .withColumn("in_sitemap", lit(1L))
    val cr = crawledUrls.select(col("url").as("u")).distinct()
      .withColumn("crawled", lit(1L))
    sm.join(cr, Seq("u"), "full_outer")
      .select(
        regexp_extract(col("u"), "^https?://([^/]+)/", 1).as("domain"),
        coalesce(col("in_sitemap"), lit(0L)).as("s"),
        coalesce(col("crawled"), lit(0L)).as("c"))
      .groupBy("domain")
      .agg(sum(col("s")).as("n_sitemap"),
           sum(col("c")).as("n_crawled"),
           sum(col("s") * col("c")).as("n_both"),
           sum(col("s") * (lit(1L) - col("c"))).as("n_sitemap_only"),
           sum((lit(1L) - col("s")) * col("c")).as("n_crawled_only"))
  }
}

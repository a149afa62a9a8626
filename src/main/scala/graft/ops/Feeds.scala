package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.html.HtmlExtract

/** RSS 2.0 / Atom feed ingest — the freshness-discovery channel next to
  * sitemaps: feeds surface NEW urls hours before a sitemap regenerates,
  * so recrawl pipelines poll them. One-pass tag scan (the sitemap-parser
  * discipline: bounded, entity-decoded, malformed tail → parsed prefix),
  * format auto-detected from the root element, gzip-sniffed. Narrow
  * flatMap over feed payloads — feeds are per-site, a tiny table. */
object Feeds {

  final case class FeedEntry(fmt: String, idx: Long, link: String,
                             title: String, published: String)

  /** Parse one feed payload. RSS: item/link/title/pubDate; Atom:
    * entry/link@href/title/updated. Unknown roots, and a body over
    * `maxBytes` (compressed or plain, see [[graft.core.Http.sniffedBody]]),
    * → empty. */
  def parseFeed(body: Array[Byte], maxBytes: Int = 64 << 20): Vector[FeedEntry] = {
    if (body == null || body.length == 0) return Vector.empty
    val raw = graft.core.Http.sniffedBody(body, maxBytes).getOrElse(return Vector.empty)
    val xml = new String(raw, java.nio.charset.StandardCharsets.UTF_8)
    val isAtom = xml.contains("<feed")
    val isRss = xml.contains("<rss") || xml.contains("<channel")
    if (!isAtom && !isRss) return Vector.empty
    val fmt = if (isAtom) "atom" else "rss"
    val itemTag = if (isAtom) "entry" else "item"
    val out = Vector.newBuilder[FeedEntry]
    var i = 0
    var idx = 0L
    var inItem = false
    var link = ""; var title = ""; var published = ""
    def flush(): Unit = {
      if (inItem && link.nonEmpty) {
        out += FeedEntry(fmt, idx, link, title, published); idx += 1
      }
      link = ""; title = ""; published = ""
    }
    while (i < xml.length) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) { i = xml.length } // malformed tail: keep parsed prefix
        else {
          val tag = xml.substring(lt + 1, gt).trim
          val name = tag.takeWhile(c => c.isLetter).toLowerCase(java.util.Locale.ROOT)
          val closing = tag.startsWith("/")
          val closeName = if (closing)
            tag.drop(1).takeWhile(_.isLetter).toLowerCase(java.util.Locale.ROOT) else ""
          if (!closing && name == itemTag) { flush(); inItem = true }
          else if (closing && closeName == itemTag) { flush(); inItem = false }
          else if (inItem && !closing) {
            def elemText(): String = {
              // close tag may differ in case from the opening (</pubDate>)
              var p = gt + 1
              var close = -1
              while (close < 0 && p < xml.length) {
                val c = xml.indexOf("</", p)
                if (c < 0) p = xml.length
                else {
                  val end = math.min(c + 2 + name.length, xml.length)
                  if (xml.substring(c + 2, end)
                        .toLowerCase(java.util.Locale.ROOT) == name) close = c
                  else p = c + 2
                }
              }
              if (close < 0) ""
              else HtmlExtract.decodeEntities(xml.substring(gt + 1, close)).trim
            }
            name match {
              case "link" if fmt == "atom" =>
                val href = "\\bhref\\s*=\\s*\"([^\"]*)\"".r.findFirstMatchIn(tag)
                href.foreach(m => link = HtmlExtract.decodeEntities(m.group(1)))
              case "link" => link = elemText()
              case "title" => title = elemText()
              case "pubdate" if fmt == "rss" => published = elemText()
              case "updated" if fmt == "atom" => published = elemText()
              case _ =>
            }
          }
          i = gt + 1
        }
      }
    }
    flush()
    out.result()
  }

  /** (feed_url, body: binary) → one row per entry. */
  def entries(feeds: DataFrame): DataFrame = {
    val spark = feeds.sparkSession
    import spark.implicits._
    feeds.select(col("feed_url"), col("body")).as[(String, Array[Byte])]
      .flatMap { case (u, b) =>
        parseFeed(b).map(e => (u, e.fmt, e.idx, e.link, e.title, e.published))
      }
      .toDF("feed_url", "fmt", "idx", "link", "title", "published")
  }

  /** Deterministic per-domain feeds (RSS for even-length domains, Atom
    * for odd), 2 + len(domain)%3 entries each, entity traps in titles,
    * gzip for every third domain by length. Mirrored in the oracle. */
  def synthFeeds(domains: DataFrame): DataFrame = {
    val spark = domains.sparkSession
    import spark.implicits._
    domains.select(col("domain")).as[String].map { d =>
      val n = 2 + d.length % 3
      val rss = d.length % 2 == 0
      val bodyStr = if (rss) {
        val items = (0 until n).map { i =>
          s"<item><title>Post $i &amp; more</title><link>https://$d/post/$i</link>" +
            s"<pubDate>2024-01-0${i + 1}</pubDate></item>"
        }.mkString
        s"""<?xml version="1.0"?><rss version="2.0"><channel><title>$d</title>$items</channel></rss>"""
      } else {
        val entries = (0 until n).map { i =>
          s"""<entry><title>Post $i &amp; more</title><link href="https://$d/post/$i"/>""" +
            s"<updated>2024-01-0${i + 1}</updated></entry>"
        }.mkString
        s"""<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom"><title>$d</title>$entries</feed>"""
      }
      val plain = bodyStr.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val body = if (d.length % 3 == 0) {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(plain); gz.close()
        bos.toByteArray
      } else plain
      (s"https://$d/feed.xml", body)
    }.toDF("feed_url", "body")
  }
}

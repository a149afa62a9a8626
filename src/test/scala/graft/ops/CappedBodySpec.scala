package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** Feed and sitemap bodies share one capped read: a body larger than
  * `maxBytes`, gzipped or plain, gives no entries from either parser, and a
  * body within it parses whole. */
class CappedBodySpec extends AnyFunSuite {

  private def gzip(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(s.getBytes(UTF_8)); g.close()
    bos.toByteArray
  }

  private val nItems = 400
  private val rss = "<rss><channel>" + (0 until nItems).map(i =>
    s"<item><link>https://f.example/$i</link><title>Item $i</title></item>").mkString +
    "</channel></rss>"
  private val sitemap = "<urlset>" + (0 until nItems).map(i =>
    s"<url><loc>https://s.example/$i</loc></url>").mkString + "</urlset>"

  private def parseBoth(body: String => Array[Byte], maxBytes: Int) = (
    Feeds.parseFeed(body(rss), maxBytes),
    Sitemaps.parseSitemap("https://s.example/sitemap.xml", body(sitemap), maxBytes))

  test("a gzip body that inflates past maxBytes gives no entries") {
    val (feed, urls) = parseBoth(gzip, 16 << 10)
    assert(gzip(rss).length < (16 << 10) && rss.length > (16 << 10))
    assert(feed.isEmpty)
    assert(urls.isEmpty)
  }

  test("a plain body over maxBytes gives no entries") {
    val (feed, urls) = parseBoth(_.getBytes(UTF_8), 16 << 10)
    assert(feed.isEmpty)
    assert(urls.isEmpty)
  }

  test("a body within maxBytes parses whole, gzipped or plain") {
    for (enc <- Seq[String => Array[Byte]](gzip, _.getBytes(UTF_8))) {
      val (feed, urls) = parseBoth(enc, 1 << 20)
      assert(feed.length == nItems)
      assert(urls.length == nItems)
    }
  }
}

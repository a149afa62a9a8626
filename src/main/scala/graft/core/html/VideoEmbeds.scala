package graft.core.html

import scala.collection.mutable

/** Video-embed mining over raw HTML — the video half of multimodal pair
  * harvesting: embedded players (iframe), native <video>/<source> elements,
  * and og:video metadata, each with its raw src. The page title/og:title
  * is the text side of the pair (joined by the op). One [[HtmlTokenizer]]
  * pass. */
object VideoEmbeds {

  final case class Embed(ord: Int, kind: String, src: String, provider: String)

  private def providerOf(src: String): String = {
    val l = src.toLowerCase(java.util.Locale.ROOT)
    val host = l.replaceFirst("^[a-z][a-z0-9+.-]*://", "")
      .takeWhile(c => c != '/' && c != '?')
    def is(d: String) = host == d || host.endsWith("." + d)
    if (is("youtube.com") || is("youtu.be") || is("youtube-nocookie.com")) "youtube"
    else if (is("vimeo.com")) "vimeo"
    else if (is("dailymotion.com")) "dailymotion"
    else "other"
  }

  def scan(html: String): Vector[Embed] = {
    val out = mutable.ArrayBuffer[Embed]()
    var videoDepth = 0

    def emit(kind: String, src: Option[String]): Unit =
      src.map(HtmlExtract.decodeEntities).filter(_.nonEmpty).foreach { s =>
        out += Embed(out.length, kind, s, providerOf(s))
      }

    val t = new HtmlTokenizer(html)
    while (t.next()) {
      if (t.kind == HtmlTokenizer.StartTag) t.name match {
        case "iframe" => emit("iframe", t.attr("src")) // its content is skipped
        case "video" =>
          videoDepth += 1
          emit("video", t.attr("src"))
        case "source" if videoDepth > 0 => emit("video", t.attr("src"))
        case "meta" =>
          val body = t.body
          val prop = HtmlExtract.attr(body, "property").map(_.toLowerCase(java.util.Locale.ROOT))
          if (prop.contains("og:video") || prop.contains("og:video:url"))
            emit("og", HtmlExtract.attr(body, "content"))
        case _ => ()
      } else if (t.isEnd("video")) videoDepth = math.max(0, videoDepth - 1)
    }
    out.toVector
  }
}

package graft.core.html

/** AMP ↔ canonical page pairing — the duplicate-surface detection a web
  * corpus needs before counting mobile AMP mirrors as independent
  * documents. The AMP spec requires a bidirectional link discipline: the
  * canonical page declares `<link rel="amphtml" href=…>`, the AMP page
  * declares `<html amp>` (or `⚡`) plus `<link rel="canonical" href=…>`.
  * Scanning both sides lets the pipeline join the pair and keep exactly
  * one representative (plus flag one-sided declarations, which are real
  * and common — a canonical that points at a dead AMP, an orphan AMP).
  */
object AmpLinks {

  final case class Info(isAmp: Boolean,
                        canonical: Option[String],
                        amphtml: Option[String])

  def scan(html: String): Info = {
    var isAmp = false
    var seenHtml = false
    var canonical: Option[String] = None
    var amphtml: Option[String] = None
    val t = new HtmlTokenizer(html)
    while (t.next()) {
      if (t.isStart("html") && !seenHtml) {
        val body = t.body
        seenHtml = true
        isAmp = HtmlExtract.attr(body, "amp").isDefined ||
          HtmlExtract.attr(body, "⚡").isDefined
      } else if (t.isStart("link")) {
        val body = t.body
        val rel = HtmlExtract.attr(body, "rel")
          .map(_.trim.toLowerCase(java.util.Locale.ROOT))
        val href = HtmlExtract.attr(body, "href").map(_.trim).filter(_.nonEmpty)
        rel match {
          case Some("canonical") if canonical.isEmpty => canonical = href
          case Some("amphtml") if amphtml.isEmpty => amphtml = href
          case _ =>
        }
      }
    }
    Info(isAmp, canonical, amphtml)
  }
}

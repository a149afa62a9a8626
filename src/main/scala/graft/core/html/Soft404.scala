package graft.core.html

/** Soft-404 detection — pages served with HTTP 200 whose CONTENT is an
  * error page ("page not found", empty search-suggestion shells). Crawl
  * archives are full of them, and a corpus that keeps soft-404s trains on
  * thousands of near-identical error templates. Without the status code
  * (Common-Crawl WARC rows carry it, the `pages` table shape may not),
  * content signals are the gate:
  *
  *   - `titleMarker`: the <title> names an error ("404", "not found",
  *     "page not found", "error").
  *   - `bodyMarker`: a pinned error phrase in the boilerplate-stripped
  *     main text.
  *   - `shortMain`: main text under 400 chars — error templates are thin.
  *
  * `soft404` = titleMarker && (bodyMarker || shortMain), or bodyMarker &&
  * shortMain — a long editorial article MENTIONING "page not found"
  * survives; a thin page titled 404 does not. Per-row, zero shuffle.
  */
object Soft404 {

  final case class Signals(titleMarker: Boolean, bodyMarker: Boolean,
                           mainChars: Int) {
    def shortMain: Boolean = mainChars < 400
    def soft404: Boolean =
      (titleMarker && (bodyMarker || shortMain)) || (bodyMarker && shortMain)
  }

  private val titleMarkers = Vector(
    "404", "not found", "error")

  private val bodyMarkers = Vector(
    "page not found",
    "page you requested could not be found",
    "page you are looking for does not exist",
    "page no longer exists",
    "page may have been moved or deleted",
    "sorry, we couldn't find that page")

  def scan(html: String): Signals = {
    val doc = HtmlExtract.parseString(html)
    val t = doc.title.toLowerCase(java.util.Locale.ROOT)
    val main = doc.mainText()
    val m = main.toLowerCase(java.util.Locale.ROOT)
    Signals(
      titleMarker = t.nonEmpty && titleMarkers.exists(t.contains),
      bodyMarker = bodyMarkers.exists(m.contains),
      mainChars = main.length)
  }
}

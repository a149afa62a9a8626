package graft.core.html

/** Paywall / login-wall detection — the access-gate triage a web-corpus
  * pipeline runs before trusting a page's extracted text as "the article".
  * Gated pages leak teaser fragments and login boilerplate into a training
  * corpus; CC-derived pipelines drop or down-weight them.
  *
  * Three independent, cheap signals (each one per-row, zero shuffle):
  *   1. `hasPasswordInput` — an `<input type="password">` anywhere in the
  *      page (login wall), found with [[HtmlTokenizer]].
  *   2. `jsonldNotFree` — schema.org's explicit paywall marker
  *      `"isAccessibleForFree": false` inside an ld+json block (the
  *      industry-standard flexible-sampling annotation). Tolerates the
  *      string forms `"false"`/`"False"` publishers actually emit.
  *   3. `teaserMarker` — a pinned marker phrase ("subscribe to continue",
  *      …) in the boilerplate-stripped main text; combined with
  *      `mainChars` (main-text length) callers separate hard walls
  *      (short teaser + marker) from mentions in long editorial text.
  */
object Paywall {

  final case class Signals(hasPasswordInput: Boolean,
                           jsonldNotFree: Boolean,
                           teaserMarker: Boolean,
                           mainChars: Int) {
    def gated: Boolean = hasPasswordInput || jsonldNotFree || teaserMarker
  }

  private val TeaserMarkers = Vector(
    "subscribe to continue",
    "sign in to read",
    "already a subscriber",
    "this article is for subscribers",
    "to continue reading, please")

  /** Any `<input type=password>` start tag. */
  private def hasPasswordInput(html: String): Boolean = {
    val t = new HtmlTokenizer(html)
    while (t.next())
      if (t.isStart("input") && t.attr("type").exists(_.trim.equalsIgnoreCase("password")))
        return true
    false
  }

  /** `"isAccessibleForFree": false` in any ld+json block (whitespace- and
    * quoting-tolerant; value forms `false`, `"false"`, `"False"`). */
  private def jsonldNotFree(html: String): Boolean =
    JsonLd.blocks(html).exists { b =>
      val c = b.filterNot(_.isWhitespace).toLowerCase(java.util.Locale.ROOT)
      c.contains("\"isaccessibleforfree\":false") ||
      c.contains("\"isaccessibleforfree\":\"false\"")
    }

  def scan(html: String): Signals = {
    val main = HtmlExtract.parseString(html).mainText()
    val mainLower = main.toLowerCase(java.util.Locale.ROOT)
    Signals(
      hasPasswordInput = hasPasswordInput(html),
      jsonldNotFree = jsonldNotFree(html),
      teaserMarker = TeaserMarkers.exists(mainLower.contains),
      mainChars = main.length)
  }
}

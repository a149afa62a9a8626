package graft.core.html

/** Hidden-text detection — the classic SEO keyword-stuffing vector: content
  * present in the DOM but invisible in a rendered page (`display:none`,
  * `visibility:hidden`, `opacity:0`, zero font size, off-screen
  * `text-indent`, the `hidden` attribute, `aria-hidden="true"`). A
  * CSS-blind boilerplate stripper leaks that text straight into a training
  * corpus, so the gate runs on the RAW html column before extraction
  * trusts the page. Per-row string walk, zero shuffle.
  *
  * One [[HtmlTokenizer]] pass, nesting-aware on the hiding element's own
  * tag name (a depth counter); text is counted from the tokenizer's text
  * runs, so raw-text bodies and comments never count. `suspicious` flags
  * pages hiding a meaningful fraction of their text (≥ 50 hidden chars AND
  * ≥ 10% of all body text) — a lone hidden template div is normal,
  * wholesale hidden paragraphs are not.
  */
object HiddenText {

  final case class Signals(nHiddenBlocks: Int, hiddenChars: Int,
                           totalChars: Int) {
    def ratioX1000: Long =
      if (totalChars == 0) 0L
      else math.floor(hiddenChars.toDouble * 1000.0 / totalChars.toDouble).toLong
    def suspicious: Boolean = hiddenChars >= 50 && ratioX1000 >= 100
  }

  private val hidingStyles = Vector(
    "display:none", "visibility:hidden", "opacity:0;", "font-size:0",
    "text-indent:-9999px", "text-indent:-999px")

  private def styleHides(style: String): Boolean = {
    // normalize: lowercase, strip spaces, ensure a trailing ';' so the
    // "opacity:0;" probe can't match opacity:0.8
    val c = style.toLowerCase(java.util.Locale.ROOT)
      .replace(" ", "").replace("\t", "") + ";"
    hidingStyles.exists(c.contains)
  }

  private def tagHides(tagBody: String): Boolean =
    HtmlExtract.attr(tagBody, "style").exists(styleHides) ||
    HtmlExtract.attr(tagBody, "aria-hidden").exists(_.trim == "true") ||
    HtmlExtract.attr(tagBody, "hidden").isDefined

  def scan(html: String): Signals = {
    var blocks = 0
    var hidden = 0
    var total = 0
    var hidingTag = "" // name of the open hiding element, "" outside one
    var depth = 0      // its nesting depth on its own name
    val t = new HtmlTokenizer(html)
    while (t.next()) t.kind match {
      case HtmlTokenizer.Text =>
        // visible-ish chars: a whitespace run after a non-space counts one,
        // a leading one none (a tag is a boundary)
        var n = 0
        var lastWasSpace = true
        var i = t.start
        while (i < t.end) {
          if (html.charAt(i).isWhitespace) { if (!lastWasSpace) { n += 1; lastWasSpace = true } }
          else { n += 1; lastWasSpace = false }
          i += 1
        }
        total += n
        if (depth > 0) hidden += n
      case HtmlTokenizer.StartTag =>
        if (depth > 0) { if (t.name == hidingTag && !t.selfClosing) depth += 1 }
        else if (!t.isRawText && tagHides(t.body)) {
          blocks += 1
          hidingTag = t.name
          depth = 1
        }
      case HtmlTokenizer.EndTag =>
        if (depth > 0 && t.name == hidingTag) depth -= 1
      case _ => ()
    }
    Signals(blocks, hidden, total)
  }
}

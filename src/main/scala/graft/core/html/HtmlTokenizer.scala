package graft.core.html

/** The one tag tokenizer every HTML scanner walks: a cursor over the
  * decoded page that moves token by token and allocates no event objects
  * (a token is the cursor's fields; a tag costs one name string).
  *
  * The contract:
  *   - `<!--…-->` and `<![CDATA[…]]>` are skipped. Any other `<!…>` or
  *     `<?…>` is a nameless tag and is skipped too, as is every tag whose
  *     body does not start with a letter or digit. A `<` with no later `>`
  *     ends the scan.
  *   - A tag's name is its leading letter-or-digit run, lowercased with
  *     `Locale.ROOT`. Its body (the text between `<` or `</` and `>`) goes
  *     to [[HtmlExtract.attr]] for attributes.
  *   - An element named in [[HtmlExtract.RawTextTags]] is one start tag
  *     that carries the offsets of its content; the content is skipped up
  *     to the first `</name`, matched ASCII-case-insensitively on the page
  *     itself, and that close tag is consumed with it. A self-closing
  *     `<script/>` has no content.
  *   - A text run is given as offsets; [[text]] decodes it with
  *     [[HtmlExtract.decodeEntities]].
  *
  * Every offset indexes the page as given: no scanner keeps a lowercased
  * copy of it, whose length may differ (`"İ".toLowerCase` is 2 chars).
  */
final class HtmlTokenizer(val html: String) {
  import HtmlTokenizer._

  private var pos = 0
  /** [[Text]], [[StartTag]], [[EndTag]], or [[Eof]] once [[next]] is false. */
  var kind: Int = Eof
  /** Text: the run `[start, end)`. Tag: the body `[start, end)`. */
  var start = 0
  var end = 0
  /** Lowercased tag name ("" for text). */
  var name = ""
  /** A start tag written `<… />`. */
  var selfClosing = false
  /** A raw-text start tag's content `[contentStart, contentEnd)`; both -1
    * for every other token. */
  var contentStart = -1
  var contentEnd = -1

  def isStart(n: String): Boolean = kind == StartTag && name == n
  def isEnd(n: String): Boolean = kind == EndTag && name == n
  def isRawText: Boolean = contentStart >= 0

  /** The tag body, for [[HtmlExtract.attr]]; read it once per tag when a
    * scanner asks for several attributes. */
  def body: String = html.substring(start, end)
  def attr(attrName: String): Option[String] = HtmlExtract.attr(body, attrName)
  /** The text run, entity-decoded. */
  def text: String = HtmlExtract.decodeEntities(html.substring(start, end))
  /** A raw-text element's content, as written. */
  def content: String = html.substring(contentStart, contentEnd)

  /** Advance to the next token; false at the end of the page. */
  def next(): Boolean = {
    val n = html.length
    while (pos < n) {
      if (html.charAt(pos) != '<') {
        val lt = html.indexOf('<', pos)
        start = pos
        end = if (lt < 0) n else lt
        pos = end
        kind = Text; name = ""; selfClosing = false
        contentStart = -1; contentEnd = -1
        return true
      }
      if (html.startsWith("<!--", pos)) pos = skipPast("-->", pos + 4)
      else if (html.startsWith("<![CDATA[", pos)) pos = skipPast("]]>", pos + 9)
      else {
        val gt = html.indexOf('>', pos + 1)
        if (gt < 0) pos = n
        else {
          val closing = html.charAt(pos + 1) == '/'
          start = if (closing) pos + 2 else pos + 1
          end = gt
          pos = gt + 1
          var k = start
          while (k < gt && Character.isLetterOrDigit(html.charAt(k))) k += 1
          if (k > start) {
            name = html.substring(start, k).toLowerCase(java.util.Locale.ROOT)
            kind = if (closing) EndTag else StartTag
            selfClosing = !closing && html.charAt(gt - 1) == '/'
            contentStart = -1; contentEnd = -1
            if (kind == StartTag && !selfClosing && HtmlExtract.RawTextTags.contains(name)) {
              val close = closeTag(name, pos)
              contentStart = pos
              contentEnd = if (close < 0) n else close
              pos = if (close < 0) n else skipPast(">", close)
            }
            return true
          }
        }
      }
    }
    kind = Eof; name = ""
    false
  }

  private def skipPast(delim: String, from: Int): Int = {
    val at = html.indexOf(delim, from)
    if (at < 0) html.length else at + delim.length
  }

  /** Offset of the first `</tag` at or after `from`, ASCII case folded; -1
    * when absent. `tag` is lowercase. */
  private def closeTag(tag: String, from: Int): Int = {
    var at = html.indexOf("</", from)
    while (at >= 0) {
      var k = 0
      while (k < tag.length && at + 2 + k < html.length && {
          val c = html.charAt(at + 2 + k)
          (if (c >= 'A' && c <= 'Z') (c + 32).toChar else c) == tag.charAt(k)
        }) k += 1
      if (k == tag.length) return at
      at = html.indexOf("</", at + 2)
    }
    -1
  }
}

object HtmlTokenizer {
  final val Eof = 0
  final val Text = 1
  final val StartTag = 2
  final val EndTag = 3
}

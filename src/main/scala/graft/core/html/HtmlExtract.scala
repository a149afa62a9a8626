package graft.core.html

import scala.collection.mutable

/** Main-content extraction for HTML pages: boilerplate strip via DOM-path
  * heuristics + text/link-density scoring (the boilerpipe/JusText family of
  * algorithms, re-expressed minimally). Pure JVM, zero dependencies — the
  * HTML half of the north rule's "HTML boilerplate strip, PDF/layout parse,
  * DOM heuristics" extraction pipeline.
  *
  * Deterministic by construction: one [[HtmlTokenizer]] pass, block
  * segmentation at block-level tags, then a density filter. No external
  * parser. Its helpers are the ones every HTML scanner shares: [[attr]] (the
  * one attribute parser), [[decodeEntities]], [[normalizeWs]] and
  * [[decodeBytes]].
  */
object HtmlExtract {

  final case class Block(
      text: String,
      linkChars: Int,
      inBoilerplateContainer: Boolean,
      tagPath: String) {
    def length: Int = text.length
    def linkDensity: Double = if (text.isEmpty) 0.0 else linkChars.toDouble / text.length
  }

  final case class HtmlDoc(
      title: String,
      lang: String,
      description: String,
      blocks: Vector[Block],
      canonical: String = "",   // <link rel="canonical" href=…> (raw href)
      ogTitle: String = "",     // <meta property="og:title" content=…>
      ogDescription: String = "") {
    /** Main content: blocks that survive the boilerplate filter, joined by
      * newlines. */
    def mainText(minBlockChars: Int = 25, maxLinkDensity: Double = 0.33): String =
      blocks.filter(b =>
        !b.inBoilerplateContainer &&
          b.length >= minBlockChars &&
          b.linkDensity <= maxLinkDensity)
        .map(_.text).mkString("\n")
    /** All text, boilerplate included (the "raw" view). */
    def allText: String = blocks.map(_.text).mkString("\n")
  }

  private val BlockTags = Set(
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "section", "article", "main", "blockquote",
    "pre", "dd", "dt", "figcaption", "hr", "body")
  private[html] val BoilerplateTags = Set("nav", "header", "footer", "aside", "form", "menu")
  private[html] val RawTextTags = Set("script", "style", "noscript", "template", "svg", "iframe")

  private val NamedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…", "laquo" -> "«",
    "raquo" -> "»", "ldquo" -> "“", "rdquo" -> "”", "lsquo" -> "‘",
    "rsquo" -> "’", "deg" -> "°", "middot" -> "·", "bull" -> "•",
    "eacute" -> "é", "egrave" -> "è", "agrave" -> "à", "uuml" -> "ü",
    "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß", "ccedil" -> "ç")

  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val ent = s.substring(i + 1, semi)
          val decoded: Option[String] =
            if (ent.startsWith("#x") || ent.startsWith("#X"))
              try Some(new String(Character.toChars(Integer.parseInt(ent.substring(2), 16))))
              catch { case _: Exception => None }
            else if (ent.startsWith("#"))
              try Some(new String(Character.toChars(ent.substring(1).toInt)))
              catch { case _: Exception => None }
            else NamedEntities.get(ent)
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse + segment an HTML byte payload (UTF-8 with Latin-1 fallback). */
  def parse(bytes: Array[Byte]): HtmlDoc = {
    val text = decodeBytes(bytes)
    parseString(text)
  }

  /** Charset-sniffed payload decode (declared meta charset → UTF-8 →
    * Latin-1 fallback) — shared by every HTML-side scanner. */
  def decodeBytes(bytes: Array[Byte]): String = {
    // declared charset first (meta charset= / http-equiv content=..charset=)
    val head = new String(bytes, 0, math.min(2048, bytes.length),
      java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
    val declared = {
      val at = head.indexOf("charset=")
      if (at < 0) None
      else {
        val start = at + 8
        val raw = head.substring(start, math.min(start + 32, head.length))
          .dropWhile(c => c == '"' || c == '\'' || c == ' ')
          .takeWhile(c => c.isLetterOrDigit || c == '-' || c == '_')
        if (raw.isEmpty || raw == "utf-8" || raw == "utf8") None
        else try Some(java.nio.charset.Charset.forName(raw)) catch { case _: Exception => None }
      }
    }
    declared match {
      case Some(cs) => new String(bytes, cs)
      case None =>
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
        catch {
          case _: Exception =>
            new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        }
    }
  }

  def parseString(html: String): HtmlDoc = {
    val blocks = Vector.newBuilder[Block]
    var title = ""
    var lang = ""
    var description = ""

    val tagStack = mutable.Stack[String]()
    var boilerDepth = 0
    var headDepth = 0
    var linkDepth = 0
    var canonical = ""
    var ogTitle = ""
    var ogDescription = ""
    val cur = new StringBuilder
    var curLink = 0
    var inTitle = false
    val titleBuf = new StringBuilder

    def flushBlock(): Unit = {
      val t = normalizeWs(cur.toString)
      if (t.nonEmpty) {
        blocks += Block(t, math.min(curLink, t.length), boilerDepth > 0,
          tagStack.reverse.mkString("/"))
      }
      cur.clear()
      curLink = 0
    }
    def content(body: String): Option[String] =
      attr(body, "content").map(v => normalizeWs(decodeEntities(v)))

    val t = new HtmlTokenizer(html)
    while (t.next()) {
      val name = t.name
      t.kind match {
        case HtmlTokenizer.Text =>
          val chunk = t.text
          if (inTitle) titleBuf.append(chunk)
          else if (headDepth == 0) {
            cur.append(chunk)
            if (linkDepth > 0) curLink += chunk.count(!_.isWhitespace)
          }
        case HtmlTokenizer.StartTag if !t.isRawText =>
          if (BlockTags.contains(name)) flushBlock()
          if (BoilerplateTags.contains(name)) { flushBlock(); boilerDepth += 1 }
          if (name == "head") headDepth += 1
          if (name == "a") linkDepth += 1
          if (name == "title") inTitle = true
          if (name == "html") lang = t.attr("lang").getOrElse(lang)
          if (name == "meta") {
            val body = t.body
            if (attr(body, "name").exists(_.equalsIgnoreCase("description")))
              description = content(body).getOrElse(description)
            attr(body, "property").map(_.toLowerCase(java.util.Locale.ROOT)) match {
              case Some("og:title") => ogTitle = content(body).getOrElse(ogTitle)
              case Some("og:description") => ogDescription = content(body).getOrElse(ogDescription)
              case _ => ()
            }
          }
          if (name == "link" && canonical.isEmpty) {
            val body = t.body
            if (attr(body, "rel").exists(_.toLowerCase(java.util.Locale.ROOT)
                .split("[\\s]+").contains("canonical")))
              canonical = attr(body, "href").map(decodeEntities).getOrElse("")
          }
          if (!t.selfClosing && !name.startsWith("br") && name != "meta" &&
            name != "img" && name != "input" && name != "link" && name != "hr")
            tagStack.push(name)
        case HtmlTokenizer.EndTag =>
          if (BlockTags.contains(name)) flushBlock()
          if (BoilerplateTags.contains(name)) { flushBlock(); boilerDepth = math.max(0, boilerDepth - 1) }
          if (name == "head") headDepth = math.max(0, headDepth - 1)
          if (name == "a") linkDepth = math.max(0, linkDepth - 1)
          if (name == "title") { inTitle = false; title = normalizeWs(titleBuf.toString) }
          // pop to the matching open tag if present
          if (tagStack.contains(name)) {
            while (tagStack.nonEmpty && tagStack.pop() != name) ()
          }
        case _ => () // raw-text elements: content skipped
      }
    }
    flushBlock()
    HtmlDoc(title, lang, description, blocks.result(), canonical, ogTitle, ogDescription)
  }

  /** Tag-body attribute lookup via a LINEAR tokenizer that respects quoted
    * values, so a name occurring INSIDE another attribute's quoted value
    * can never match (`href="/p?x=1 content=5"` must not surface a
    * `content` attribute — the indexOf-based scan this replaces did).
    * First attribute with the given lowercase name wins; bare attributes
    * (no `=`) yield Some(""), which is how `itemscope` presence tests. */
  private[graft] def attr(tagBody: String, name: String): Option[String] = {
    val n = tagBody.length
    var i = 0
    // skip the tag name
    while (i < n && !tagBody.charAt(i).isWhitespace && tagBody.charAt(i) != '/') i += 1
    while (i < n) {
      while (i < n && (tagBody.charAt(i).isWhitespace || tagBody.charAt(i) == '/')) i += 1
      if (i >= n) return None
      val nameStart = i
      while (i < n && !tagBody.charAt(i).isWhitespace &&
             tagBody.charAt(i) != '=' && tagBody.charAt(i) != '/') i += 1
      val aName = tagBody.substring(nameStart, i).toLowerCase(java.util.Locale.ROOT)
      while (i < n && tagBody.charAt(i).isWhitespace) i += 1
      var value: String = null // null = bare attribute
      if (i < n && tagBody.charAt(i) == '=') {
        i += 1
        while (i < n && tagBody.charAt(i).isWhitespace) i += 1
        if (i < n && (tagBody.charAt(i) == '"' || tagBody.charAt(i) == '\'')) {
          val q = tagBody.charAt(i)
          val end = tagBody.indexOf(q, i + 1)
          value = tagBody.substring(i + 1, if (end < 0) n else end)
          i = if (end < 0) n else end + 1
        } else {
          val vs = i
          while (i < n && !tagBody.charAt(i).isWhitespace) i += 1
          value = tagBody.substring(vs, i)
        }
      }
      if (aName == name) return Some(if (value == null) "" else value)
      if (aName.isEmpty) i += 1 // malformed run (e.g. stray '='): make progress
    }
    None
  }

  private[html] def normalizeWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var lastWs = true
    s.foreach { c =>
      if (c.isWhitespace || c == ' ') {
        if (!lastWs) sb.append(' ')
        lastWs = true
      } else { sb.append(c); lastWs = false }
    }
    while (sb.nonEmpty && sb.last == ' ') sb.setLength(sb.length - 1)
    sb.toString
  }
}

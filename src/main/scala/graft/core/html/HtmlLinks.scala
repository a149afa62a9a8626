package graft.core.html

/** Outlink harvesting for the link-graph side of a web corpus: `<a href>`
  * extraction with RFC 3986 reference resolution (`<base href>` honored,
  * dot-segments removed, scheme-relative and root-relative forms merged)
  * and the same canonicalization the url operators apply — so an edge's
  * destination is directly joinable against the corpus' canonical url key.
  *
  * Non-navigational schemes (javascript:, mailto:, tel:, data:) and
  * fragment-only refs are dropped at the source; `rel="nofollow"` and
  * nav/header/footer/aside placement are surfaced as flags, not filtered
  * here — graph builders choose their own policy. Never throws on
  * malformed input: unparseable refs yield no link.
  */
final case class HtmlLink(
    href: String,       // raw attribute value (entity-decoded)
    dst: String,        // resolved + canonicalized absolute URL
    anchor: String,     // ws-normalized anchor text
    nofollow: Boolean,
    boilerplate: Boolean) // inside nav/header/footer/aside/form/menu

object HtmlLinks {

  /** RFC 3986 §5.2.4 remove_dot_segments over a path (query excluded). */
  def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val from = if (in.startsWith("/")) 1 else 0
        val slash = in.indexOf('/', from)
        val seg = if (slash < 0) in else in.substring(0, slash)
        out += seg
        in = if (slash < 0) "" else in.substring(slash)
      }
    }
    out.mkString
  }

  /** scheme://host[:port] of an absolute URL, "" if not absolute. */
  private def origin(url: String): String = {
    val at = url.indexOf("://")
    if (at < 0) return ""
    var i = at + 3
    while (i < url.length && url.charAt(i) != '/' && url.charAt(i) != '?' && url.charAt(i) != '#') i += 1
    url.substring(0, i)
  }

  /** Path component (no query/fragment) of an absolute URL; "/" minimum. */
  private def pathOf(url: String): String = {
    val o = origin(url)
    if (o.isEmpty) return "/"
    var tail = url.substring(o.length)
    val h = tail.indexOf('#'); if (h >= 0) tail = tail.substring(0, h)
    val q = tail.indexOf('?'); if (q >= 0) tail = tail.substring(0, q)
    if (tail.isEmpty) "/" else tail
  }

  private val SchemePat = "^[A-Za-z][A-Za-z0-9+.-]*:".r

  /** Resolve `ref` against absolute `base` (RFC 3986 §5.2) and
    * canonicalize. Returns "" for refs that are not http(s) navigation
    * targets (other schemes, fragment-only, empty, or no usable base). */
  def resolve(base: String, ref0: String): String = {
    var ref = ref0.trim
    val hash = ref.indexOf('#')
    if (hash >= 0) ref = ref.substring(0, hash)
    if (ref.isEmpty) return "" // empty or fragment-only: self-reference, not an edge
    val abs: String =
      if (SchemePat.findFirstIn(ref).isDefined) {
        val lower = ref.toLowerCase(java.util.Locale.ROOT)
        if (lower.startsWith("http://") || lower.startsWith("https://")) ref
        else return "" // javascript:, mailto:, tel:, data:, ftp:, ...
      } else {
        val o = origin(base)
        if (o.isEmpty) return ""
        if (ref.startsWith("//")) base.substring(0, base.indexOf("://") + 1) + ref
        else if (ref.startsWith("/")) o + ref
        else if (ref.startsWith("?")) o + pathOf(base) + ref
        else {
          val dir = {
            val p = pathOf(base)
            p.substring(0, p.lastIndexOf('/') + 1) // "" never: pathOf yields "/" minimum
          }
          o + dir + ref
        }
      }
    // dot-segments out of the merged path, then shared canonicalization
    val o = origin(abs)
    if (o.isEmpty) return ""
    val tail = abs.substring(o.length)
    val q = tail.indexOf('?')
    val p0 = if (q < 0) tail else tail.substring(0, q)
    val query = if (q < 0) "" else tail.substring(q)
    val p = removeDotSegments(if (p0.isEmpty) "/" else p0)
    graft.ops.UrlOps.canonicalizeUrl(o + (if (p.isEmpty) "/" else p) + query)
  }

  /** One [[HtmlTokenizer]] pass: collect `<a>` links with anchor text,
    * honoring the FIRST `<base href>`. A new `<a>` implicitly closes an
    * open one (HTML parsers never nest them). */
  def extractLinks(html: String, pageUrl: String): Vector[HtmlLink] = {
    val links = Vector.newBuilder[HtmlLink]
    var base = pageUrl
    var baseSet = false
    var boilerDepth = 0
    var inA = false
    var aHref = ""
    var aRel = ""
    var aBoiler = false
    val anchorBuf = new StringBuilder

    def emit(): Unit = {
      if (inA) {
        val dst = resolve(base, aHref)
        if (dst.nonEmpty)
          links += HtmlLink(aHref, dst, HtmlExtract.normalizeWs(anchorBuf.toString),
            nofollow = aRel.toLowerCase(java.util.Locale.ROOT).split("[\\s]+").contains("nofollow"),
            boilerplate = aBoiler)
        inA = false; aHref = ""; aRel = ""; anchorBuf.clear()
      }
    }

    val t = new HtmlTokenizer(html)
    while (t.next()) t.kind match {
      case HtmlTokenizer.Text => if (inA) anchorBuf.append(t.text)
      case HtmlTokenizer.StartTag if !t.isRawText => t.name match {
        case "base" if !baseSet =>
          t.attr("href").foreach { h =>
            val b = resolve(pageUrl, HtmlExtract.decodeEntities(h))
            if (b.nonEmpty) { base = b; baseSet = true }
          }
        case "a" =>
          emit() // implicit close of a dangling <a>
          val body = t.body
          inA = true
          aHref = HtmlExtract.decodeEntities(HtmlExtract.attr(body, "href").getOrElse(""))
          aRel = HtmlExtract.attr(body, "rel").getOrElse("")
          aBoiler = boilerDepth > 0
        case bp if HtmlExtract.BoilerplateTags.contains(bp) => boilerDepth += 1
        case _ => ()
      }
      case HtmlTokenizer.EndTag =>
        if (t.name == "a") emit()
        else if (HtmlExtract.BoilerplateTags.contains(t.name)) boilerDepth = math.max(0, boilerDepth - 1)
      case _ => ()
    }
    emit()
    links.result()
  }
}

package graft.core.html

/** Embedded-frame audit — iframes are where ads, trackers, consent
  * managers and third-party widgets live; a page whose content is mostly
  * framed-in has little first-party text worth training on, and ad-slot
  * frames mark the commercial template family. Per `<iframe>`: the src
  * host, third-party flag (host differs from the page's), `sandbox`
  * presence, and an ad-network heuristic over the src. Quote-aware
  * attribute parsing via [[HtmlExtract.attr]]; per-row walk, zero
  * shuffle. */
object Iframes {

  final case class Frame(idx: Int, srcHost: String, thirdParty: Boolean,
                         sandboxed: Boolean, adSlot: Boolean)

  private val adMarkers = Vector(
    "doubleclick.", "adsystem.", "/ads/", "adserver.", "googlesyndication.")

  private[graft] def host(url: String): String = {
    val at = url.indexOf("://")
    if (at < 0) return ""
    val rest = url.substring(at + 3)
    rest.takeWhile(c => c != '/' && c != '?' && c != '#' && c != ':')
      .toLowerCase(java.util.Locale.ROOT)
  }

  def scan(html: String, pageHost: String): Vector[Frame] = {
    val out = Vector.newBuilder[Frame]
    var idx = 0
    val t = new HtmlTokenizer(html)
    while (t.next()) if (t.isStart("iframe")) {
      val body = t.body
      val srcLower = HtmlExtract.attr(body, "src").getOrElse("")
        .toLowerCase(java.util.Locale.ROOT)
      val h = host(srcLower)
      out += Frame(idx,
        srcHost = h,
        thirdParty = h.nonEmpty && h != pageHost,
        sandboxed = HtmlExtract.attr(body, "sandbox").isDefined,
        adSlot = adMarkers.exists(srcLower.contains))
      idx += 1
    }
    out.result()
  }
}

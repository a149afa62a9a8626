package graft.core.html

/** HTML microdata (itemscope/itemprop) extraction — the older sibling of
  * JSON-LD that product/recipe/review pages still carry inline. A lenient
  * single-pass scanner: itemscope tags open an item (with its itemtype),
  * itemprop attributes attach (prop, value) pairs to the INNERMOST open
  * item. Values follow the spec's source order: `content` attr (meta),
  * `href` (a/link/area), `src` (img/audio/video/iframe), else the
  * entity-decoded text run that directly follows the tag. One
  * [[HtmlTokenizer]] pass. A tag carrying BOTH
  * itemprop and itemscope is a nested item: the prop attaches to the
  * OUTER item with the nested item's type as its value. Unclosed or
  * misnested tags are tolerated (pop-until-match), like every real
  * crawler must. Every item also emits one "@type" row, so items with no
  * props still appear in the inventory. */
object Microdata {

  final case class Prop(itemIdx: Int, itemType: String, prop: String, value: String)

  private val Void = Set("meta", "img", "link", "br", "hr", "input", "area",
    "base", "col", "embed", "source", "track", "wbr")

  def props(html: String): Vector[Prop] = {
    val raw = Vector.newBuilder[(Int, String, String)] // (ownerIdx, prop, value)
    val itemTypes = scala.collection.mutable.ArrayBuffer[String]()
    var stack = List.empty[(String, Int)] // (tagName, itemIdx or -1)
    @inline def innerItem: Int =
      stack.collectFirst { case (_, idx) if idx >= 0 => idx }.getOrElse(-1)
    // a prop whose value is the text run right after its tag: (owner, prop)
    var pending: (Int, String) = null
    val t = new HtmlTokenizer(html)
    while (t.next()) {
      if (pending != null) {
        val value = if (t.kind == HtmlTokenizer.Text) t.text.trim else ""
        raw += ((pending._1, pending._2, value))
        pending = null
      }
      if (t.kind == HtmlTokenizer.EndTag) {
        val at = stack.indexWhere(_._1 == t.name)
        if (at >= 0) stack = stack.drop(at + 1)
      } else if (t.kind == HtmlTokenizer.StartTag) {
        val body = t.body
        val scoped = HtmlExtract.attr(body, "itemscope").isDefined
        val owner = innerItem // the enclosing item BEFORE this tag opens
        val itemIdx =
          if (scoped) {
            itemTypes += HtmlExtract.attr(body, "itemtype").getOrElse("")
            itemTypes.length - 1
          } else -1
        HtmlExtract.attr(body, "itemprop").foreach { prop =>
          if (scoped) {
            // nested item as a property of the outer item
            if (owner >= 0) raw += ((owner, prop, itemTypes(itemIdx)))
          } else if (owner >= 0) {
            HtmlExtract.attr(body, "content")
              .orElse(HtmlExtract.attr(body, "href"))
              .orElse(HtmlExtract.attr(body, "src")) match {
              case Some(value) => raw += ((owner, prop, value))
              case None => pending = (owner, prop)
            }
          }
        }
        // a raw-text element is closed already; its end tag is consumed
        if (!t.selfClosing && !t.isRawText && !Void(t.name)) stack = (t.name, itemIdx) :: stack
      }
    }
    if (pending != null) raw += ((pending._1, pending._2, ""))
    val inventory = itemTypes.zipWithIndex.map { case (t, idx) =>
      Prop(idx, t, "@type", t)
    }.toVector
    inventory ++ raw.result().map { case (idx, p, v) =>
      Prop(idx, itemTypes(idx), p, v)
    }
  }

}

package graft.core.html

import scala.collection.mutable

/** Image–text pair mining over raw HTML: every `<img>` with its `src`,
  * `alt` text, and — when the image sits inside a `<figure>` — the
  * figure's `<figcaption>` text. This is the harvesting step of the
  * LAION-style image/caption corpus build (alt-text and figcaptions are
  * the dominant public caption sources); the Spark op resolves `src`
  * against the page URL so pairs join the crawl's image fetch table.
  *
  * One [[HtmlTokenizer]] pass with HtmlExtract's boilerplate containers.
  * Deterministic: output is document order.
  */
object ImageCaptions {

  final case class ImageRef(
      ord: Int,            // document-order index among <img> tags
      src: String,         // raw src attribute (entity-decoded, untrimmed resolution left to the op)
      alt: String,         // alt text, ws-normalized ("" when absent)
      caption: String,     // nearest enclosing <figure>'s figcaption text ("" outside figures)
      inFigure: Boolean,
      inBoilerplate: Boolean, // nav/header/footer/aside/form/menu container
      width: Int = -1,     // width attribute (integer px), -1 absent/non-numeric
      height: Int = -1,    // height attribute
      hidden: Boolean = false) // inline style display:none / visibility:hidden

  private final class Fig {
    val imgs = mutable.ArrayBuffer[Int]() // indices into the out buffer
    val caption = new StringBuilder
  }

  def scan(html: String): Vector[ImageRef] = {
    val out = mutable.ArrayBuffer[ImageRef]()
    val figStack = mutable.Stack[Fig]()
    var boilerDepth = 0
    var capDepth = 0 // inside <figcaption>
    var ord = 0

    def closeFigure(): Unit = {
      val fig = figStack.pop()
      val cap = HtmlExtract.normalizeWs(fig.caption.toString)
      fig.imgs.foreach(idx => out(idx) = out(idx).copy(caption = cap))
    }

    val t = new HtmlTokenizer(html)
    while (t.next()) {
      val name = t.name
      t.kind match {
        case HtmlTokenizer.Text =>
          if (capDepth > 0 && figStack.nonEmpty) figStack.top.caption.append(t.text)
        case HtmlTokenizer.StartTag if !t.isRawText =>
          if (HtmlExtract.BoilerplateTags.contains(name)) boilerDepth += 1
          if (name == "figure") figStack.push(new Fig)
          if (name == "figcaption" && figStack.nonEmpty) capDepth += 1
          if (name == "img") {
            val body = t.body
            val src = HtmlExtract.attr(body, "src")
              .map(HtmlExtract.decodeEntities).getOrElse("")
            if (src.nonEmpty) {
              val alt = HtmlExtract.attr(body, "alt")
                .map(v => HtmlExtract.normalizeWs(HtmlExtract.decodeEntities(v)))
                .getOrElse("")
              def dim(attrName: String): Int =
                HtmlExtract.attr(body, attrName).flatMap(v =>
                  v.trim.takeWhile(_.isDigit) match {
                    case "" => None
                    case d if d.length <= 6 => Some(d.toInt)
                    case _ => None
                  }).getOrElse(-1)
              val style = HtmlExtract.attr(body, "style")
                .map(_.toLowerCase(java.util.Locale.ROOT).replace(" ", "")).getOrElse("")
              val hidden = style.contains("display:none") ||
                style.contains("visibility:hidden")
              out += ImageRef(ord, src, alt, "", figStack.nonEmpty,
                boilerDepth > 0, dim("width"), dim("height"), hidden)
              if (figStack.nonEmpty) figStack.top.imgs += out.length - 1
              ord += 1
            }
          }
        case HtmlTokenizer.EndTag =>
          if (HtmlExtract.BoilerplateTags.contains(name))
            boilerDepth = math.max(0, boilerDepth - 1)
          if (name == "figcaption") capDepth = math.max(0, capDepth - 1)
          if (name == "figure" && figStack.nonEmpty) closeFigure()
        case _ => ()
      }
    }
    // unclosed figures at EOF still hand their caption to their images
    while (figStack.nonEmpty) closeFigure()
    out.toVector
  }
}

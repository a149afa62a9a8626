package graft.core.html

import graft.core.MiniJson

/** JSON-LD (schema.org structured data) extraction — the machine-readable
  * metadata layer of Common-Crawl pages (CC's own WAT sidecars carry the
  * same blocks). Scans `<script type="application/ld+json">` blocks,
  * parses them with the bounded [[MiniJson]] parser, and flattens the
  * usual shapes (single object, top-level array, `@graph` envelope) into
  * (type, name) items. Malformed JSON yields an explicit not-ok item —
  * web JSON-LD is frequently broken and must never throw. */
object JsonLd {

  final case class Item(blockIdx: Int, itemIdx: Int, ok: Boolean,
                        jtype: String, name: String)

  /** Raw payloads of ld+json script blocks, in document order: the
    * content of every `<script>` whose `type` is application/ld+json. */
  def blocks(html: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val t = new HtmlTokenizer(html)
    while (t.next())
      if (t.isStart("script") && t.isRawText &&
          t.attr("type").exists(_.trim.equalsIgnoreCase("application/ld+json")))
        out += t.content
    out.result()
  }

  /** Parse + flatten every block of a page into items. */
  def items(html: String): Vector[Item] =
    blocks(html).zipWithIndex.flatMap { case (payload, bi) =>
      MiniJson.parse(payload) match {
        case None => Vector(Item(bi, 0, ok = false, "", ""))
        case Some(v) =>
          val nodes = v match {
            case m: Map[_, _] =>
              val mm = m.asInstanceOf[Map[String, Any]]
              mm.get("@graph") match {
                case Some(g: Vector[_]) => g.toVector
                case _                  => Vector(mm)
              }
            case a: Vector[_] => a.toVector
            case other        => Vector(other)
          }
          nodes.zipWithIndex.map { case (n, ii) =>
            n match {
              case m: Map[_, _] =>
                val mm = m.asInstanceOf[Map[String, Any]]
                Item(bi, ii, ok = true, strOf(mm.get("@type")),
                  strOf(mm.get("name").orElse(mm.get("headline"))))
              case _ => Item(bi, ii, ok = true, "", "")
            }
          }
      }
    }

  final case class ArticleItem(blockIdx: Int, itemIdx: Int, jtype: String,
                               headline: String, author: String,
                               datePublished: String)

  private val ArticleTypes =
    Set("Article", "NewsArticle", "BlogPosting", "ScholarlyArticle", "Report")

  /** Article-shaped nodes with the fields a news/article corpus keys on:
    * headline, author (string | Person object | array — first name wins),
    * datePublished (raw; the op parses it to an epoch). Walks the same
    * single/array/@graph shapes as [[items]]. */
  def articles(html: String): Vector[ArticleItem] =
    blocks(html).zipWithIndex.flatMap { case (payload, bi) =>
      MiniJson.parse(payload) match {
        case None => Vector.empty
        case Some(v) =>
          val nodes = v match {
            case m: Map[_, _] =>
              val mm = m.asInstanceOf[Map[String, Any]]
              mm.get("@graph") match {
                case Some(g: Vector[_]) => g.toVector
                case _                  => Vector(mm)
              }
            case a: Vector[_] => a.toVector
            case other        => Vector(other)
          }
          nodes.zipWithIndex.collect {
            case (m: Map[_, _], ii)
              if ArticleTypes.contains(strOf(m.asInstanceOf[Map[String, Any]].get("@type"))) =>
              val mm = m.asInstanceOf[Map[String, Any]]
              val author = mm.get("author") match {
                case Some(s: String) => s
                case Some(am: Map[_, _]) =>
                  strOf(am.asInstanceOf[Map[String, Any]].get("name"))
                case Some(arr: Vector[_]) =>
                  arr.collectFirst {
                    case s: String => s
                    case am: Map[_, _] => strOf(am.asInstanceOf[Map[String, Any]].get("name"))
                  }.getOrElse("")
                case _ => ""
              }
              ArticleItem(bi, ii, strOf(mm.get("@type")),
                strOf(mm.get("headline").orElse(mm.get("name"))),
                author, strOf(mm.get("datePublished")))
          }
      }
    }

  final case class Crumb(position: Long, name: String, itemUrl: String)

  /** BreadcrumbList trails — the site-taxonomy signal (Home › Section ›
    * Page) publishers expose for search engines; a corpus pipeline mines
    * it for topic labels and site-structure features. Each ListItem
    * yields (position, name, item-url); `item` may be a plain url string
    * or an object carrying `@id`/`name` (both real-world shapes).
    * Missing/non-numeric positions fall back to the array index + 1. */
  def breadcrumbs(html: String): Vector[Crumb] =
    blocks(html).flatMap { payload =>
      MiniJson.parse(payload) match {
        case None => Vector.empty
        case Some(v) =>
          val nodes = v match {
            case m: Map[_, _] =>
              val mm = m.asInstanceOf[Map[String, Any]]
              mm.get("@graph") match {
                case Some(g: Vector[_]) => g.toVector
                case _                  => Vector(mm)
              }
            case a: Vector[_] => a.toVector
            case other        => Vector(other)
          }
          nodes.collect {
            case m: Map[_, _]
              if strOf(m.asInstanceOf[Map[String, Any]].get("@type")) == "BreadcrumbList" =>
              m.asInstanceOf[Map[String, Any]].get("itemListElement") match {
                case Some(arr: Vector[_]) =>
                  arr.zipWithIndex.collect { case (li: Map[_, _], idx) =>
                    val lm = li.asInstanceOf[Map[String, Any]]
                    val pos = lm.get("position") match {
                      case Some(d: Double) => d.toLong
                      case _               => idx + 1L
                    }
                    val (name, itemUrl) = lm.get("item") match {
                      case Some(s: String) => (strOf(lm.get("name")), s)
                      case Some(im: Map[_, _]) =>
                        val imm = im.asInstanceOf[Map[String, Any]]
                        (strOf(lm.get("name").orElse(imm.get("name"))),
                          strOf(imm.get("@id").orElse(imm.get("id"))))
                      case _ => (strOf(lm.get("name")), "")
                    }
                    Crumb(pos, name, itemUrl)
                  }
                case _ => Vector.empty
              }
          }.flatten
      }
    }

  /** @type may be a string or an array of strings — take the first. */
  private def strOf(v: Option[Any]): String = v match {
    case Some(s: String)    => s
    case Some(a: Vector[_]) => a.collectFirst { case s: String => s }.getOrElse("")
    case _                  => ""
  }
}

package graft.ops

import org.apache.spark.sql.Dataset
import graft.core.html.{HtmlExtract, HtmlTokenizer}
import graft.spark.PageRow

/** Per-page HTML document metadata (title, lang, meta description,
  * rel=canonical, OpenGraph title/description) as a narrow typed map —
  * the head-section complement of main-content extraction. Canonical URLs
  * are resolved against the page URL so they join the corpus' canonical
  * key directly. */
object HtmlMeta {

  final case class MetaRow(
      url: String,
      title: String,
      lang: String,
      description: String,
      canonical: String,
      og_title: String,
      og_description: String)

  def metadata(pages: Dataset[PageRow]): Dataset[MetaRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map { p =>
      if (p.html == null) MetaRow(p.url, "", "", "", "", "", "")
      else {
        val doc = HtmlExtract.parse(p.html)
        val canon =
          if (doc.canonical.isEmpty) ""
          else graft.core.html.HtmlLinks.resolve(p.url, doc.canonical)
        MetaRow(p.url, doc.title, doc.lang, doc.description, canon,
          doc.ogTitle, doc.ogDescription)
      }
    }
  }

  final case class OutlineRow(
      url: String,
      ord: Long,
      level: Long,
      in_boilerplate: Boolean,
      text: String)

  /** h1–h6 heading outline in document order — the HTML sibling of the
    * PDF font-size heading inference: the chunking/section signal a
    * training-data pipeline keys section-aware splits on. A heading is a
    * text block whose tag path bottoms out in hN; nav/header/footer
    * containment is reported (not dropped) so downstream can filter on
    * the same boilerplate rule the main-content extractor uses. One
    * narrow typed flatMap, nothing throws. */
  def outline(pages: Dataset[PageRow]): Dataset[OutlineRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val H = "(?:^|/)h([1-6])$".r
    pages.flatMap { p =>
      if (p.html == null) Seq.empty[OutlineRow]
      else {
        val doc = HtmlExtract.parse(p.html)
        doc.blocks.iterator.collect(Function.unlift { b =>
          H.findFirstMatchIn(b.tagPath).map(m => (m.group(1).toLong, b))
        }).zipWithIndex.map { case ((lvl, b), i) =>
          OutlineRow(p.url, i.toLong, lvl, b.inBoilerplateContainer, b.text)
        }.toVector
      }
    }
  }

  final case class RobotsMetaRow(
      url: String,
      has_robots_meta: Boolean,
      noindex: Boolean,
      nofollow: Boolean,
      noarchive: Boolean,
      indexable: Boolean)

  /** Page-level robots directives (`<meta name="robots" content="…">`) —
    * the per-PAGE complement of the robots.txt gate: a compliant corpus
    * drops noindex pages and withholds nofollow pages' links from the
    * link graph. One [[HtmlTokenizer]] pass over the decoded page,
    * directives matched as comma/space-separated tokens, multiple robots
    * metas OR together (the restrictive union, what search engines do). */
  def robotsMeta(pages: Dataset[PageRow]): Dataset[RobotsMetaRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map { p =>
      if (p.html == null) RobotsMetaRow(p.url, false, false, false, false, true)
      else robotsMetaOf(p.url, HtmlExtract.decodeBytes(p.html))
    }
  }

  private[ops] def robotsMetaOf(url: String, html: String): RobotsMetaRow = {
    var found = false; var noi = false; var nof = false; var noa = false
    val t = new HtmlTokenizer(html)
    while (t.next()) if (t.isStart("meta")) {
      val body = t.body
      if (HtmlExtract.attr(body, "name").exists(_.trim.equalsIgnoreCase("robots"))) {
        found = true
        val toks = HtmlExtract.attr(body, "content").getOrElse("")
          .toLowerCase(java.util.Locale.ROOT)
          .split("[,\\s]+").map(_.trim).filter(_.nonEmpty).toSet
        if (toks.contains("noindex") || toks.contains("none")) noi = true
        if (toks.contains("nofollow") || toks.contains("none")) nof = true
        if (toks.contains("noarchive")) noa = true
      }
    }
    RobotsMetaRow(url, found, noi, nof, noa, !noi)
  }

  /** HTML → Markdown render over the extractor's block stream (the HTML
    * sibling of the PDF layout exporter): hN blocks become `#` headings,
    * li blocks become `-` list items, other non-boilerplate blocks become
    * paragraphs; boilerplate containers drop (the extractor's own rule). */
  def markdownOf(doc: HtmlExtract.HtmlDoc): String = {
    val H = "(?:^|/)h([1-6])$".r
    val LI = "(?:^|/)li$".r
    doc.blocks.iterator.filter(b => !b.inBoilerplateContainer && b.text.nonEmpty)
      .map { b =>
        H.findFirstMatchIn(b.tagPath) match {
          case Some(m) => "#" * m.group(1).toInt + " " + b.text
          case None if LI.findFirstMatchIn(b.tagPath).isDefined => "- " + b.text
          case None => b.text
        }
      }.mkString("\n\n")
  }

  /** Per-page markdown export: (url, n_chars, md5, first line). */
  def htmlMarkdown(pages: Dataset[PageRow]): Dataset[(String, Long, String, String)] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map { p =>
      if (p.html == null) (p.url, 0L, "", "")
      else {
        val md = markdownOf(HtmlExtract.parse(p.html))
        val hash = java.security.MessageDigest.getInstance("MD5")
          .digest(md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString
        (p.url, md.length.toLong, hash,
          md.linesIterator.toSeq.headOption.getOrElse(""))
      }
    }
  }

  final case class JsonLdRow(
      url: String,
      block_idx: Int,
      item_idx: Int,
      ok: Boolean,
      jtype: String,
      name: String)

  final case class MicrodataRow(
      url: String,
      item_idx: Int,
      item_type: String,
      prop: String,
      value: String)

  /** Microdata (itemscope/itemprop) properties per page — one narrow typed
    * pass over the payloads, lenient scanner, nothing throws. */
  def microdata(pages: Dataset[PageRow]): Dataset[MicrodataRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Seq.empty[MicrodataRow]
      else graft.core.html.Microdata
        .props(HtmlExtract.decodeBytes(p.html))
        .map(m => MicrodataRow(p.url, m.itemIdx, m.itemType, m.prop, m.value))
    }
  }

  final case class ImageCaptionRow(
      url: String,
      ord: Long,
      img_url: String,
      alt: String,
      caption: String,
      in_figure: Boolean,
      boilerplate: Boolean,
      has_text: Boolean) // alt or caption non-empty: a usable image–text pair

  /** LAION-style image–text pair mining: every <img> with alt text and —
    * inside <figure> — the figcaption, src resolved against the page URL.
    * One narrow typed flatMap over the payloads (charset-sniffed decode
    * shared with the extractor); data: URIs are dropped (inline bytes are
    * not fetchable pairs), duplicates per (page, src) kept — document
    * position is signal. Zero shuffle; at 100 TB this is one pass. */
  def imageCaptions(pages: Dataset[PageRow]): Dataset[ImageCaptionRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Seq.empty[ImageCaptionRow]
      else {
        graft.core.html.ImageCaptions.scan(graft.core.html.HtmlExtract.decodeBytes(p.html))
          .filter(r => !r.src.toLowerCase(java.util.Locale.ROOT).startsWith("data:"))
          .map { r =>
            val resolved = graft.core.html.HtmlLinks.resolve(p.url, r.src)
            ImageCaptionRow(p.url, r.ord.toLong,
              if (resolved.isEmpty) r.src else resolved,
              r.alt, r.caption, r.inFigure, r.inBoilerplate,
              r.alt.nonEmpty || r.caption.nonEmpty)
          }
      }
    }
  }

  final case class MetaRefreshRow(
      url: String,
      has_refresh: Boolean,
      delay: Long,          // seconds, -1 when no refresh / unparseable
      target: String,       // resolved redirect target ("" = reload-in-place)
      immediate: Boolean)   // delay 0 with a target: a crawl-visible redirect

  /** `<meta http-equiv="refresh">` extraction — the redirect source the
    * HTTP-level resolver can't see (CC corpora are full of delay-0
    * meta-refresh hops). content grammar: `delay[;url=TARGET]`, URL=
    * case-insensitive, optional quotes around the target; first refresh
    * meta wins. One narrow pass, zero shuffle. */
  def metaRefresh(pages: Dataset[PageRow]): Dataset[MetaRefreshRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map { p =>
      if (p.html == null) MetaRefreshRow(p.url, false, -1L, "", false)
      else metaRefreshOf(p.url, HtmlExtract.decodeBytes(p.html))
    }
  }

  private[ops] def metaRefreshOf(url: String, html: String): MetaRefreshRow = {
    val t = new HtmlTokenizer(html)
    while (t.next()) if (t.isStart("meta")) {
      val body = t.body
      if (HtmlExtract.attr(body, "http-equiv").exists(_.equalsIgnoreCase("refresh"))) {
        val content = HtmlExtract.attr(body, "content").getOrElse("")
        val parts = content.split(";", 2)
        val delay = parts(0).trim.takeWhile(_.isDigit) match {
          case "" => -1L
          case d if d.length <= 9 => d.toLong
          case _ => -1L
        }
        val target =
          if (parts.length < 2) ""
          else {
            val rest = parts(1).trim
            val eq = rest.indexOf('=')
            if (eq < 0 || !rest.substring(0, eq).trim.equalsIgnoreCase("url")) ""
            else rest.substring(eq + 1).trim
              .stripPrefix("'").stripSuffix("'")
              .stripPrefix("\"").stripSuffix("\"").trim
          }
        if (delay >= 0) {
          val resolved =
            if (target.isEmpty) ""
            else graft.core.html.HtmlLinks.resolve(url, HtmlExtract.decodeEntities(target))
          return MetaRefreshRow(url, true, delay, resolved, delay == 0L && resolved.nonEmpty)
        }
      }
    }
    MetaRefreshRow(url, false, -1L, "", false)
  }

  final case class TrackingPixelRow(
      url: String,
      ord: Long,
      img_url: String,
      w: Long, h: Long,     // -1 when the attribute is absent/non-numeric
      pixel: Boolean,       // declared ≤1×1
      hidden: Boolean,      // inline display:none / visibility:hidden
      tracker_host: Boolean,
      tracking: Boolean)

  private val TrackerHosts = Seq(
    "doubleclick.net", "google-analytics.com", "googletagmanager.com",
    "facebook.com", "scorecardresearch.com", "quantserve.com")

  /** Tracking-pixel audit: 1×1/hidden images and known beacon hosts — the
    * privacy/boilerplate complement of image–text mining (a tracking pixel
    * must never become a VLM training pair, and pixel density is a page
    * quality signal). Same single-pass scanner, zero shuffle. */
  def trackingPixels(pages: Dataset[PageRow]): Dataset[TrackingPixelRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Seq.empty[TrackingPixelRow]
      else graft.core.html.ImageCaptions.scan(
          graft.core.html.HtmlExtract.decodeBytes(p.html)).map { r =>
        val resolved = graft.core.html.HtmlLinks.resolve(p.url, r.src)
        val full = if (resolved.isEmpty) r.src else resolved
        val host = full.toLowerCase(java.util.Locale.ROOT)
          .replaceFirst("^[a-z][a-z0-9+.-]*://", "").takeWhile(c => c != '/' && c != '?')
        val tracker = TrackerHosts.exists(t => host == t || host.endsWith("." + t))
        val pixel = r.width >= 0 && r.width <= 1 && r.height >= 0 && r.height <= 1
        TrackingPixelRow(p.url, r.ord.toLong, full, r.width.toLong, r.height.toLong,
          pixel, r.hidden, tracker, pixel || r.hidden || tracker)
      }
    }
  }

  final case class VideoEmbedRow(
      url: String,
      ord: Long,
      kind: String,       // iframe | video | og
      video_url: String,  // resolved
      provider: String,   // youtube | vimeo | dailymotion | other
      title: String)      // og:title falling back to <title> — the text side

  /** Video–text pair mining: embedded players, native <video>/<source>,
    * og:video — with the page's best title as the caption candidate. One
    * narrow pass; the video half of multimodal harvesting. */
  def videoEmbeds(pages: Dataset[PageRow]): Dataset[VideoEmbedRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Seq.empty[VideoEmbedRow]
      else {
        val html = graft.core.html.HtmlExtract.decodeBytes(p.html)
        val doc = HtmlExtract.parseString(html)
        val title = if (doc.ogTitle.nonEmpty) doc.ogTitle else doc.title
        graft.core.html.VideoEmbeds.scan(html).map { e =>
          val resolved = graft.core.html.HtmlLinks.resolve(p.url, e.src)
          VideoEmbedRow(p.url, e.ord.toLong, e.kind,
            if (resolved.isEmpty) e.src else resolved, e.provider, title)
        }
      }
    }
  }

  final case class CaptionQualityRow(
      url: String,
      ord: Long,
      pair_text: String,    // caption if present, else alt — the candidate caption
      reason: String,       // boilerplate | no_text | placeholder_alt | too_short | ok
      usable: Boolean)

  private val PlaceholderAlts = Set(
    "image", "img", "photo", "picture", "logo", "icon", "banner", "spacer", "alt")

  /** Caption-quality gate over [[imageCaptions]] — the filter between raw
    * alt-text mining and a VLM training pair (LAION-style: placeholder
    * alts, too-short text and boilerplate-contained images are dropped,
    * with reason codes for the funnel audit). First matching reason wins. */
  def captionQuality(pages: Dataset[PageRow]): Dataset[CaptionQualityRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    imageCaptions(pages).map { r =>
      val pairText = if (r.caption.nonEmpty) r.caption else r.alt
      val altNorm = r.alt.toLowerCase(java.util.Locale.ROOT).trim
      val reason =
        if (r.boilerplate) "boilerplate"
        else if (pairText.isEmpty) "no_text"
        else if (pairText == r.alt &&
          (PlaceholderAlts.contains(altNorm) || altNorm.forall(c => c.isDigit || c == ' ')))
          "placeholder_alt"
        else if (pairText.length < 10) "too_short"
        else "ok"
      CaptionQualityRow(r.url, r.ord, pairText, reason, reason == "ok")
    }
  }

  /** JSON-LD structured-data items per page (schema.org blocks — what CC's
    * WAT sidecars carry). One narrow typed pass, per-row bounded parser,
    * malformed blocks surface as ok=false rows instead of throwing. */
  def jsonLd(pages: Dataset[PageRow]): Dataset[JsonLdRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Seq.empty[JsonLdRow]
      else graft.core.html.JsonLd
        .items(HtmlExtract.decodeBytes(p.html))
        .map(it => JsonLdRow(p.url, it.blockIdx, it.itemIdx, it.ok, it.jtype, it.name))
    }
  }
}

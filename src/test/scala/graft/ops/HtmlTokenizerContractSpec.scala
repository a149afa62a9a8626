package graft.ops

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.core.html._

/** The tokenizer contract, held by every HTML scanner: markup inside a
  * comment, a CDATA section or a raw-text element is never a tag; offsets
  * index the page itself, so a page whose lowercase form is longer
  * (`"İ".toLowerCase` is 2 chars) scans the same; tag names fold with
  * `Locale.ROOT`, whatever the default locale; an attribute name inside
  * another attribute's quoted value is not an attribute. */
class HtmlTokenizerContractSpec extends AnyFunSuite {

  private val url = "https://site.example/dir/page.html"

  /** One scanner: a page with `@@` where the wrapped decoy goes, a decoy
    * that the scanner would report if it read it as markup, and the
    * scanner's whole output. */
  private final case class Scanner(name: String, page: String, decoy: String, run: String => Any)

  private val scanners = Vector(
    Scanner("HtmlExtract.parseString",
      "<html><head><title>Real</title></head><body>@@<p>A real paragraph that is long enough to keep.</p></body></html>",
      "<p>A decoy paragraph that must never be extracted as text.</p>",
      HtmlExtract.parseString),
    Scanner("HtmlLinks.extractLinks",
      """<html><body>@@<p><a href="/real">real link</a></p></body></html>""",
      """<a href="/decoy">decoy link</a>""",
      HtmlLinks.extractLinks(_, url)),
    Scanner("HtmlTables.extractTables",
      "<html><body>@@<table><tr><td>real</td></tr></table></body></html>",
      "<table><tr><td>decoy</td></tr></table>",
      HtmlTables.extractTables),
    Scanner("ImageCaptions.scan",
      """<html><body>@@<img src="/real.png" alt="real"></body></html>""",
      """<img src="/decoy.png" alt="decoy">""",
      ImageCaptions.scan),
    Scanner("VideoEmbeds.scan",
      """<html><body>@@<video src="/real.mp4"></video></body></html>""",
      """<video src="/decoy.mp4"></video>""",
      VideoEmbeds.scan),
    Scanner("HtmlFeatures.features",
      "<html><body>@@<p>real</p></body></html>",
      """<iframe src="/decoy"></iframe><form></form><p>decoy</p><a href="/d">d</a>""",
      HtmlFeatures.features),
    Scanner("HtmlFeatures.tagSequence",
      "<html><body>@@<p>real</p></body></html>",
      "<p>decoy</p>",
      HtmlFeatures.tagSequence),
    Scanner("Hreflang.extractAlternates",
      """<html><head>@@<link rel="alternate" hreflang="en" href="https://site.example/en"></head><body></body></html>""",
      """<link rel="alternate" hreflang="xx" href="https://decoy.example/">""",
      Hreflang.extractAlternates(_, url)),
    Scanner("LinkGraph.relNextOf",
      """<html><head>@@<link rel="next" href="/page2"></head><body></body></html>""",
      """<link rel="next" href="/decoy">""",
      LinkGraph.relNextOf),
    Scanner("Microdata.props",
      """<html><body><div itemscope itemtype="https://schema.org/Thing">@@<span itemprop="name">Real</span></div></body></html>""",
      """<span itemprop="decoy">Decoy</span>""",
      Microdata.props),
    Scanner("HiddenText.scan",
      "<html><body>@@<p>Visible text of the page.</p></body></html>",
      """<div style="display:none">decoy hidden keyword text</div>""",
      HiddenText.scan),
    Scanner("HtmlMeta.robotsMeta",
      """<html><head>@@<meta name="robots" content="index"></head><body></body></html>""",
      """<meta name="robots" content="noindex, nofollow">""",
      HtmlMeta.robotsMetaOf(url, _)),
    Scanner("HtmlMeta.metaRefresh",
      """<html><head>@@<meta http-equiv="refresh" content="5; url=/real"></head><body></body></html>""",
      """<meta http-equiv="refresh" content="0; url=/decoy">""",
      HtmlMeta.metaRefreshOf(url, _)),
    Scanner("Forms.scan",
      """<html><body>@@<form action="/search"><input type="search" name="q"></form></body></html>""",
      """<form action="/login"><input type="password"></form>""",
      Forms.scan),
    Scanner("Iframes.scan",
      """<html><body>@@<iframe src="https://player.example/real"></iframe></body></html>""",
      """<iframe src="https://ads.doubleclick.net/decoy"></iframe>""",
      Iframes.scan(_, "site.example")),
    Scanner("AmpLinks.scan",
      """@@<html><head><link rel="canonical" href="https://site.example/real"></head></html>""",
      """<html amp><link rel="canonical" href="https://site.example/decoy">""",
      AmpLinks.scan),
    Scanner("Paywall.scan",
      "<html><body>@@<p>An article body that is long enough to be the main text.</p></body></html>",
      """<input type="password">""",
      Paywall.scan),
    Scanner("Soft404.scan",
      "<html><head>@@<title>Gardening tips</title></head><body><p>Tomatoes like sun.</p></body></html>",
      "<title>404 Not Found</title>",
      Soft404.scan),
    Scanner("JsonLd.blocks",
      """<html><head>@@<script type="application/ld+json">{"@type":"Thing","name":"real"}</script></head></html>""",
      """<script type="application/ld+json">{"@type":"Decoy"}<\/script>""",
      JsonLd.blocks))

  /** Wrappers that must hide their content from every scanner. Each puts a
    * `>` before the decoy, so a scanner that ends a comment at its first
    * `>` reads the decoy as markup. */
  private val wrappers = Vector[(String, String => String)](
    "comment" -> (d => s"<!-- a > b $d -->"),
    "CDATA" -> (d => s"<![CDATA[ a > b $d ]]>"),
    "script" -> (d => s"<script>if (a > b) s = '$d';</script>"))

  private def page(s: Scanner, wrapped: String): String = s.page.replace("@@", wrapped)

  private def withLocale[A](l: Locale)(body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  private val Turkish = Locale.forLanguageTag("tr-TR")

  /** Tag names upper-cased, attributes and text as written. */
  private def upperTags(html: String): String =
    "(</?)([a-z][a-z0-9]*)".r.replaceAllIn(html, m => m.group(1) + m.group(2).toUpperCase(Locale.ROOT))

  test("the table covers the 19 scanners") {
    assert(scanners.map(_.name).distinct.length == 19)
  }

  for (s <- scanners; (where, wrap) <- wrappers)
    test(s"${s.name}: a decoy inside a $where is not markup") {
      val clean = s.run(page(s, wrap("")))
      assert(s.run(page(s, wrap(s.decoy))) == clean)
      // the decoy itself is seen when it is markup: the case is not vacuous
      assert(s.run(page(s, s.decoy)) != s.run(page(s, "")))
    }

  for (s <- scanners)
    test(s"${s.name}: offsets hold after text whose lowercase form is longer") {
      val p = page(s, wrappers.last._2(""))
      assert(s.run("<!--" + "İ" * 12 + "-->" + p) == s.run(p))
    }

  for (s <- scanners)
    test(s"${s.name}: upper-case tag names under a tr_TR default locale") {
      val p = page(s, wrappers.last._2(""))
      val expected = withLocale(Locale.ROOT)(s.run(p))
      assert(withLocale(Turkish)(s.run(upperTags(p))) == expected)
    }

  test("HtmlExtract keeps the paragraph after a script preceded by 12 x U+0130") {
    val doc = HtmlExtract.parseString(
      "<html><body><p>" + "İ" * 12 + "</p><script>var x = 1;</script>" +
        "<p>The paragraph after the script survives.</p></body></html>")
    assert(doc.blocks.map(_.text) == Vector("İ" * 12, "The paragraph after the script survives."))
  }

  test("HtmlLinks keeps both links around a script preceded by 12 x U+0130") {
    val links = HtmlLinks.extractLinks(
      "<html><body><p>" + "İ" * 12 + """<a href="/one">one</a></p>""" +
        """<script>var x = 1;</script><p><a href="/two">two</a></p></body></html>""", url)
    assert(links.map(_.anchor) == Vector("one", "two"))
  }

  test("HtmlExtract under a tr_TR default locale reads <TITLE> and <DIV>") {
    val doc = withLocale(Turkish)(HtmlExtract.parseString(
      "<HTML><HEAD><TITLE>Istanbul Guide</TITLE></HEAD><BODY>" +
        "<DIV>First block of the page.</DIV><DIV>Second block of the page.</DIV></BODY></HTML>"))
    assert(doc.title == "Istanbul Guide")
    assert(doc.blocks.length == 2)
  }

  test("JsonLd: a type= inside another attribute's quoted value is not the type") {
    val html = """<script data-note="x type='application/ld+json' y" type="text/javascript">""" +
      """{"@type":"NotJsonLd"}</script>"""
    assert(JsonLd.blocks(html).isEmpty)
  }

  test("Hreflang: rel= and hreflang= inside another attribute's quoted value are not attributes") {
    val html = """<html><head><link title="rel='alternate' hreflang='xx'" rel="stylesheet" """ +
      """href="/s.css"></head></html>"""
    assert(Hreflang.extractAlternates(html, url).isEmpty)
  }

  test("Iframes: sandbox inside another attribute's quoted value is not the sandbox attribute") {
    val frames = Iframes.scan(
      """<iframe title="no sandbox here" src="https://player.example/v"></iframe>""" +
        """<iframe sandbox src="https://player.example/w"></iframe>""", "site.example")
    assert(frames.map(_.sandboxed) == Vector(false, true))
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture
import graft.core.html.HtmlLinks

/** Outlink extraction: RFC 3986 resolution semantics, flagging, and the
  * narrow/bounded plan shapes of the graph ops. */
class LinkGraphSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("resolve: RFC 3986 §5.4 normal examples (canonicalized)") {
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      "g" -> "http://a/b/c/g",
      "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/",
      "/g" -> "http://a/g",
      "//g" -> "http://g/",
      "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y",
      "../" -> "http://a/b/",
      "../g" -> "http://a/b/g",
      "../../g" -> "http://a/g",
      "../../../g" -> "http://a/g", // excess .. clamps at root
      "g#s" -> "http://a/b/c/g")    // fragment dropped
    for ((ref, want) <- cases)
      assert(HtmlLinks.resolve(base, ref) == want, s"ref=$ref")
  }

  test("resolve: skips non-navigational refs; canonicalizes absolute forms") {
    val base = "https://x.example/p"
    assert(HtmlLinks.resolve(base, "javascript:void(0)") == "")
    assert(HtmlLinks.resolve(base, "mailto:a@b.c") == "")
    assert(HtmlLinks.resolve(base, "tel:+1234") == "")
    assert(HtmlLinks.resolve(base, "data:text/plain,hi") == "")
    assert(HtmlLinks.resolve(base, "#top") == "")
    assert(HtmlLinks.resolve(base, "") == "")
    assert(HtmlLinks.resolve(base, "HTTPS://UP.Example:443/Y?b=2&a=1&utm_source=z")
      == "https://up.example/Y?a=1&b=2")
    // base without a path: relative ref hangs off "/"
    assert(HtmlLinks.resolve("https://x.example", "p") == "https://x.example/p")
  }

  test("extractLinks: base tag, flags, skip rules, entity-decoded hrefs") {
    val html =
      """<html><head><base href="https://base.example/dir/"><title>T</title></head><body>
        |<nav><a href="/nav">Nav</a></nav>
        |<p><a href="sub/page?b=2&amp;a=1&amp;utm_source=z">Deep &amp; wide</a>
        |<a rel="me nofollow" href="//cdn.example/x">CDN</a>
        |<a href="mailto:a@b.c">mail</a>
        |<a href="#frag">frag</a>
        |<a href="HTTPS://UP.example/Y">Up</a></p>
        |<script>var a = "<a href='/not-a-link'>";</script>
        |</body></html>""".stripMargin
    val links = HtmlLinks.extractLinks(html, "https://page.example/ignored/by/base")
    assert(links.map(_.dst) == Vector(
      "https://base.example/nav",
      "https://base.example/dir/sub/page?a=1&b=2",
      "https://cdn.example/x",
      "https://up.example/Y"))
    assert(links(0).boilerplate && !links(1).boilerplate)
    assert(links(2).nofollow && !links(1).nofollow)
    assert(links(1).anchor == "Deep & wide")
  }

  test("outlinks is narrow (zero Exchange); domainEdges is one shuffled agg") {
    val pages = LinkGraph.synthCorpus(spark, 40)
    val narrow = LinkGraph.outlinks(pages).queryExecution.executedPlan.toString
    assert(!narrow.contains("Exchange"), narrow.take(600))
    val agg = LinkGraph.domainEdges(LinkGraph.outlinks(pages))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(agg).size <= 2, agg.take(800))
  }

  test("synthCorpus edges: every page contributes 3 content links, flags filter the rest") {
    val links = LinkGraph.outlinks(LinkGraph.synthCorpus(spark, 40)).collect()
    assert(links.length == 40 * 5) // 3 content + nav + nofollow ad; js/# dropped
    val content = links.filter(l => !l.nofollow && !l.boilerplate)
    assert(content.length == 40 * 3)
    // the dotted form resolved: no ".." survives in any dst
    assert(links.forall(l => !l.dst.contains("..")))
    // absolute messy form canonicalized: params sorted, utm gone, host lowered
    assert(content.map(_.dst).count(_.endsWith("?a=1&b=2")) == 40)
  }

  test("triangles: K4, a path, and a pendant vertex hand-check") {
    import spark.implicits._
    // K4 on 0-3 (every pair) + pendant 4-0 + path 5-6-7
    val edges = Seq(
      (0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L),
      (4L,0L),
      (5L,6L),(6L,7L),
      (1L,0L) // duplicate reversed edge must not double-count
    ).toDF("src","dst")
    val nodes = (0L to 7L).toDF("id")
    val out = Graph.triangles(nodes, edges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // K4: each vertex sits in C(3,2)=3 triangles; vertex 0 has degree 4 (pendant)
    assert(out(0) == ((0L, 4L, 3L, 500L)))   // 2*3*1000 / (4*3) = 500
    assert(out(1) == ((1L, 3L, 3L, 1000L)))  // fully connected corner
    assert(out(2) == ((2L, 3L, 3L, 1000L)))
    assert(out(3) == ((3L, 3L, 3L, 1000L)))
    assert(out(4) == ((4L, 1L, 0L, 0L)))     // pendant: deg<2 -> 0
    assert(out(5) == ((5L, 1L, 0L, 0L)))
    assert(out(6) == ((6L, 2L, 0L, 0L)))     // path center: wedge, no closure
    assert(out(7) == ((7L, 1L, 0L, 0L)))
    // global triangle count: K4 has exactly 4, attributed 3x each
    assert(out.map(_._3).sum == 12L)
  }

  test("paginationChains: heads, positions, lengths; dead next-targets end the chain") {
    import spark.implicits._
    def page(u: String, next: Option[String]) = graft.spark.PageRow(u,
      new java.sql.Timestamp(0L),
      s"<html><head>${next.map(h => s"<link rel=\"prev next\" href=\"$h\">").getOrElse("")}</head><body>x</body></html>".getBytes("UTF-8"),
      null, "en")
    val pages = Seq(
      page("u://a1", Some("u://a2")), page("u://a2", Some("u://a3")), page("u://a3", None),
      page("u://solo", None),
      page("u://dead", Some("u://nowhere"))).toDS()  // target outside the corpus
    val out = LinkGraph.paginationChains(pages)
      .as[(String, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("u://a1") == (("u://a1", "u://a1", 0L, 3L)))
    assert(out("u://a2") == (("u://a2", "u://a1", 1L, 3L)))
    assert(out("u://a3") == (("u://a3", "u://a1", 2L, 3L)))
    assert(out("u://solo") == (("u://solo", "u://solo", 0L, 1L)))
    assert(out("u://dead") == (("u://dead", "u://dead", 0L, 1L)))
  }

  test("relNextOf: rel token lists, quoting, <a> form, absent -> None") {
    assert(LinkGraph.relNextOf("""<link rel="prev next" href="/n2">""").contains("/n2"))
    assert(LinkGraph.relNextOf("""<a rel=next href='/n3'>more</a>""").contains("/n3"))
    assert(LinkGraph.relNextOf("""<link rel="nexty" href="/no">""").isEmpty)
    assert(LinkGraph.relNextOf("""<link rel="next">""").isEmpty) // no href
    assert(LinkGraph.relNextOf("<html><body>plain</body></html>").isEmpty)
  }
}

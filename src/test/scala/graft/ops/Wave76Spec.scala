package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 76: route-template trap triage, paywall gate, Bloom seen-set. */
class Wave76Spec extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("routeTemplates: numeric/hex collapse, trap flag on deep expanding template") {
    val rows =
      (for (y <- 0 until 2; m <- 1 to 3; day <- 1 to 2)
        yield ("a.example", s"/cal/${2020 + y}/$m/$day")) ++       // 12 distinct, depth 4
      (1 to 6).map(i => ("a.example", s"/article/$i")) ++          // depth 2
      Seq(("a.example", "/s/deadbeef1234"), ("a.example", "/about"))
    val out = UrlOps.routeTemplates(rows.toDF("domain", "path"))
      .orderBy("template").collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(out("/cal/{n}/{n}/{n}") == ((4L, 12L, 12L, true)))   // the trap
    assert(out("/article/{n}") == ((2L, 6L, 6L, false)))        // shallow → no flag
    assert(out("/s/{h}") == ((2L, 1L, 1L, false)))              // hex → {h}
    assert(out("/about") == ((1L, 1L, 1L, false)))              // literal kept
  }

  test("routeTemplates: digit rule beats hex rule on all-digit hex-length segment") {
    val out = UrlOps.routeTemplates(
      Seq(("x.example", "/v/123456789012")).toDF("domain", "path"))
      .collect().map(_.getString(1))
    assert(out.toSeq == Seq("/v/{n}"))
  }

  test("Paywall.scan: all three signals fire independently") {
    val pw = graft.core.html.Paywall.scan(
      "<html><body><form><input type=\"password\" name=\"p\"></form>" +
        "<p>Please enter your password to see this page.</p></body></html>")
    assert(pw.hasPasswordInput && !pw.jsonldNotFree && pw.gated)
    val meter = graft.core.html.Paywall.scan(
      """<html><head><script type="application/ld+json">
        |{"@type":"Article","isAccessibleForFree":"False"}</script></head>
        |<body><p>Short teaser here. Subscribe to continue reading.</p></body></html>""".stripMargin)
    assert(meter.jsonldNotFree && meter.teaserMarker && meter.gated)
    val free = graft.core.html.Paywall.scan(
      "<html><body><p>" + ("An entirely open article about gardening. " * 20) +
        "</p></body></html>")
    assert(!free.gated && free.mainChars > 500)
    // marker INSIDE another attribute's quoted value must not count as
    // a password input (quote-aware attr tokenizer, not indexOf)
    val decoy = graft.core.html.Paywall.scan(
      "<html><body><input type=\"text\" placeholder=\"type=password here\">" +
        "<p>Just a search box on an open page, nothing more.</p></body></html>")
    assert(!decoy.hasPasswordInput && !decoy.gated)
  }

  test("bloomMembership: zero false negatives, bounded false positives") {
    val inserted = (0L until 100L).map(i => s"k$i").toDF("key")
    val absent = (1000L until 1100L).map(i => s"k$i").toDF("key")
    val out = Sketches.bloomMembership(inserted, inserted.union(absent),
        mBits = 2048L, k = 4)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // every inserted key MUST be positive (no false negatives, ever)
    assert((0L until 100L).forall(i => out(s"k$i")))
    // fill ≈ 1-exp(-400/2048) ≈ 0.18 → per-probe fp ≈ 0.18^4 ≈ 0.1%;
    // allow generous slack, but a broken join/hash would blow past it
    val fps = (1000L until 1100L).count(i => out(s"k$i"))
    assert(fps <= 5, s"false positives: $fps / 100")
  }
}

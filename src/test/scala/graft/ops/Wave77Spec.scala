package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 77: param-invariance inference, source overlap, AMP pairing. */
class Wave77Spec extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("paramContentInference: ref droppable, page/id keep") {
    val out = UrlOps.paramContentInference(
      UrlOps.withParamUrls((0L until 64L).toDF("doc_id")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(5)).toMap
    for (dom <- Seq("shop0.example", "shop1.example")) {
      assert(out((dom, "ref")) == "droppable", s"$dom ref")
      assert(out((dom, "page")) == "keep", s"$dom page")
      assert(out((dom, "id")) == "keep", s"$dom id")
    }
  }

  test("paramContentInference: no multi-value group → unknown, not droppable") {
    // every url distinct in all params → zero evidence for any param
    val urls = Seq(
      ("d.example", 1L, 0L, "r0", "c1"),
      ("d.example", 2L, 1L, "r1", "c2"))
      .toDF("domain", "item", "page", "ref", "content")
    val verdicts = UrlOps.paramContentInference(urls)
      .collect().map(_.getString(5)).distinct.toSeq
    assert(verdicts == Seq("unknown"))
  }

  test("AmpLinks.scan: amp attr (both spellings), rel links, decoys") {
    val amp = graft.core.html.AmpLinks.scan(
      """<html amp lang="en"><head><link rel="canonical" href="https://s.example/p"></head></html>""")
    assert(amp.isAmp && amp.canonical.contains("https://s.example/p") && amp.amphtml.isEmpty)
    val bolt = graft.core.html.AmpLinks.scan("<html ⚡><head></head></html>")
    assert(bolt.isAmp)
    val canon = graft.core.html.AmpLinks.scan(
      """<html><head><link rel="amphtml" href="https://s.example/p.amp"></head></html>""")
    assert(!canon.isAmp && canon.amphtml.contains("https://s.example/p.amp"))
    // "amp" inside another attribute's value must not mark the page amp
    val decoy = graft.core.html.AmpLinks.scan(
      """<html data-note="amp here"><head><link rel="stylesheet" href="amp.css"></head></html>""")
    assert(!decoy.isAmp && decoy.amphtml.isEmpty)
  }

  test("sourceOverlap: exact Jaccard fields, est=1000 for identical sets") {
    val corpus = Seq(
      ("A", "t one"), ("A", "t two"), ("A", "t three"),
      ("B", "t two"), ("B", "t three"), ("B", "t four"),
      ("C", "t one"), ("C", "t two"), ("C", "t three")) // C == A
      .toDF("source", "text")
    val rows = Sketches.sourceOverlap(corpus, k = 32).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toMap
    // A vs B: |∩|=2, |∪|=4 → exact 500
    assert(rows(("A", "B"))._3 == 2L && rows(("A", "B"))._4 == 4L)
    assert(rows(("A", "B"))._5 == 500L)
    // A vs C identical sets → every seed's min agrees → est exactly 1000
    assert(rows(("A", "C"))._6 == 1000L && rows(("A", "C"))._5 == 1000L)
  }
}

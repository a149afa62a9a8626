package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture
import graft.spark.{PageRow, PagesTable}

/** Semantics for the wave-42 operators: perceptual page hashing and
  * OCR-artifact detection. */
class PhashOcrSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def renderFixture(name: String, page: Int, scale: Double) = {
    val doc = graft.core.PdfDocument.load(PagesTable.fixture(name))
      .getOrElse(fail(s"load $name"))
    graft.core.render.Rasterizer.render(doc.page(page), scale)
  }

  private def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  test("dhash64: deterministic, near-invariant to render scale, distinct across content") {
    val h1 = Multimodal.dhash64(renderFixture("text.pdf", 0, 0.5))
    assert(h1 == Multimodal.dhash64(renderFixture("text.pdf", 0, 0.5)))
    // perceptual stability: a 2x resolution change moves few bits
    val h2 = Multimodal.dhash64(renderFixture("text.pdf", 0, 1.0))
    assert(ham(h1, h2) <= 6, s"scale sensitivity: hamming ${ham(h1, h2)}")
    // different visual content is far away
    val hr = Multimodal.dhash64(renderFixture("render.pdf", 0, 0.5))
    assert(ham(h1, hr) > 6, s"content separation: hamming ${ham(h1, hr)}")
  }

  test("pagePhash: byte-different writer roundtrip collapses to one visual identity") {
    val orig = PagesTable.fixture("text.pdf")
    val rewritten = graft.core.PdfDocument.load(orig)
      .map(graft.core.PdfWriter.write).getOrElse(fail("roundtrip"))
    val rows = Seq(("p://a", orig), ("p://b", rewritten)).map { case (u, b) =>
      PageRow(u, new java.sql.Timestamp(0L), b, null, "la")
    }
    val out = Multimodal.pagePhash(spark.createDataset(rows))
      .as[(String, Long, String, Long)].collect()
    // every page hash is shared by both documents
    assert(out.nonEmpty && out.forall(_._4 == 2), out.mkString(", "))
  }

  test("ocrArtifacts: spaced letters and digit-substitution both trip the gate") {
    val d = Seq(
      (1L, "normal words with a few ordinary tokens here"),
      (2L, "t h i s i s a l l s p a c e d o u t"),
      (3L, "s0me w0rds h4ve d1g1ts 1nside them n0w ok"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextStats.ocrArtifacts(d)
      .as[(Long, Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(!out(1L)._5, "clean doc must pass")
    assert(out(2L)._5 && out(2L)._3 == 1000, "fully spaced doc: all single-char")
    assert(out(3L)._5 && out(3L)._4 > 500, "digit-mixed doc trips mixed rule")
    assert(out(4L)._2 == 0 && !out(4L)._5, "empty doc: zero tokens, no flag")
    // the clean doc still counts its natural single-char token ("a")
    assert(out(1L)._3 > 0)
  }
}

package graft.core

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the public [[TextPage]] surface, and the page-object listing beside
  * it, on the generated documents: per document, a digest of the text, the
  * char count, both index views, every tight and loose char box, the rect
  * runs, the bounded text, each char's owning text object (its text and
  * bbox) and every page object's type, level, bounds and text. Doubles
  * enter the digest through `Double.toString`, which round-trips, so a
  * digest moves when any value moves by one ulp. The pinned digests were
  * recorded on the per-character object graph that the flat char stores
  * replaced; they must not be re-recorded to make a change pass. */
class TextPageSurfaceSpec extends AnyFunSuite {

  private def latin1(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def stream(data: Array[Byte]): Array[Byte] =
    latin1(s"<</Length ${data.length}>>\nstream\n") ++ data ++ latin1("\nendstream")

  /** TJ kerns (both signs, one past the word-gap threshold), Tc, Tw, Tz, Ts,
    * T*, ' and ", a doubled space, and a second line that sorts before the
    * first along the baseline. */
  private def kernedPdf: Array[Byte] = SynthPdf.onePage(
    """BT /F1 11 Tf 14 TL 72 720 Td
      |[(Ke) 120 (rn) -80 (ed) -400 (gap) 30 ( ) -350 (wide)] TJ
      |T* 1.5 Tc 2 Tw (spaced  words) Tj
      |80 Tz 3 Ts (squeezed risen) Tj 100 Tz 0 Ts 0 Tc 0 Tw
      |(next line) ' 4 0.5 (quoted line) "
      |ET
      |BT /F1 9 Tf 300 600 Td (right part) Tj -200 0 Td (left part) Tj ET
      |BT /F1 -12 Tf 100 500 Td (negative size) Tj ET""".stripMargin)

  /** Type0 Identity-H font whose ToUnicode maps one code to a ligature
    * ("ffi", three chars sharing one glyph's boxes), plus code 0 (no
    * unicode and no representable charcode: an excluded char) and an
    * unmapped code (its CID becomes the char). */
  private def type0Ligature: Array[Byte] = {
    val cmap = "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      "3 beginbfchar\n<0101> <0041>\n<0102> <0062>\n<0103> <006600660069>\nendbfchar\n" +
      "endcmap\nend\nend"
    val page =
      "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>"
    SynthPdf.build(Vector(latin1("<</Type/Catalog/Pages 2 0 R>>"), latin1("<</Type/Pages/Kids[3 0 R]/Count 1>>"),
      latin1(page),
      latin1("<</Type/Font/Subtype/Type0/BaseFont/GenSans/Encoding/Identity-H" +
        "/DescendantFonts[<</Type/Font/Subtype/CIDFontType2/BaseFont/GenSans" +
        "/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>/DW 560/W[257[500 610 900]]>>]" +
        "/ToUnicode 6 0 R>>"),
      stream(latin1("BT /F1 11 Tf 72 720 Td <0101010301020000010201050101> Tj ET")),
      stream(cmap.getBytes(UTF_8))))
  }

  private val docs: Seq[(String, () => Array[Byte])] = Seq(
    "paragraphs" -> (() => SynthPdf.paragraphsPdf),
    "twoColumn" -> (() => SynthPdf.twoColumnPdf),
    "article" -> (() => SynthPdf.articlePdf),
    "multiPage" -> (() => SynthPdf.multiPage(3)),
    "rotated" -> (() => SynthPdf.rotatedTextPdf),
    "table" -> (() => SynthPdf.tablePdf),
    "streamTable" -> (() => SynthPdf.streamTablePdf),
    "kerned" -> (() => kernedPdf),
    "cidPdf" -> (() => SynthPdf.cidPdf("UniGB-UCS2-H", "GB1", Array[Byte](0x4e, 0x2d, 0x65, 0x87.toByte))),
    "type0Ligature" -> (() => type0Ligature),
    "watermark" -> (() => SynthPdf.watermarkPdf(2)),
    "redact" -> (() => SynthPdf.redactPdf),
    "annot" -> (() => SynthPdf.annotPdf()),
    "empty" -> (() => SynthPdf.onePage("")))

  private val pinned: Map[String, String] = Map(
    "paragraphs" -> "eafb2af0435a851becf918ae",
    "twoColumn" -> "77035cdcca2265d6d2321446",
    "article" -> "1142d6aac1d4f0685bcff282",
    "multiPage" -> "41d79d6d767bcbcad9b6af18",
    "rotated" -> "d5566661041de95959cbd518",
    "table" -> "ee8bdb5eeb8824ea855690b0",
    "streamTable" -> "5f319fa7f4e8b405c540bb6a",
    "kerned" -> "e7e2f4d0d9096cc063c0ad91",
    "cidPdf" -> "063cfc669b97e53ef6db5dfa",
    "type0Ligature" -> "b87121105dc82080a6c5f9d6",
    "watermark" -> "7ecc76a87b1424f0f3cdab5e",
    "redact" -> "44f180b820b57de2106ee251",
    "annot" -> "6c53d840e72c4e27b3b1581b",
    "empty" -> "ea1d9841ab8611c7b877014f")

  private def surface(pdf: Array[Byte]): String = {
    val doc = PdfDocument.load(pdf).fold(e => fail(e.msg), identity)
    val sb = new StringBuilder
    def d(v: Double): Unit = { sb.append(java.lang.Double.toString(v)); sb.append(',') }
    def r(b: Rect): Unit = { sb.append('['); d(b.left); d(b.bottom); d(b.right); d(b.top); sb.append(']') }
    doc.pages.foreach { page =>
      val tp = page.textPage
      sb.append("page\n").append(tp.text).append('\n').append(tp.countChars).append('\n')
      for (i <- 0 until tp.countChars) {
        sb.append(i).append(' ').append(tp.textIndexFromCharIndex(i)).append(' ')
        r(tp.charBox(i).fold(e => fail(e.msg), identity))
        r(tp.charBox(i, loose = true).fold(e => fail(e.msg), identity))
        tp.textObjOf(i).foreach { o => sb.append(tp.objText(o)).append('@'); o.bbox.foreach(r) }
        sb.append('\n')
      }
      tp.rects().foreach(r)
      sb.append('\n').append(tp.textBounded()).append('\n')
      page.objects().foreach { o =>
        sb.append(o.objType).append(' ').append(o.level).append(' ')
        r(o.bounds)
        sb.append(o.text).append('\n')
      }
    }
    sb.toString
  }

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .take(12).map(b => f"${b & 0xff}%02x").mkString

  for ((name, pdf) <- docs) test(s"$name: text, char boxes, rects, text objects and page objects are pinned") {
    val got = digest(surface(pdf()))
    assert(pinned.get(name).contains(got), s"$name digest $got")
  }
}

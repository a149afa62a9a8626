package graft.core

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite

/** The per-font glyph table of [[PdfFontDecoder]]: a decoder answers each
  * code's unicode, advance and glyph box the same whatever order the codes
  * are asked in, and however often. Two fresh decoders per font, one asked
  * forward then in reverse, the other in reverse then forward, must agree
  * code for code; a table keyed by the wrong code keeps the first answer of
  * a colliding code and so differs between the two orders. */
class GlyphTableSpec extends AnyFunSuite {

  private def latin1(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def stream(data: Array[Byte]): Array[Byte] =
    latin1(s"<</Length ${data.length}>>\nstream\n") ++ data ++ latin1("\nendstream")

  private val page =
    "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>"

  /** One page showing `content` with font object 4; `extra` are objects 6... */
  private def onePage(font: String, content: String, extra: Array[Byte]*): Array[Byte] =
    SynthPdf.build(Vector(latin1("<</Type/Catalog/Pages 2 0 R>>"), latin1("<</Type/Pages/Kids[3 0 R]/Count 1>>"),
      latin1(page), latin1(font), stream(latin1(content))) ++ extra)

  private val dejaVu = new java.io.File("/usr/share/fonts/truetype/dejavu/DejaVuSans.ttf")

  /** Simple TrueType font embedding the whole DejaVu Sans program. */
  private def embeddedTrueType: Array[Byte] = {
    val program = java.nio.file.Files.readAllBytes(dejaVu.toPath)
    val widths = (32 to 126).map(c => 500 + (c * 7) % 300).mkString(" ")
    onePage(s"<</Type/Font/Subtype/TrueType/BaseFont/DejaVuSans/FirstChar 32/LastChar 126/Widths[$widths]" +
      "/Encoding/WinAnsiEncoding/FontDescriptor 6 0 R>>", "BT /F1 12 Tf 72 720 Td (Glyph table) Tj ET",
      latin1("<</Type/FontDescriptor/FontName/DejaVuSans/Flags 32/FontBBox[-1021 -463 1793 1232]" +
        "/ItalicAngle 0/Ascent 928/Descent -236/CapHeight 729/StemV 80/FontFile2 7 0 R>>"),
      latin1(s"<</Length ${program.length}/Length1 ${program.length}>>\nstream\n") ++ program ++ latin1("\nendstream"))
  }

  /** Type0 Identity-H font with a ToUnicode CMap and a /W array of varied widths. */
  private def type0ToUnicode: Array[Byte] = {
    val chars = (('A' to 'Z') ++ ('a' to 'z') ++ "éüöäß").distinct.sorted
    val bf = chars.zipWithIndex.map { case (c, k) => f"<${0x0101 + k}%04X> <${c.toInt}%04X>" }
    val cmap = "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      bf.mkString(s"${bf.length} beginbfchar\n", "\n", "\nendbfchar\n") + "endcmap\nend\nend"
    val w = chars.indices.map(k => 400 + 37 * k).mkString(" ")
    onePage("<</Type/Font/Subtype/Type0/BaseFont/GenSans/Encoding/Identity-H" +
      "/DescendantFonts[<</Type/Font/Subtype/CIDFontType2/BaseFont/GenSans" +
      s"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>/DW 560/W[257[$w]]>>]/ToUnicode 6 0 R>>",
      "BT /F1 11 Tf 72 720 Td <01010102> Tj ET", stream(cmap.getBytes("UTF-8")))
  }

  private val fonts: Seq[(String, () => Array[Byte])] = Seq(
    "Standard-14 Helvetica" -> (() => SynthPdf.paragraphsPdf),
    "embedded DejaVu TrueType" -> (() => embeddedTrueType),
    "Type0 Identity-H with ToUnicode" -> (() => type0ToUnicode),
    "SynthPdf.cidPdf UniGB-UCS2-H" ->
      (() => SynthPdf.cidPdf("UniGB-UCS2-H", "GB1", Array[Byte](0x4e, 0x2d, 0x65, 0x87.toByte))))

  /** Every 1-byte code and a spread of 2-byte codes, including a Type0 font's mapped ones. */
  private val codes: Seq[Int] = (0 to 255) ++ (0x0100 to 0x0140) ++ (256 to 0xffff by 251) ++ Seq(0x4e2d, 0x6587)

  private def decoder(pdf: Array[Byte]): PdfFontDecoder = {
    val doc = PdfDocument.load(pdf).fold(e => fail(e.msg), identity)
    val fontDict = doc.resolve(doc.page(0).resources("Font")) match {
      case d: PdfDict => doc.resolve(d("F1")) match { case f: PdfDict => f; case o => fail(s"F1 is $o") }
      case o => fail(s"/Font is $o")
    }
    PdfFontDecoder.fromDict("F1", fontDict, doc)
  }

  private def ask(d: PdfFontDecoder, order: Seq[Int]): Map[Int, (String, Double, Option[Rect])] =
    order.map(c => c -> ((d.unicode(c), d.advance(c), d.glyphBBox(c)))).toMap

  for ((name, pdf) <- fonts) test(s"$name: forward and reverse queries agree code for code") {
    if (name.contains("DejaVu")) assume(dejaVu.isFile, s"$dejaVu is absent")
    val bytes = pdf()
    val (a, b) = (decoder(bytes), decoder(bytes))
    val aFirst = ask(a, codes)
    val bFirst = ask(b, codes.reverse)
    val aAgain = ask(a, codes.reverse)
    val bAgain = ask(b, codes)
    for (c <- codes) {
      assert(aFirst(c) == bFirst(c), f"code 0x$c%04X: forward ${aFirst(c)} vs reverse ${bFirst(c)}")
      assert(aAgain(c) == aFirst(c), f"code 0x$c%04X: a repeat query changed")
      assert(bAgain(c) == bFirst(c), f"code 0x$c%04X: a repeat query changed")
    }
    // the font is not degenerate: its codes differ, so a collision would show
    assert(codes.map(aFirst).distinct.size > 16)
  }
}

package graft.core

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite

/** `PdfDocument.load` returns the document that validated the xref chain
  * only when that chain resolved as written and nothing is encrypted. A
  * document whose offsets are all stale must still be rebuilt from a linear
  * object scan. (The encrypted path is covered in [[AesEncryptionSpec]].) */
class LoadPathSpec extends AnyFunSuite {

  /** `pdf` with every in-use xref offset moved `by` bytes: the chain still
    * parses, but no entry points at its object. */
  private def shiftOffsets(pdf: Array[Byte], by: Int): Array[Byte] =
    "(?m)^(\\d{10}) (\\d{5}) n".r.replaceAllIn(new String(pdf, ISO_8859_1),
      m => f"${m.group(1).toLong + by}%010d ${m.group(2)} n").getBytes(ISO_8859_1)

  test("a document with every xref offset shifted is reconstructed and extracts its original's text") {
    val original = SynthPdf.multiPage(5)
    val shifted = shiftOffsets(original, 7)
    assert(shifted.length == original.length && !shifted.sameElements(original))
    val want = Extract.extractText(original)
    assert(want.ok && want.nPages == 5 && want.pages.head.text == "Page 1 of 5")
    assert(Extract.extractText(shifted) == want)
  }
}

package graft.core

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite

/** Edge tokens of the lexer's integer and name fast paths: every number
  * parses to exactly `toDouble` of its text (sign of zero included), and a
  * name is its latin-1 bytes with `#xx` escapes decoded. */
class LexerSpec extends AnyFunSuite {

  private def parse(s: String): PdfObject = new Lexer(s.getBytes(ISO_8859_1)).parseObject()

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("numbers parse to exactly toDouble of their text") {
    val tokens = Seq("0", "-0", "+5", "007", "-42", "999999999999999", "-123456789012345",
      "9007199254740993", "1234567890123456789012", "1.", ".5", "-.5", "3.25", "-0.0")
    tokens.foreach { t =>
      parse(t) match {
        case PdfNumber(v) => assert(bits(v) == bits(t.toDouble), s"$t parsed as $v")
        case other => fail(s"$t parsed as $other")
      }
    }
  }

  test("a number ends at the first byte that is not part of it") {
    assert(parse("12/Name") == PdfNumber(12))
    assert(parse("-7]") == PdfNumber(-7))
    assert(parse("5-3") == PdfNumber(5))
    assert(parse("-") == PdfNumber(0))
  }

  test("integers still form indirect references; non-integers do not") {
    assert(parse("12 0 R") == PdfRef(12, 0))
    assert(parse("+12 0 R") == PdfRef(12, 0))
    assert(parse("1. 0 R") == PdfNumber(1))
    assert(parse("-3 0 R") == PdfNumber(-3))
  }

  test("names decode #xx escapes and stop at delimiters") {
    assert(parse("/A#20B") == PdfName("A B"))
    assert(parse("/") == PdfName(""))
    assert(parse("/ x") == PdfName(""))
    assert(parse("/Type/Page") == PdfName("Type"))
    assert(parse("/A#2") == PdfName("A#2"))
    assert(parse("/#41#42C(") == PdfName("ABC"))
    assert(parse("/café") == PdfName("café"))
  }
}

package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's textpage unit tests (tests/test_textpage.py) and the
  * golden extract-text comparison (tests/test_cli.py:122-124 vs
  * tests/expectations/text_extract.txt) onto the pure-JVM parser. */
class TextPageSpec extends AnyFunSuite {

  def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"/root/reference/tests/resources/$name"))
  def expectation(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/root/reference/tests/expectations/$name")),
      java.nio.charset.StandardCharsets.UTF_8)

  lazy val textDoc: PdfDocument = PdfDocument.load(fixture("text.pdf")).toOption.get
  lazy val textpage: TextPage = textDoc.page(0).textPage

  test("gettext: 438 chars, exact prefix/suffix (test_textpage.py:26-39)") {
    val t = textpage.text
    assert(t.length == 438, s"got ${t.length}: [${t.take(80)}...]")
    assert(t.startsWith("Lorem ipsum dolor sit amet,\r\n"))
    assert(t.endsWith("\r\nofficia deserunt mollit anim id est laborum."))
    assert(textpage.textBounded() == textpage.textRange().toOption.get)
    val expStart = "Lorem ipsum dolor sit amet,\r\n"
    assert(textpage.textRange(0, expStart.length).toOption.get == expStart)
    val expEnd = "\r\nofficia deserunt mollit anim id est laborum."
    assert(textpage.textRange(t.length - expEnd.length).toOption.get == expEnd)
  }

  test("charboxes valid: l<=r, b<=t for all chars, tight and loose (test_textpage.py:42-47)") {
    for (loose <- Seq(false, true); i <- 0 until textpage.countChars) {
      val box = textpage.charBox(i, loose).toOption.get
      assert(box.left <= box.right && box.bottom <= box.top, s"char $i loose=$loose: $box")
    }
  }

  test("rects: 10 lines, first rect approx (58,767,258,782) (test_textpage.py:50-69)") {
    val rs = textpage.rects()
    assert(rs.length == 10, s"got ${rs.length} rects: $rs")
    val first = rs.head
    assert(math.abs(first.left - 58) <= 1, s"first=$first")
    assert(math.abs(first.bottom - 767) <= 1, s"first=$first")
    assert(math.abs(first.right - 258) <= 1, s"first=$first")
    assert(math.abs(first.top - 782) <= 1, s"first=$first")
    val firstText = textpage.textBounded(Some(first.left), Some(first.bottom), Some(first.right), Some(first.top))
    assert(firstText == "Lorem ipsum dolor sit amet,")
    assert(textpage.textRange(0, firstText.length).toOption.get == firstText)
    rs.foreach { r => assert(56 < r.left && r.left < 59, s"rect=$r") }
    val lastText = textpage.textBounded(Some(rs.last.left), Some(rs.last.bottom), Some(rs.last.right), Some(rs.last.top))
    assert(lastText == "officia deserunt mollit anim id est laborum.")
  }

  test("search 'labor': (89,5),(181,5),(430,5) + rect ranges (test_textpage.py:84-109)") {
    val occs = textpage.search("labor")
    assert(occs == Vector((89, 5), (181, 5), (430, 5)))
    val expRects = Seq(
      Rect(57, 675, 511, 690),
      Rect(58, 638, 537, 653),
      Rect(58, 549, 367, 561))
    occs.zip(expRects).foreach { case ((cIdx, cCnt), exp) =>
      val rIndex = textpage.countRects(0, cIdx) - 1
      val rCount = textpage.countRects(cIdx, cCnt)
      assert(rCount == 1)
      val all = textpage.rects()
      val r = all(rIndex)
      assert(math.abs(r.left - exp.left) <= 0.5 && math.abs(r.bottom - exp.bottom) <= 0.5 &&
        math.abs(r.right - exp.right) <= 0.5 && math.abs(r.top - exp.top) <= 0.5,
        s"occ=($cIdx,$cCnt) got=$r exp=$exp")
    }
  }

  test("get_index at (60, height-66) → 0 → 'L' (test_textpage.py:112-121)") {
    val h = textDoc.page(0).height
    val idx = textpage.indexAt(60, h - 66, 5, 5)
    assert(idx.contains(0), s"got $idx")
    val box = textpage.charBox(0).toOption.get
    assert(textpage.textBounded(Some(box.left), Some(box.bottom), Some(box.right), Some(box.top)) == "L")
  }

  test("empty page: zero everything (test_textpage.py:124-141)") {
    val doc = PdfDocument.load(fixture("empty.pdf")).toOption.get
    val tp = doc.page(0).textPage
    assert(tp.textBounded() == "")
    assert(tp.textRange().toOption.get == "")
    assert(tp.countChars == 0)
    assert(tp.countRects() == 0)
    assert(tp.indexAt(0, 0, 0, 0).isEmpty)
    assert(tp.search("a").isEmpty)
    assert(tp.charBox(0).isLeft)
    assertThrows[IllegalArgumentException](tp.search(""))
  }

  test("font helpers: n_chars 438, per-char font info (test_textpage.py:159-191)") {
    assert(textpage.countChars == 438)
    val cases = Seq(
      (0, 'L', Some("Lorem ipsum dolor sit amet,")),
      (5, ' ', Some("Lorem ipsum dolor sit amet,")),
      (27, '\r', None),
      (28, '\n', None),
      (43, 'i', Some("consectetur adipisici elit,")))
    cases.foreach { case (idx, expChar, expText) =>
      assert(textpage.unicodeAt(idx) == expChar, s"idx=$idx")
      val obj = textpage.textObjOf(idx)
      expText match {
        case None => assert(obj.isEmpty, s"idx=$idx")
        case Some(t) =>
          assert(obj.isDefined, s"idx=$idx")
          assert(textpage.objText(obj.get) == t, s"idx=$idx got=${textpage.objText(obj.get)}")
          assert(obj.get.fontSize == 16.0)
          assert(obj.get.font.baseNameNoSubset == "Ubuntu")
          assert(obj.get.font.familyName == "Ubuntu")
          assert(obj.get.font.weight == 400)
          assert(obj.get.font.isEmbedded)
      }
    }
  }

  test("golden text_extract.txt byte-identical (tests/test_cli.py:122-124)") {
    val ext = Extract.extractText(fixture("text.pdf"))
    assert(ext.ok, ext.errMsg)
    assert(ext.nPages == 2)
    val got = ext.cliReport
    val exp = expectation("text_extract.txt")
    assert(got == exp, {
      val diffAt = got.zip(exp).indexWhere { case (a, b) => a != b }
      s"diff at $diffAt:\nGOT:\n${got}\nEXP:\n${exp}"
    })
  }

  test("multipage: 'Page\\r\\nN' texts (tests/test_cli.py:137-147)") {
    val ext = Extract.extractText(fixture("multipage.pdf"))
    assert(ext.ok, ext.errMsg)
    assert(ext.pages.map(_.text) == Vector("Page\r\n1", "Page\r\n2", "Page\r\n3"))
  }

  test("encrypted: open with user and owner passwords (test_document.py:106-146)") {
    val extU = Extract.extractText(fixture("encrypted.pdf"), "test_user")
    assert(extU.ok, extU.errMsg)
    assert(extU.pages.head.text == "Encrypted PDF")
    val extO = Extract.extractText(fixture("encrypted.pdf"), "test_owner")
    assert(extO.ok, extO.errMsg)
    assert(extO.pages.head.text == "Encrypted PDF")
    val bad = Extract.extractText(fixture("encrypted.pdf"), "wrong")
    assert(!bad.ok && bad.errCode == ErrCodes.Password)
  }

  test("get_text_bounded defaults under /Rotate 90 use native PDF coords (test_textpage.py:144-156)") {
    // page.set_rotation(90) analog: incremental update replacing page obj 1
    // with the same dict + /Rotate 90
    val base = fixture("text.pdf")
    val baseStr = new String(base, java.nio.charset.StandardCharsets.ISO_8859_1)
    val prevXref = baseStr.lastIndexOf("startxref")
    val prevOff = baseStr.substring(prevXref + 9).trim.takeWhile(_.isDigit)
    val newPage = "<</Type/Page/Parent 31 0 R/Resources 38 0 R" +
      "/MediaBox[0 0 595.303937007874 841.889763779528]/StructParents 0" +
      "/Rotate 90/Group<</S/Transparency/CS/DeviceRGB/I true>>/Contents 2 0 R>>"
    val sb = new StringBuilder(baseStr)
    val objAt = sb.length
    sb.append(s"1 0 obj\n$newPage\nendobj\n")
    val xrefAt = sb.length
    sb.append("xref\n0 1\n0000000000 65535 f \n1 1\n")
    sb.append(f"$objAt%010d 00000 n \n")
    sb.append(s"trailer\n<</Size 70/Root 68 0 R/Prev $prevOff>>\nstartxref\n$xrefAt\n%%EOF\n")
    val rotated = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val doc = PdfDocument.load(rotated).toOption.get
    val page = doc.page(0)
    assert(page.rotation == 90)
    val text = page.textPage.textBounded()
    // reference pins a tolerance band: 430 < len < 460 (pdfium drift across
    // versions); the defaults must span the native mediaBox, not the
    // rotation-normalized size
    assert(text.length > 430 && text.length < 460, s"len=${text.length}")
  }
}

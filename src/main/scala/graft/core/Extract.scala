package graft.core

/** Document-level extraction results — the value-level mirror of the
  * reference's extract-text pipeline (src/pypdfium2_cli/extract_text.py) and
  * the struct shape consumed by the Spark layer (SURVEY.md §1.5). */
final case class PageText(pageIndex: Int, text: String, nChars: Int)

final case class DocExtract(
    ok: Boolean,
    errCode: String,
    errMsg: String,
    nPages: Int,
    pages: Vector[PageText]) {

  /** CLI-equivalent report: "# Page N" headers + page text, CRLF→LF
    * normalized exactly like the reference test (tests/test_cli.py:122-124). */
  def cliReport: String =
    pages.map(p => s"# Page ${p.pageIndex + 1}\n" + p.text.replace("\r\n", "\n"))
      .mkString("", "\n\n", "\n")
}

object Extract {

  /** Unified Common-Crawl payload extraction: sniff the payload and route —
    * PDF → the full parser; HTML → boilerplate-stripped main content
    * (north rule: "HTML boilerplate strip, PDF/layout parse, DOM
    * heuristics"). Unknown payloads become error rows, never throws. */
  def extractAny(bytes: Array[Byte], password: String = ""): DocExtract = {
    if (bytes == null || bytes.length < 4)
      return DocExtract(ok = false, ErrCodes.Format, "empty payload", 0, Vector.empty)
    val head = new String(bytes, 0, math.min(256, bytes.length),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (head.startsWith("%PDF")) extractText(bytes, password)
    else if (head.toLowerCase.contains("<html") || head.toLowerCase.contains("<!doctype html"))
      extractHtml(bytes)
    else if (bytes(0) == '%' || head.contains("obj")) extractText(bytes, password) // PDF w/o clean header
    else DocExtract(ok = false, ErrCodes.Format, "unsupported payload type", 0, Vector.empty)
  }

  /** HTML main-content extraction as a single-page document. */
  def extractHtml(bytes: Array[Byte]): DocExtract = {
    try {
      val doc = graft.core.html.HtmlExtract.parse(bytes)
      val text = doc.mainText()
      DocExtract(ok = true, "", "", 1, Vector(PageText(0, text, text.length)))
    } catch {
      case e: Exception =>
        DocExtract(ok = false, ErrCodes.Unknown, s"html: ${e.getMessage}", 0, Vector.empty)
    }
  }

  /** Parse + extract all page texts from raw bytes. Never throws: failures
    * become (ok=false, errCode, ...) rows (misc.py:7-21 error-model analog). */
  def extractText(bytes: Array[Byte], password: String = ""): DocExtract =
    PdfDocument.load(bytes, password) match {
      case Left(err) => DocExtract(ok = false, err.code, err.msg, 0, Vector.empty)
      case Right(doc) =>
        try {
          val pages = doc.pages.zipWithIndex.map { case (p, i) =>
            val tp = p.textPage
            PageText(i, tp.text, tp.countChars)
          }
          DocExtract(ok = true, "", "", pages.length, pages)
        } catch {
          case e: Exception =>
            DocExtract(ok = false, ErrCodes.Unknown, s"${e.getClass.getSimpleName}: ${e.getMessage}", 0, Vector.empty)
        }
    }
}

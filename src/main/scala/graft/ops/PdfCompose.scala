package graft.ops

import org.apache.spark.sql.Dataset
import graft.spark.PageRow

/** Composed PDF-corpus operators: pipelines that chain the core engine's
  * pieces (writer → attachments → parser → text assembly → TOC) the way a
  * real archive-mining job does. Both are narrow typed maps — parse where
  * scanned, emit stat rows only. */
object PdfCompose {

  final case class PortfolioRow(url: String, att_name: String, is_pdf: Boolean,
                                n_pages: Long, n_chars: Long, text_prefix: String)

  /** Recursive attachment extraction — PDF portfolios and email archives
    * carry whole PDFs as embedded files (reference attachment surface:
    * document.py:340-388); a corpus pipeline that stops at the host
    * document silently drops that text. One level deep by design:
    * real-world portfolios are flat, and bounding the depth is the
    * zip-bomb guard (a chain of PDFs-in-PDFs cannot recurse a task to
    * death). Emits one row per attachment: PDF attachments get parsed
    * (page/char counts + prefix off the SAME task), non-PDFs report
    * is_pdf=false with byte length in n_chars. */
  def portfolioExtract(pages: Dataset[PageRow]): Dataset[PortfolioRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Iterator.empty
      else graft.core.PdfDocument.load(p.html) match {
        case Left(_) => Iterator.empty
        case Right(doc) =>
          doc.attachments.iterator.map { a =>
            graft.core.PdfDocument.load(a.data) match {
              case Right(inner) =>
                // text off the SAME parse (Extract.extractText would
                // rebuild the object tree a second time per attachment)
                val text = (0 until inner.pageCount)
                  .map(i => graft.core.TextPage.build(inner.page(i)).text)
                  .mkString("\r\n")
                PortfolioRow(p.url, a.name, is_pdf = true,
                  inner.pageCount.toLong, text.length.toLong,
                  text.replace("\r\n", "\n").take(30))
              case Left(_) =>
                PortfolioRow(p.url, a.name, is_pdf = false,
                  0L, a.data.length.toLong, "")
            }
          }
      }
    }
  }

  /** Layered fixture (§8.11): a body line plus — when `withWatermark` — a
    * DRAFT watermark (filled rect + 24pt text) inside a default-OFF OCG.
    * The OFF layer must not paint (pixel-equal to the watermark-free twin)
    * while its text still extracts; OptionalContentSpec asserts both. */
  def synthLayeredPdf(withWatermark: Boolean): Array[Byte] = {
    val wm =
      if (withWatermark)
        """/OC /WM BDC
          |0.8 0.8 0.8 rg
          |100 100 200 200 re f
          |BT /F1 24 Tf 1 0 0 1 120 400 Tm (DRAFT WATERMARK) Tj ET
          |EMC
          |""".stripMargin
      else ""
    val cs = wm +
      """0 0 0 rg
        |BT /F1 12 Tf 1 0 0 1 72 700 Tm (Visible body text.) Tj ET""".stripMargin
    if (withWatermark)
      graft.core.RawPdf.assemble(Seq(
        "<</Type/Catalog/Pages 2 0 R/OCProperties<</OCGs[6 0 R 7 0 R]" +
          "/D<</Order[6 0 R 7 0 R]/OFF[6 0 R]>>>>>>",
        "<</Type/Pages/Kids[3 0 R]/Count 1>>",
        "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Contents 4 0 R" +
          "/Resources<</Font<</F1 5 0 R>>/Properties<</WM 6 0 R/BD 7 0 R>>>>>>",
        s"<</Length ${cs.length}>>\nstream\n$cs\nendstream",
        "<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>",
        "<</Type/OCG/Name(Watermark)>>",
        "<</Type/OCG/Name(Body)>>"))
    else
      graft.core.RawPdf.assemble(Seq(
        "<</Type/Catalog/Pages 2 0 R>>",
        "<</Type/Pages/Kids[3 0 R]/Count 1>>",
        "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Contents 4 0 R" +
          "/Resources<</Font<</F1 5 0 R>>>>>>",
        s"<</Length ${cs.length}>>\nstream\n$cs\nendstream",
        "<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>"))
  }

  /** Two-revision incremental-update fixture (PDF §7.5.6): a base document
    * plus an appended update that REPLACES the content stream (object 4),
    * with a classic xref subsection and a trailer /Prev chaining to the
    * base xref — the structure a signed-then-edited contract has. */
  def synthIncremental(): Array[Byte] = {
    val cs0 = "BT /F1 12 Tf 1 0 0 1 72 700 Tm (Original text.) Tj ET"
    val base = graft.core.RawPdf.assemble(Seq(
      "<</Type/Catalog/Pages 2 0 R>>",
      "<</Type/Pages/Kids[3 0 R]/Count 1>>",
      "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Contents 4 0 R" +
        "/Resources<</Font<</F1 5 0 R>>>>>>",
      s"<</Length ${cs0.length}>>\nstream\n$cs0\nendstream",
      "<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>"))
    val baseStr = new String(base, java.nio.charset.StandardCharsets.ISO_8859_1)
    val sxAt = baseStr.lastIndexOf("startxref")
    val oldXref = baseStr.substring(sxAt + 9).trim.takeWhile(_.isDigit)
    val cs1 = "BT /F1 12 Tf 1 0 0 1 72 700 Tm (Edited text, revision two.) Tj ET"
    val sb = new StringBuilder(baseStr)
    val objOff = sb.length
    sb.append(s"4 0 obj\n<</Length ${cs1.length}>>\nstream\n$cs1\nendstream\nendobj\n")
    val xrefAt = sb.length
    sb.append("xref\n0 1\n0000000000 65535 f \n")
    sb.append(f"4 1\n$objOff%010d 00000 n \n")
    sb.append(s"trailer\n<</Size 6/Root 1 0 R/Prev $oldXref>>\n")
    sb.append(s"startxref\n$xrefAt\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Structurally-signed fixture: a /Sig field whose /ByteRange covers the
    * whole file except the /Contents hole. Built twice with fixed-width
    * zero-padded numbers (identical byte length both passes), so the
    * second pass can pin the real offsets. `appendJunk` simulates
    * content added AFTER signing — the tamper channel. */
  def synthSignedPdf(appendJunk: Boolean): Array[Byte] = {
    def build(a: Long, b: Long, c: Long, d: Long): Array[Byte] =
      graft.core.RawPdf.assemble(Seq(
        "<</Type/Catalog/Pages 2 0 R/AcroForm<</Fields[4 0 R]/SigFlags 3>>>>",
        "<</Type/Pages/Kids[3 0 R]/Count 1>>",
        "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Annots[4 0 R]>>",
        "<</FT/Sig/T(Signature1)/Type/Annot/Subtype/Widget" +
          "/Rect[0 0 0 0]/P 3 0 R/V 5 0 R>>",
        "<</Type/Sig/Filter/Adobe.PPKLite/SubFilter/adbe.pkcs7.detached" +
          "/Name(Alice Signer)/M(D:20240101000000Z)" +
          f"/ByteRange[$a%010d $b%010d $c%010d $d%010d]/Contents<deadbeef>>>"))
    val probe = build(0, 0, 0, 0)
    val probeStr = new String(probe, java.nio.charset.StandardCharsets.ISO_8859_1)
    val hexAt = probeStr.indexOf("<deadbeef>").toLong
    val signed = build(0, hexAt, hexAt + 10, probe.length - hexAt - 10)
    if (!appendJunk) signed
    else signed ++ "\nTAMPERED AFTER SIGNING\n%%EOF\n".getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  final case class RevisionRow(url: String, rev_idx: Long, ok: Boolean,
                               n_pages: Long, text: String)

  /** Incremental-update forensics (PDF §7.5.6): every `%%EOF` marks a
    * complete earlier revision — the bytes BEFORE an appended update are
    * still a valid document, which is how "what did this contract say
    * before the edit" is answered (and how redaction failures leak).
    * Re-parses each prefix independently; a corrupt prefix reports
    * ok=false instead of throwing. Per-row typed kernel, zero shuffle. */
  def revisionReport(pages: Dataset[PageRow]): Dataset[RevisionRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Iterator.empty
      else {
        val marker = "%%EOF".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        val ends = scala.collection.mutable.ArrayBuffer[Int]()
        var i = 0
        while (i >= 0 && i <= p.html.length - marker.length && ends.length < 64) {
          var j = 0
          while (j < marker.length && p.html(i + j) == marker(j)) j += 1
          if (j == marker.length) { ends += i + marker.length; i += marker.length }
          else i += 1
        }
        ends.iterator.zipWithIndex.map { case (end, rev) =>
          val slice = java.util.Arrays.copyOfRange(p.html, 0, end)
          graft.core.PdfDocument.load(slice) match {
            case Right(doc) =>
              val txt = (0 until doc.pageCount)
                .map(pi => doc.page(pi).textPage.textRange().getOrElse(""))
                .mkString
              RevisionRow(p.url, rev.toLong, ok = true, doc.pageCount.toLong,
                txt.replace("\r\n", " ").trim)
            case Left(err) =>
              RevisionRow(p.url, rev.toLong, ok = false, 0L, err.code)
          }
        }
      }
    }
  }

  /** Deterministic portfolio synthesis: text.pdf rewritten by the writer
    * with multipage.pdf and a plain-text note attached — the writer →
    * parser round trip IS the fixture (no binary blobs checked in). */
  def synthPortfolio(): Array[Byte] = {
    val host = graft.core.PdfDocument.load(
      graft.spark.PagesTable.fixture("text.pdf")).toOption.get
    graft.core.PdfWriter.writeEdited(host, graft.core.EditSpec(
      newAttachments = Seq(
        ("inner.pdf", graft.spark.PagesTable.fixture("multipage.pdf")),
        ("note.txt", "plain text attachment".getBytes(
          java.nio.charset.StandardCharsets.UTF_8)))))
  }

  final case class HeaderFooterRow(url: String, n_pages: Long,
                                   repeated_lines: String, n_lines_removed: Long,
                                   chars_removed: Long, chars_kept: Long)

  /** Running header/footer detection — the PDF-specific boilerplate that
    * survives naive extraction: the same page header ("ACME Corp —
    * Confidential", journal titles, running chapter names) repeats on
    * most pages and, concatenated, poisons LM training text with n_pages
    * copies. A line (CRLF-split) repeating on ≥ `fracPermille`‰ of pages
    * (and n_pages ≥ 2) is boilerplate; the op reports the removable
    * mass per document. Per-row kernel — page texts come off one parse;
    * the repeated-line set is per-document state, bounded by page count,
    * never corpus-global (cross-document boilerplate is the C4 paragraph
    * op's job). */
  def headerFooterScan(pages: Dataset[PageRow],
                       fracPermille: Long = 600): Dataset[HeaderFooterRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Iterator.empty
      else graft.core.PdfDocument.load(p.html) match {
        case Left(_) => Iterator.empty
        case Right(doc) =>
          val pageLines = (0 until doc.pageCount).map { i =>
            graft.core.TextPage.build(doc.page(i)).text
              .split("\r\n", -1).toVector
          }
          val n = pageLines.length
          // pages a line appears on (distinct per page)
          val df = new scala.collection.mutable.HashMap[String, Int]
          pageLines.foreach(_.distinct.foreach { l =>
            if (l.nonEmpty) df.update(l, df.getOrElse(l, 0) + 1)
          })
          val repeated = df.filter { case (_, c) =>
            n >= 2 && c.toLong * 1000 >= fracPermille * n
          }.keySet
          val removedChars = pageLines.map(_.filter(repeated.contains).map(_.length).sum).sum
          val keptChars = pageLines.map(_.filterNot(repeated.contains).map(_.length).sum).sum
          Iterator.single(HeaderFooterRow(p.url, n.toLong,
            repeated.toVector.sorted.mkString("|"),
            repeated.size.toLong, removedChars.toLong, keptChars.toLong))
      }
    }
  }

  final case class TocChunk(url: String, idx: Long, level: Long, title: String,
                            page_from: Long, page_to: Long, n_chars: Long)

  /** TOC-aware section chunking — the PDF analog of heading-aware HTML
    * chunking for LM data prep: split a document into titled sections at
    * its bookmark destinations instead of arbitrary char windows, so a
    * chunk never straddles a chapter boundary. Section i spans from its
    * destination page to the page before the NEXT bookmark's destination
    * (document order; bookmarks without a resolvable destination are
    * skipped); n_chars sums the per-page extracted text in the span.
    * One parse per row feeds TOC walk + per-page text assembly. */
  def tocChunks(pages: Dataset[PageRow], maxDepth: Int = 15): Dataset[TocChunk] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Iterator.empty
      else graft.core.PdfDocument.load(p.html) match {
        case Left(_) => Iterator.empty
        case Right(doc) =>
          val pageChars = (0 until doc.pageCount)
            .map(i => graft.core.TextPage.build(doc.page(i)).text.length.toLong)
          val bms = doc.toc(maxDepth).filter(_.dest.isDefined)
          val starts = bms.map(_.dest.get.pageIndex)
          bms.zipWithIndex.iterator.map { case (bm, i) =>
            val from = starts(i)
            // the section ends where the next section starts (document
            // order), except same-page successors share the page
            val to = if (i + 1 < starts.length) math.max(from, starts(i + 1) - 1)
                     else doc.pageCount - 1
            val n = (from to to).map(pg => pageChars(pg)).sum
            TocChunk(p.url, i.toLong, bm.level.toLong, bm.title,
              from.toLong, to.toLong, n)
          }
      }
    }
  }
}

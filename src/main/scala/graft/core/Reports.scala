package graft.core

/** Report/CLI-adjacent utilities mirrored from the reference's parsers
  * (src/pypdfium2_cli/_parsers.py) and fonts report (src/pypdfium2_cli/fonts.py). */
object Reports {

  /** Parse a 1-based page-range spec like "2,1-3,2" into 0-based indices.
    * Preserves user order including duplicates; descending ranges ("5-3")
    * count down (reference _parsers.py:10-28; tested at
    * tests/test_document.py:220-236 via import-pages sequences). */
  def pageRanges(spec: String, pageCount: Int): Either[String, Vector[Int]] = {
    try {
      val out = Vector.newBuilder[Int]
      spec.split(',').filter(_.nonEmpty).foreach { part =>
        val p = part.trim
        val dash = p.indexOf('-', 1) // allow leading '-'? spec uses plain ints
        if (dash > 0) {
          val a = p.substring(0, dash).trim.toInt
          val b = p.substring(dash + 1).trim.toInt
          val step = if (a <= b) 1 else -1
          var i = a
          while (i != b + step) { out += (i - 1); i += step }
        } else out += (p.toInt - 1)
      }
      val v = out.result()
      if (v.exists(i => i < 0 || i >= pageCount)) Left(s"page index out of bounds for count $pageCount")
      else Right(v)
    } catch { case e: Exception => Left(s"bad page spec: ${e.getMessage}") }
  }

  /** Compress sorted 1-based page numbers into "1-3, 7" form
    * (reference _parsers.py:40-61 + fonts report formatting). */
  def rangeCompress(pageNums: Seq[Int]): String = {
    if (pageNums.isEmpty) return ""
    val sb = new StringBuilder
    var runStart = pageNums.head
    var prev = pageNums.head
    def emit(): Unit = {
      if (sb.nonEmpty) sb.append(", ")
      if (runStart == prev) sb.append(runStart)
      else sb.append(runStart).append('-').append(prev)
    }
    pageNums.tail.foreach { n =>
      if (n == prev + 1) prev = n
      else { emit(); runStart = n; prev = n }
    }
    emit()
    sb.toString
  }

  /** Python-repr of a float rounded to n digits (round-half-even like
    * python's round; shortest repr like CPython float repr for the value
    * ranges PDFs carry). Used for byte-identical CLI-report goldens. */
  def pyRound(v: Double, nDigits: Int): String = {
    val bd = new java.math.BigDecimal(v).setScale(nDigits, java.math.RoundingMode.HALF_EVEN)
    val d = bd.doubleValue()
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString
  }

  /** Byte-identical `toc` CLI report (reference src/pypdfium2_cli/toc.py;
    * goldens tests/expectations/toc*.txt). `colorIndicator` wraps a Unicode
    * dot in an ANSI truecolor escape like the reference. */
  def tocReport(doc: PdfDocument, maxDepth: Int = 15, nDigits: Int = 4,
                colorIndicator: Boolean = false): String = {
    val sb = new StringBuilder
    doc.tocEvents(maxDepth).foreach {
      case TocWarning(msg) => sb.append(msg).append('\n')
      case TocBookmark(bm) =>
        val countStr = if (bm.count == 0) "*" else f"${bm.count}%+d"
        sb.append("    " * bm.level)
        sb.append(s"[$countStr] ${bm.title} -> ")
        bm.dest match {
          case Some(d) =>
            val page = if (d.pageIndex >= 0) (d.pageIndex + 1).toString else "?"
            val pos = d.params.map(p => pyRound(p.getOrElse(0.0), nDigits)).mkString(", ")
            sb.append(s"$page  # ${d.viewMode} [$pos]")
          case None => sb.append("_")
        }
        bm.color.foreach { case (r, g, b) =>
          val ind = if (colorIndicator) {
            val (ri, gi, bi) = (math.round(r * 255), math.round(g * 255), math.round(b * 255))
            s"[38;2;$ri;$gi;${bi}m⬤[0m "
          } else ""
          sb.append(" | " + ind +
            s"RGB(${pyRound(r, nDigits)}, ${pyRound(g, nDigits)}, ${pyRound(b, nDigits)})")
        }
        sb.append('\n')
    }
    sb.toString
  }

  /** CPython bytes-repr emulation (b'...' with \xNN escapes) — the pdfinfo
    * golden prints file identifiers this way. */
  /** ISO/ANSI paper-size classification of a page size in points (±1.5 pt
    * tolerance on the sorted short/long pair — scanners jitter by a point).
    * Corpus use: geometry normalization stats before rendering/chunking. */
  def paperSize(w: Double, h: Double): String = {
    val s = math.min(w, h); val l = math.max(w, h)
    val table = Seq(
      ("a3", 842.0, 1191.0), ("a4", 595.0, 842.0), ("a5", 420.0, 595.0),
      ("letter", 612.0, 792.0), ("legal", 612.0, 1008.0), ("tabloid", 792.0, 1224.0))
    table.find { case (_, ts, tl) =>
      math.abs(s - ts) <= 1.5 && math.abs(l - tl) <= 1.5
    }.map(_._1).getOrElse("other")
  }

  def pyBytesRepr(b: Array[Byte]): String = {
    val hasSingle = b.contains('\''.toByte)
    val hasDouble = b.contains('"'.toByte)
    val quote = if (hasSingle && !hasDouble) '"' else '\''
    val sb = new StringBuilder("b").append(quote)
    b.foreach { x =>
      val c = x & 0xff
      if (c == '\\') sb.append("\\\\")
      else if (c == quote) sb.append('\\').append(quote)
      else if (c == '\t') sb.append("\\t")
      else if (c == '\n') sb.append("\\n")
      else if (c == '\r') sb.append("\\r")
      else if (c >= 0x20 && c <= 0x7e) sb.append(c.toChar)
      else sb.append(f"\\x$c%02x")
    }
    sb.append(quote).toString
  }

  private val PageModeToStr = Map(
    "UseNone" -> "None", "UseOutlines" -> "Outline", "UseThumbs" -> "Thumbnails",
    "FullScreen" -> "Full-screen", "UseOC" -> "Layers", "UseAttachments" -> "Attachments")

  /** Byte-identical `pdfinfo` CLI report (reference src/pypdfium2_cli/
    * pdfinfo.py:19-58; goldens tests/expectations/pdfinfo_*.txt). */
  def pdfinfoReport(doc: PdfDocument, nDigits: Int = 4): String = {
    val sb = new StringBuilder
    // PDFium's unsupported-feature handler fires on attachment presence
    if (doc.attachments.nonEmpty)
      sb.append("Unsupported PDF feature: Attachment (incomplete support)\n")
    sb.append(s"Page Count: ${doc.pageCount}\n")
    sb.append(s"PDF Version: ${pyRound(doc.version / 10.0, 1)}\n")
    // get_identifier drops the ID's trailing byte (document.py:278-292)
    val idp = doc.identifiers._1.dropRight(1)
    val idc = doc.identifiers._2.dropRight(1)
    sb.append(s"ID (permanent): ${pyBytesRepr(idp)}\n")
    sb.append(s"ID (changing):  ${pyBytesRepr(idc)}\n")
    sb.append(s"ID match? - ${if (java.util.Arrays.equals(idp, idc)) "True" else "False"}\n")
    sb.append(s"Tagged? - ${if (doc.isTagged) "True" else "False"}\n")
    if (doc.pageMode != "UseNone")
      sb.append(s"Page Mode: ${PageModeToStr.getOrElse(doc.pageMode, "?")}\n")
    if (doc.formType != "None")
      sb.append(s"Form Type: ${doc.formType}\n")
    val meta = doc.metadata()
    val keys = Seq("Title", "Author", "Subject", "Keywords", "Creator", "Producer", "CreationDate", "ModDate")
      .filter(k => meta.getOrElse(k, "").nonEmpty)
    if (keys.nonEmpty) {
      sb.append("Metadata:\n")
      keys.foreach(k => sb.append(s"    $k: ${meta(k)}\n"))
    }
    def tup(vals: Seq[Double]): String =
      vals.map(pyRound(_, nDigits)).mkString("(", ", ", ")")
    doc.pages.zipWithIndex.foreach { case (p, i) =>
      sb.append(s"\n# Page ${i + 1}\n")
      sb.append(s"Size: ${tup(Seq(p.width, p.height))}\n")
      sb.append(s"Rotation: ${p.rotation}\n")
      val bb = p.bbox
      sb.append(s"Bounding Box: ${tup(Seq(bb.left, bb.bottom, bb.right, bb.top))}\n")
      Seq("Media" -> "MediaBox", "Crop" -> "CropBox", "Bleed" -> "BleedBox",
        "Trim" -> "TrimBox", "Art" -> "ArtBox").foreach { case (_, key) =>
        p.boxExplicit(key).foreach { r =>
          sb.append(s"$key: ${tup(Seq(r.left, r.bottom, r.right, r.top))}\n")
        }
      }
    }
    sb.toString
  }

  /** CPython str-repr for simple text (pageobjects report prints
    * repr(obj.extract())). */
  def pyStrRepr(s: String): String = {
    val sb = new StringBuilder("'")
    s.foreach { c =>
      if (c == '\\') sb.append("\\\\")
      else if (c == '\'') sb.append("\\'")
      else if (c == '\t') sb.append("\\t")
      else if (c == '\n') sb.append("\\n")
      else if (c == '\r') sb.append("\\r")
      else sb.append(c)
    }
    sb.append('\'').toString
  }

  /** Byte-identical `attachments list` CLI report (golden
    * attachments_list.txt) — PDFium's load-time unsupported-feature warning
    * leads the capture. */
  def attachmentsListReport(doc: PdfDocument): String = {
    val warn = if (doc.attachments.nonEmpty)
      "Unsupported PDF feature: Attachment (incomplete support)\n" else ""
    warn + doc.attachments.zipWithIndex.map { case (a, i) => s"[${i + 1}] ${a.name}\n" }.mkString
  }

  /** Byte-identical `pageobjects` CLI report (reference
    * src/pypdfium2_cli/pageobjects.py; golden pageobjects_images.txt). */
  def pageObjectsReport(doc: PdfDocument, maxDepth: Int = 2, nDigits: Int = 4): String = {
    val sb = new StringBuilder
    var total = 0
    def tup(vals: Seq[Double]): String = vals.map(pyRound(_, nDigits)).mkString("(", ", ", ")")
    doc.pages.zipWithIndex.foreach { case (p, i) =>
      val objs = p.objects(maxDepth = maxDepth)
      if (objs.nonEmpty) {
        sb.append(s"# Page ${i + 1}\n")
        objs.foreach { o =>
          val pad0 = "    " * o.level
          val pad1 = pad0 + "    "
          sb.append(pad0 + o.objType + "\n")
          val b = o.bounds
          sb.append(pad1 + s"Bounding Box: ${tup(Seq(b.left, b.bottom, b.right, b.top))}\n")
          if (o.objType == "image" || o.objType == "text") {
            val quads = quadPoints(b).map { case (x, y) => tup(Seq(x, y)) }.mkString("[", ", ", "]")
            sb.append(pad1 + s"Quad Points: $quads\n")
          }
          if (o.objType == "image") {
            val filters = o.imgFilters.map(pyStrRepr).mkString("[", ", ", "]")
            sb.append(pad1 + s"Filters: $filters\n")
            sb.append(pad1 + s"width: ${o.imgWidth}\n")
            sb.append(pad1 + s"height: ${o.imgHeight}\n")
            val hdpi = if (b.width > 0) o.imgWidth * 72.0 / b.width else 0.0
            val vdpi = if (b.height > 0) o.imgHeight * 72.0 / b.height else 0.0
            sb.append(pad1 + s"horizontal_dpi: ${pyRound(hdpi, nDigits)}\n")
            sb.append(pad1 + s"vertical_dpi: ${pyRound(vdpi, nDigits)}\n")
            sb.append(pad1 + s"bits_per_pixel: ${o.imgBpc}\n")
            sb.append(pad1 + s"colorspace: ${o.imgColorspace}\n")
            if (o.mcid != -1) sb.append(pad1 + s"marked_content_id: ${o.mcid}\n")
          } else if (o.objType == "text") {
            sb.append(pad1 + pyStrRepr(o.text) + "\n")
          }
          total += 1
        }
        sb.append(s"-> Count: ${objs.length}\n\n")
      }
    }
    if (total > 0) sb.append(s"-> Total count: $total\n")
    sb.toString
  }

  /** Quad points of a rect: 4 (x,y) corners CCW from bottom-left
    * (reference pageobjects.py:108-129). */
  def quadPoints(r: Rect): Vector[(Double, Double)] =
    Vector((r.left, r.bottom), (r.right, r.bottom), (r.right, r.top), (r.left, r.top))

  /** Fonts used on a page: distinct by (baseName, embedded, weight), with
    * the text-object count (reference fonts.py report groups fonts by
    * identity across pages). */
  def pageFonts(page: PdfPage): Vector[(String, String, Boolean, Int)] = {
    val tp = page.textPage
    tp.textObjects
      .map(o => (o.font.baseNameNoSubset, o.font.familyName, o.font.isEmbedded, o.font.weight))
      .distinct
      .map { case (bn, fam, emb, w) => (bn, fam, emb, w) }
  }
  /** Conformance / accessibility triage per document — the routing facts a
    * corpus pipeline reads before deciding whether a PDF is archival-grade
    * (PDF/A via XMP pdfaid), screen-reader-usable (Tagged PDF via
    * MarkInfo/Marked, §14.7), language-labeled (catalog /Lang, §14.9.2),
    * and color-managed (OutputIntents, §14.11.5). Returns
    * (pdfa_part, pdfa_conformance, tagged, lang, n_output_intents);
    * absent facts are empty/false/0, never errors. */
  def conformance(doc: PdfDocument): (String, String, Boolean, String, Int) = {
    val props = Xmp.fromDocument(doc).toMap
    val part = props.getOrElse("pdfaid:part", "")
    val conf = props.getOrElse("pdfaid:conformance", "")
    val cat = doc.catalog
    val tagged = doc.get(cat, "MarkInfo") match {
      case d: PdfDict => doc.get(d, "Marked") == PdfBool(true)
      case _ => false
    }
    val lang = doc.get(cat, "Lang") match {
      case s: PdfString => s.asText
      case _ => ""
    }
    val nOI = doc.get(cat, "OutputIntents") match {
      case PdfArray(items) => items.length
      case _ => 0
    }
    (part, conf, tagged, lang, nOI)
  }
}

/** Device↔page coordinate transforms (reference page.py device coords,
  * tested by tests/test_page.py:64-80 round trip). Device space: origin
  * top-left, y down, within a (width, height) viewport after rotation. */
object PageCoords {

  /** Page (PDF canvas) point → device pixel point. */
  def pageToDevice(page: PdfPage, deviceW: Double, deviceH: Double,
                   x: Double, y: Double): (Double, Double) = {
    val b = page.bbox
    val rot = page.rotation
    // normalize into [0,1]² of the unrotated page
    val nx = (x - b.left) / b.width
    val ny = (y - b.bottom) / b.height
    rot match {
      case 0 => (nx * deviceW, (1 - ny) * deviceH)
      case 90 => (ny * deviceW, nx * deviceH)
      case 180 => ((1 - nx) * deviceW, ny * deviceH)
      case _ => ((1 - ny) * deviceW, (1 - nx) * deviceH) // 270
    }
  }

  def deviceToPage(page: PdfPage, deviceW: Double, deviceH: Double,
                   dx: Double, dy: Double): (Double, Double) = {
    val b = page.bbox
    val rot = page.rotation
    val (nx, ny) = rot match {
      case 0 => (dx / deviceW, 1 - dy / deviceH)
      case 90 => (dy / deviceH, dx / deviceW)
      case 180 => (1 - dx / deviceW, dy / deviceH)
      case _ => (1 - dy / deviceH, 1 - dx / deviceW) // 270
    }
    (b.left + nx * b.width, b.bottom + ny * b.height)
  }
}

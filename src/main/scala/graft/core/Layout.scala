package graft.core

/** Layout analysis over TextPage geometry — the "layout parse / DOM
  * heuristics" leg of the extraction pipeline for UNTAGGED PDFs (the
  * structure-tree reading order in [[StructTree]] covers tagged ones):
  * line assembly from the PDFium-order rect runs, vertical-gap paragraph
  * block segmentation, and x-projection column detection with
  * column-major reading order.
  *
  * The reference exposes the geometry primitives (textpage.py
  * get_rectboxes/get_text_bounded); block/column assembly is the standard
  * downstream composition of them (what a Common-Crawl PDF corpus needs
  * before paragraph-level dedup or chunking). All thresholds are ratios
  * of the measured leading, not absolute points, so the segmentation is
  * scale-invariant. */
object Layout {

  final case class Line(rect: Rect, text: String)
  final case class Block(rect: Rect, lines: Vector[Line]) {
    def text: String = lines.map(_.text).mkString(" ")
  }

  /** Lines = the TextPage rect runs (FPDFText_CountRects segmentation)
    * with each run's bounded text, newline artifacts collapsed. */
  def lines(tp: TextPage): Vector[Line] =
    tp.rects().map { r =>
      val t = tp.textBounded(Some(r.left - 0.5), Some(r.bottom - 0.5),
        Some(r.right + 0.5), Some(r.top + 0.5))
      Line(r, t.replace("\r\n", " ").replace("\n", " ").trim)
    }

  /** Median positive top-to-top delta of consecutive lines = the page's
    * leading estimate (0 for single-line pages). */
  def leadingOf(ls: Vector[Line]): Double = {
    val sorted = ls.map(_.rect.top).sorted(Ordering[Double].reverse)
    val deltas = sorted.zip(sorted.drop(1)).map { case (a, b) => a - b }
      .filter(_ > 0.01).sorted
    if (deltas.isEmpty) 0.0 else deltas(deltas.length / 2)
  }

  /** Paragraph blocks: lines in top-down order start a new block when the
    * top-to-top jump exceeds `ratio` × the median leading (the classic
    * XY-cut vertical rule). Single-leading pages come back as one block. */
  def blocks(tp: TextPage, ratio: Double = 1.8): Vector[Block] =
    blocksOf(lines(tp), ratio)

  def blocksOf(ls0: Vector[Line], ratio: Double = 1.8): Vector[Block] = {
    val ls = ls0.sortBy(l => (-l.rect.top, l.rect.left))
    if (ls.isEmpty) return Vector.empty
    val leading = leadingOf(ls)
    val out = Vector.newBuilder[Block]
    var cur = Vector(ls.head)
    for (l <- ls.tail) {
      val jump = cur.last.rect.top - l.rect.top
      if (leading > 0 && jump > ratio * leading) {
        out += Block(cur.map(_.rect).reduce(_ union _), cur)
        cur = Vector(l)
      } else cur = cur :+ l
    }
    out += Block(cur.map(_.rect).reduce(_ union _), cur)
    out.result()
  }

  /** Columns by x-projection: sort lines by left edge and merge
    * overlapping [left, right] intervals; each merged interval is one
    * column, ordered left-to-right, its lines top-down. */
  def columns(tp: TextPage): Vector[Vector[Line]] = columnsOf(lines(tp))

  def columnsOf(ls: Vector[Line]): Vector[Vector[Line]] = {
    if (ls.isEmpty) return Vector.empty
    val sorted = ls.sortBy(_.rect.left)
    var intervals = Vector.empty[(Double, Double)]
    for (l <- sorted) {
      intervals.lastOption match {
        case Some((a, b)) if l.rect.left <= b + 0.5 =>
          intervals = intervals.init :+ ((a, math.max(b, l.rect.right)))
        case _ => intervals = intervals :+ ((l.rect.left, l.rect.right))
      }
    }
    intervals.map { case (a, b) =>
      sorted.filter(l => l.rect.left >= a - 0.25 && l.rect.left <= b)
        .sortBy(l => (-l.rect.top, l.rect.left))
    }
  }

  /** Column-major reading order: (n_columns, text with lines joined by
    * `lineSep` inside a column and columns joined by `colSep`). */
  def readingOrder(tp: TextPage, lineSep: String = "\n",
                   colSep: String = "\n\n"): (Int, String) = {
    val cols = columns(tp)
    (cols.length, cols.map(_.map(_.text).mkString(lineSep)).mkString(colSep))
  }

  final case class Heading(level: Int, fontSize: Double, text: String, top: Double)

  /** Font-size heading inference for untagged PDFs — the outline signal
    * document chunking wants when no structure tree exists: the BODY size
    * is the char-weighted modal font size (rounded to 0.1 pt to absorb
    * float noise); any text object more than 0.5 pt larger is a heading,
    * its level the rank of its size among heading sizes (largest = 1),
    * emitted in top-down page order. */
  def headings(page: PdfPage): Vector[Heading] = {
    val texts = page.objects(Set("text")).filter(_.text.nonEmpty)
    if (texts.isEmpty) return Vector.empty
    val body = texts.groupBy(t => math.round(t.fontSize * 10))
      .view.mapValues(_.map(_.text.length).sum).toVector
      .sortBy { case (sz, w) => (-w, sz) }.head._1 / 10.0
    val hs = texts.filter(_.fontSize > body + 0.5)
    val sizes = hs.map(h => math.round(h.fontSize * 10)).distinct
      .sorted(Ordering[Long].reverse)
    hs.sortBy(h => (-h.bounds.top, h.bounds.left)).map { h =>
      Heading(sizes.indexOf(math.round(h.fontSize * 10)) + 1,
        h.fontSize, h.text, h.bounds.top)
    }
  }

  final case class Section(idx: Int, title: String, level: Int,
                           lines: Vector[Line]) {
    def text: String = lines.map(_.text).mkString(" ")
  }

  /** Heading-based section chunking — the untagged-PDF sibling of
    * TOC-based chunking (and the section-aware splitter a training
    * pipeline feeds to context-bounded models): each heading owns the
    * lines strictly below it until the next heading; lines above the
    * first heading (or the whole page when no headings exist) form an
    * untitled level-0 preamble section. Heading-owned lines never appear
    * as body. */
  def sections(page: PdfPage): Vector[Section] = {
    val hs = headings(page) // already top-down
    val ls = lines(page.textPage)
      .filterNot(l => hs.exists(h => math.abs(h.top - l.rect.top) < 0.5))
      .sortBy(l => (-l.rect.top, l.rect.left))
    if (hs.isEmpty)
      return if (ls.isEmpty) Vector.empty else Vector(Section(0, "", 0, ls))
    val bounds = hs.map(_.top)
    val pre = ls.filter(_.rect.top > bounds.head)
    val titled = hs.zipWithIndex.map { case (h, i) =>
      val lo = if (i + 1 < bounds.length) bounds(i + 1) else Double.NegativeInfinity
      Section(0, h.text, h.level, ls.filter(l => l.rect.top < h.top && l.rect.top > lo))
    }
    val all = (if (pre.nonEmpty) Vector(Section(0, "", 0, pre)) else Vector.empty) ++ titled
    all.zipWithIndex.map { case (s, i) => s.copy(idx = i) }
  }

  /** Page → Markdown — the composite training-data export over this
    * module's own primitives (the docling/marker-style output shape):
    * headings render as `#`-prefixed lines by level, ruled tables as
    * GitHub pipe tables (first row = header, `---` separator), and the
    * remaining lines as paragraph blocks; elements interleave in
    * top-down page order. Heading-owned lines (top within 0.5 pt of a
    * heading) and table-owned lines (center inside the grid bbox) are
    * excluded from the paragraph stream so nothing renders twice. */
  def markdown(page: PdfPage): String = {
    val hs = headings(page)
    val cells = tables(page)
    val tableBox =
      if (cells.isEmpty) None
      else Some(cells.map(_.rect).reduce(_ union _))
    val ls = lines(page.textPage).filterNot { l =>
      hs.exists(h => math.abs(h.top - l.rect.top) < 0.5) ||
        tableBox.exists { tb =>
          val cx = (l.rect.left + l.rect.right) / 2
          val cy = (l.rect.bottom + l.rect.top) / 2
          cx >= tb.left && cx <= tb.right && cy >= tb.bottom && cy <= tb.top
        }
    }
    val els = Vector.newBuilder[(Double, String)]
    hs.foreach(h => els += ((h.top, "#" * h.level + " " + h.text)))
    tableBox.foreach { tb =>
      val nCols = cells.map(_.col).max + 1
      val rows = cells.groupBy(_.row).toVector.sortBy(_._1).map { case (_, cs) =>
        (0 until nCols).map(c => cs.find(_.col == c).map(_.text).getOrElse(""))
          .mkString("| ", " | ", " |")
      }
      val md = (rows.take(1) :+ Seq.fill(nCols)("---").mkString("| ", " | ", " |")) ++
        rows.drop(1)
      els += ((tb.top, md.mkString("\n")))
    }
    blocksOf(ls).foreach(b => els += ((b.rect.top, b.text)))
    els.result().sortBy(-_._1).map(_._2).mkString("\n\n")
  }

  final case class TableCell(row: Int, col: Int, rect: Rect, text: String)

  /** Deterministic 1-D position clustering: sorted values grouped while
    * consecutive gaps stay ≤ tol; each cluster is represented by its
    * minimum (deterministic, no averaging drift). */
  private def clusterPositions(vs: Vector[Double], tol: Double): Vector[Double] = {
    if (vs.isEmpty) return Vector.empty
    val s = vs.sorted
    val out = Vector.newBuilder[Double]
    var repr = s.head
    var prev = s.head
    for (v <- s.tail) {
      if (v - prev > tol) { out += repr; repr = v }
      prev = v
    }
    out += repr
    out.result()
  }

  final case class Word(line: Int, left: Double, right: Double, text: String)

  /** Word boxes in PDFium char order: words split on generated CRLF /
    * generated word-gaps / real space chars; geometry from tight charboxes.
    * The primitive under stream-mode table detection. */
  def wordsOf(tp: TextPage): Vector[Word] = {
    val out = Vector.newBuilder[Word]
    var line = 0
    val sb = new StringBuilder
    var l = 0.0; var r = 0.0; var has = false
    def flush(): Unit = {
      if (has && sb.nonEmpty) out += Word(line, l, r, sb.toString)
      sb.setLength(0); has = false
    }
    for (i <- 0 until tp.countChars) {
      val u = tp.unicodeAt(i)
      if (tp.isGenerated(i)) {
        flush()
        if (u == '\n') line += 1
      } else if (!tp.isExcluded(i)) {
        if (u == ' ') flush()
        else {
          tp.tight(i).foreach { bx =>
            if (!has) { l = bx.left; has = true }
            r = bx.right
          }
          sb.append(u)
        }
      }
    }
    flush()
    out.result()
  }

  /** Stream-mode (whitespace-aligned) table extraction — the Camelot-stream
    * shape, completing the ruled-lattice [[tables]]: columns are word-LEFT
    * positions shared (within `tol`) by ≥ `minRows` multi-word lines; rows
    * are the lines hitting ≥ 2 kept columns; a word assigns to the last
    * column at-or-left of it. Returns empty when no aligned grid exists
    * (prose pages share only the left margin — one column never fires),
    * so the operator is corpus-safe. */
  def streamTable(page: PdfPage, tol: Double = 3.0, minRows: Int = 3): Vector[TableCell] = {
    val ws = wordsOf(page.textPage)
    val byLine = ws.groupBy(_.line).filter(_._2.size >= 2)
    if (byLine.size < minRows) return Vector.empty
    val cols0 = clusterPositions(byLine.values.flatten.map(_.left).toVector, tol)
    val keep = cols0.filter(c =>
      byLine.count(_._2.exists(w => math.abs(w.left - c) <= tol)) >= minRows)
    if (keep.length < 2) return Vector.empty
    def colOf(w: Word): Int = {
      val i = keep.lastIndexWhere(c => c <= w.left + tol)
      i
    }
    val rowLines = byLine.toVector.sortBy(_._1).map(_._2)
      .filter(lws => lws.map(colOf).filter(_ >= 0).distinct.size >= 2)
    rowLines.zipWithIndex.flatMap { case (lws, ri) =>
      lws.groupBy(colOf).collect { case (ci, cws) if ci >= 0 =>
        TableCell(ri, ci, Rect(cws.map(_.left).min, 0, cws.map(_.right).max, 0),
          cws.sortBy(_.left).map(_.text).mkString(" "))
      }.toVector.sortBy(_.col)
    }
  }

  /** Lattice (ruled) table extraction — the Camelot-lattice shape over
    * this engine's own primitives: horizontal rulings are painted path
    * objects flatter than `tol`, vertical rulings narrower than `tol`;
    * clustered ruling positions form the grid (m h-rulings × n v-rulings
    * → (m−1)×(n−1) cells, requiring ≥ 2 of each), and text assigns to
    * cells by tight-charbox-center containment in PDFium char order.
    *
    * Scope: one grid per page (the fixture family's shape); multi-table
    * pages would first split rulings into connected components — noted,
    * not implemented. Returns empty when no grid is present, so the
    * operator is safe to run across an arbitrary corpus. */
  def tables(page: PdfPage, tol: Double = 2.0): Vector[TableCell] = {
    val paths = page.objects(Set("path"))
    val hys = clusterPositions(paths.collect {
      case p if p.bounds.height <= tol && p.bounds.width > tol =>
        (p.bounds.top + p.bounds.bottom) / 2
    }, tol)
    val vxs = clusterPositions(paths.collect {
      case p if p.bounds.width <= tol && p.bounds.height > tol =>
        (p.bounds.left + p.bounds.right) / 2
    }, tol)
    if (hys.length < 2 || vxs.length < 2) return Vector.empty
    val rowsB = hys.sorted(Ordering[Double].reverse) // top -> bottom
    val colsB = vxs.sorted                           // left -> right
    val cells = Array.fill(rowsB.length - 1, colsB.length - 1)(new StringBuilder)
    // Last appended charbox per cell: a new run on a different baseline, or
    // one that leaves a gap wider than half a char, gets a space separator —
    // otherwise two runs placed in one cell would concatenate ("foobar").
    val lastBox = Array.fill[Rect](rowsB.length - 1, colsB.length - 1)(null)
    val tp = page.textPage
    for (i <- 0 until tp.countChars if !tp.isExcluded(i) && !tp.isGenerated(i)) tp.tight(i).foreach { b =>
      val u = tp.unicodeAt(i)
      val cx = (b.left + b.right) / 2
      val cy = (b.bottom + b.top) / 2
      val ri = rowsB.indexWhere(y => cy >= y) - 1  // first boundary below center
      val ci = colsB.lastIndexWhere(x => cx >= x)
      if (ri >= 0 && ri < cells.length && ci >= 0 && ci < cells(0).length &&
          cx <= colsB.last && cy >= rowsB.last) {
        val sb = cells(ri)(ci)
        val prev = lastBox(ri)(ci)
        if (prev != null && sb.nonEmpty && !sb.last.isWhitespace && !u.isWhitespace) {
          val newLine = b.bottom > prev.top || b.top < prev.bottom
          val gap = b.left - prev.right
          if (newLine || gap > math.max(tol, (b.right - b.left) * 0.5))
            sb.append(' ')
        }
        sb.append(u)
        lastBox(ri)(ci) = b
      }
    }
    (for {
      ri <- cells.indices
      ci <- cells(ri).indices
    } yield TableCell(ri, ci,
      Rect(colsB(ci), rowsB(ri + 1), colsB(ci + 1), rowsB(ri)),
      cells(ri)(ci).toString.trim)).toVector
  }
}

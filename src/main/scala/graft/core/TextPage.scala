package graft.core

import scala.collection.mutable

/** Assembled text page — the FPDFText_* surface (reference
  * src/pypdfium2/_helpers/textpage.py). Chars are emitted in PDFium order:
  * content order grouped into baseline lines (sorted by x within a line),
  * CRLF generated at line breaks (textpage.py:23-26), word spaces generated
  * on large kern/position gaps, zero-width text objects dropped (this is
  * what excludes justified-line trailing-space show ops — golden
  * tests/expectations/text_extract.txt, 438 chars on text.pdf page 1).
  *
  * The char list is one flat store, like PDFium's CPDF_TextPage::CharInfo
  * vector: per char its unicode, its flags, the glyph of the page's
  * [[GlyphStore]] it stands for (its origin, and its boxes unless it is
  * boxless; -1 reads as origin (0, 0)), and its owning text object (-1:
  * none). `generated` marks inserted chars (CRLF line breaks, synthesized
  * word spaces, which are boxless and take a neighbouring glyph's origin)
  * and the later pieces of a multi-char ToUnicode mapping (ligatures),
  * which share one glyph's boxes like PDFium's CharType::kPiece. Excluded
  * chars are in the char list but not the text view (PDFium unicode-0
  * chars; textpage.py:88-146). Tight boxes are computed for the whole page
  * on the first read that needs them.
  */
final class TextPage private (
    glyphs: GlyphStore,
    val textObjects: Vector[TextObject],
    val pageBBox: Rect,
    n: Int,
    unis: Array[Char],
    flags: Array[Byte],
    glyphOf: Array[Int],
    objOf: Array[Int]) {
  import TextPage.{Boxless, Excluded, Generated}

  def countChars: Int = n
  def unicodeAt(index: Int): Char = unis(index)
  def isGenerated(index: Int): Boolean = (flags(index) & Generated) != 0
  def isExcluded(index: Int): Boolean = (flags(index) & Excluded) != 0
  /** Glyph-outline box; None for boxless chars and glyphs without an outline. */
  def tight(index: Int): Option[Rect] = {
    val at = tightAt(index)
    if (at < 0) None else Some(Rect(tights(at), tights(at + 1), tights(at + 2), tights(at + 3)))
  }
  /** Origin..advance × descent..ascent box; None for boxless chars. */
  def loose(index: Int): Option[Rect] =
    if ((flags(index) & Boxless) != 0) None else Some(textObjects(objOf(index)).loose(glyphOf(index)))

  private def ox(index: Int): Double = { val g = glyphOf(index); if (g >= 0) glyphs.ox(g) else 0.0 }
  private def oy(index: Int): Double = { val g = glyphOf(index); if (g >= 0) glyphs.oy(g) else 0.0 }

  /** Every glyph's tight box as (left, bottom, right, top) quadruples, NaN
    * where it has none. */
  private lazy val tights: Array[Double] = {
    val q = new Array[Double](4 * glyphs.length)
    textObjects.foreach { o =>
      var g = o.start
      while (g < o.end) { if (!o.tightInto(g, q, 4 * g)) q(4 * g) = Double.NaN; g += 1 }
    }
    q
  }

  /** Offset of char `index`'s tight box in [[tights]], or -1 when it has none. */
  private def tightAt(index: Int): Int =
    if ((flags(index) & Boxless) != 0) -1
    else {
      val at = 4 * glyphOf(index)
      if (tights(at).isNaN) -1 else at
    }

  /** The text view: char list minus excluded chars (PDFium m_TextBuf). */
  lazy val text: String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { if (!isExcluded(i)) sb.append(unis(i)); i += 1 }
    sb.toString
  }

  /** FPDFText_GetTextIndexFromCharIndex analog: -1 for excluded chars. */
  lazy val textIndexFromCharIndex: Array[Int] = {
    val out = new Array[Int](n)
    var t = 0
    var i = 0
    while (i < n) {
      if (isExcluded(i)) out(i) = -1 else { out(i) = t; t += 1 }
      i += 1
    }
    out
  }

  /** FPDFText_GetCharIndexFromTextIndex analog. */
  def charIndexFromTextIndex(t: Int): Int = {
    var i = 0
    var seen = 0
    while (i < n) {
      if (!isExcluded(i)) {
        if (seen == t) return i
        seen += 1
      }
      i += 1
    }
    -1
  }

  /** get_text_range (textpage.py:88-146). count = -1 → to end. The range is
    * in CHAR indices; excluded chars can make it diverge from the text view,
    * so the range is narrowed to its active (non-excluded) core and mapped
    * to text indices — the reference's _get_active_text_range. */
  def textRange(index: Int = 0, count: Int = -1): Either[PdfError, String] = {
    if (n == 0 && index == 0) return Right("")
    if (index < 0 || index >= n)
      return Left(PdfError(ErrCodes.Unknown, "Character index out of bounds."))
    val len = if (count == -1) n - index else count
    if (len < 0 || index + len > n)
      return Left(PdfError(ErrCodes.Unknown, "Character range out of bounds."))
    // narrow to the active range (leading/trailing excluded chars dropped)
    var cStart = index
    var cEnd = index + len - 1
    while (cStart <= cEnd && isExcluded(cStart)) cStart += 1
    while (cEnd >= cStart && isExcluded(cEnd)) cEnd -= 1
    if (cStart > cEnd) return Right("")
    val tStart = textIndexFromCharIndex(cStart)
    val tEnd = textIndexFromCharIndex(cEnd)
    Right(text.substring(tStart, tEnd + 1))
  }

  /** get_charbox (textpage.py:196-221): tight or loose per-char box; a char
    * without one reads as the point at its origin. */
  def charBox(index: Int, loose: Boolean = false): Either[PdfError, Rect] = {
    if (index < 0 || index >= n)
      return Left(PdfError(ErrCodes.Unknown, "Failed to get charbox."))
    Right((if (loose) this.loose(index) else tight(index))
      .getOrElse(Rect(ox(index), oy(index), ox(index), oy(index))))
  }

  /** Rect list over a char range: consecutive non-generated chars merge into
    * one rect; generated chars split (FPDFText_CountRects/GetRect analog). */
  def rects(start: Int = 0, count: Int = -1): Vector[Rect] = {
    val len = if (count == -1) n - start else count
    val out = Vector.newBuilder[Rect]
    val q = tights
    var has = false
    var l, b, r, t = 0.0
    var i = math.max(0, start)
    val end = math.min(n, start + len)
    while (i < end) {
      val u = unis(i)
      if (isGenerated(i) && (u == '\r' || u == '\n')) {
        if (has) out += Rect(l, b, r, t)
        has = false
      } else {
        val at = tightAt(i)
        if (at >= 0 && (q(at + 2) - q(at) > 0 || q(at + 3) - q(at + 1) > 0)) {
          if (has) {
            l = math.min(l, q(at)); b = math.min(b, q(at + 1))
            r = math.max(r, q(at + 2)); t = math.max(t, q(at + 3))
          } else {
            l = q(at); b = q(at + 1); r = q(at + 2); t = q(at + 3)
            has = true
          }
        }
      }
      i += 1
    }
    if (has) out += Rect(l, b, r, t)
    out.result()
  }

  def countRects(start: Int = 0, count: Int = -1): Int = rects(start, count).length

  /** get_text_bounded (textpage.py:52-85): chars whose boxes intersect the
    * rect, with PDFium's GetTextByPredicate line/space reconstruction. */
  def textBounded(left: Option[Double] = None, bottom: Option[Double] = None,
                  right: Option[Double] = None, top: Option[Double] = None): String = {
    val rl = left.getOrElse(pageBBox.left); val rb = bottom.getOrElse(pageBBox.bottom)
    val rr = right.getOrElse(pageBBox.right); val rt = top.getOrElse(pageBBox.top)
    val q = tights
    val sb = new StringBuilder
    var containPre = false
    var addLineFeed = false
    var posy = 0.0
    var i = 0
    while (i < n) {
      val u = unis(i)
      val excluded = isExcluded(i)
      val at = if (excluded) -1 else tightAt(i)
      // closed-interval overlap like PDFium's rect intersection on char
      // boxes (degenerate-height lines still match)
      val contain = at >= 0 && q(at) < rr && rl < q(at + 2) && q(at + 1) < rt && rb < q(at + 3)
      if (contain) {
        val oy = this.oy(i)
        if (math.abs(posy - oy) > 0 && !containPre && addLineFeed) {
          posy = oy
          if (sb.nonEmpty) { sb.append('\r'); sb.append('\n') }
        }
        containPre = true
        addLineFeed = false
        sb.append(u)
      } else if (u == ' ' && !excluded) {
        if (containPre) {
          sb.append(' ')
          containPre = false
          addLineFeed = false
        }
      } else {
        containPre = false
        addLineFeed = true
      }
      i += 1
    }
    sb.toString
  }

  /** get_index (textpage.py:174-193): char at/near point. */
  def indexAt(x: Double, y: Double, xTol: Double, yTol: Double): Option[Int] = {
    val q = tights
    var i = 0
    while (i < n) {
      val at = tightAt(i)
      if (at >= 0 && x >= q(at) && x <= q(at + 2) && y >= q(at + 1) && y <= q(at + 3)) return Some(i)
      i += 1
    }
    // tolerance pass: nearest box within tolerance
    var best = -1
    var bestDist = Double.MaxValue
    i = 0
    while (i < n) {
      val at = tightAt(i)
      if (at >= 0) {
        val bl = q(at); val bb = q(at + 1); val br = q(at + 2); val bt = q(at + 3)
        val dx = if (x < bl) bl - x else if (x > br) x - br else 0.0
        val dy = if (y < bb) bb - y else if (y > bt) y - bt else 0.0
        if (dx <= xTol && dy <= yTol) {
          val d = dx * dx + dy * dy
          if (d < bestDist) { bestDist = d; best = i }
        }
      }
      i += 1
    }
    if (best >= 0) Some(best) else None
  }

  /** search (textpage.py:255-334): all occurrences as (charIndex, length).
    * `index` is the char index to start searching from (the reference's
    * `search(text, index=0, …)` / FPDFText_FindStart start index); matches
    * beginning before it are not reported. */
  def search(needle: String, index: Int = 0, matchCase: Boolean = false,
             matchWholeWord: Boolean = false, consecutive: Boolean = false): Vector[(Int, Int)] = {
    require(needle.nonEmpty, "Text length must be greater than 0.")
    require(index >= 0, "Start index must not be negative.")
    val hay = if (matchCase) text else text.toLowerCase
    val pat = if (matchCase) needle else needle.toLowerCase
    val out = Vector.newBuilder[(Int, Int)]
    var from = index
    while (from <= hay.length - pat.length) {
      val at = hay.indexOf(pat, from)
      if (at < 0) from = hay.length + 1
      else {
        val okWord = !matchWholeWord || {
          val beforeOk = at == 0 || !Character.isLetterOrDigit(hay.charAt(at - 1))
          val afterOk = at + pat.length >= hay.length || !Character.isLetterOrDigit(hay.charAt(at + pat.length))
          beforeOk && afterOk
        }
        if (okWord) out += ((at, pat.length))
        from = if (consecutive) at + 1 else at + (if (okWord) pat.length else 1)
      }
    }
    out.result()
  }

  /** Owning text object of a char (None for generated chars) —
    * get_textobj analog (tests/test_textpage.py:159-191). */
  def textObjOf(index: Int): Option[TextObject] = {
    if (index < 0 || index >= n) None
    else {
      val oi = objOf(index)
      if (oi < 0) None else Some(textObjects(oi))
    }
  }

  /** The object's own extracted text (FPDFTextObj_GetText analog). */
  def objText(obj: TextObject): String = obj.text
}

object TextPage {

  /** Tuning constants for PDFium-order assembly. Derived empirically against
    * the reference goldens (tests/expectations/text_extract.txt, multipage
    * round-trips); see docs in the repo README for the validation story. */
  private val SizeEpsilon = 1e-4           // zero-width text-object skip
  private val LineBreakFrac = 0.5          // |Δbaseline| > frac·fontsize → new line
  private val SpaceGapFrac = 0.25          // gap > fontsize/4 → generated space

  private val Generated = 1
  private val Excluded = 2
  private val Boxless = 4

  def build(page: PdfPage): TextPage = {
    val result = ContentInterpreter.run(page)
    assemble(result.glyphs, result.textObjects, page.bbox)
  }

  /** The growable char store [[assemble]] writes. */
  private final class Chars(capacity: Int) {
    var n = 0
    var unis = new Array[Char](capacity)
    var flags = new Array[Byte](capacity)
    var glyphOf = new Array[Int](capacity)
    var objOf = new Array[Int](capacity)

    def add(u: Char, flag: Int, glyph: Int, obj: Int): Unit = {
      if (n == unis.length) {
        val cap = 2 * n + 8
        unis = java.util.Arrays.copyOf(unis, cap)
        flags = java.util.Arrays.copyOf(flags, cap)
        glyphOf = java.util.Arrays.copyOf(glyphOf, cap)
        objOf = java.util.Arrays.copyOf(objOf, cap)
      }
      unis(n) = u; flags(n) = flag.toByte; glyphOf(n) = glyph; objOf(n) = obj
      n += 1
    }
  }

  def assemble(glyphs: GlyphStore, allObjs: Vector[TextObject], pageBBox: Rect): TextPage = {
    // 1. drop zero-width objects (PDFium CPDF_TextPage::ProcessTextObject's
    //    size-epsilon skip — drops space-only justified tails); an object
    //    without a tight box has a NaN width and is dropped too
    val objs = allObjs.zipWithIndex.filter { case (o, _) => math.abs(o.bboxWidth) > SizeEpsilon }

    // room for every glyph plus a CRLF at each object: only kern spaces
    // and ligature pieces can outgrow it
    val cs = new Chars(glyphs.length + 2 * allObjs.length + 8)

    // 2. group consecutive objects into baseline lines. Geometry is measured
    //    in the line's own frame (first object's baseline direction), so
    //    rotated text groups exactly like axis-aligned text; for horizontal
    //    text par==x and perp==y, preserving the PDFium-validated behavior.
    val lines = mutable.ArrayBuffer[mutable.ArrayBuffer[(TextObject, Int)]]()
    objs.foreach { case (o, idx) =>
      val startNew = lines.isEmpty || {
        val frame = lines.last.head._1
        val (p, _) = lines.last.last
        val sameDir = frame.dirX * o.dirX + frame.dirY * o.dirY > 0.9
        val tol = math.max(p.effFontSize, o.effFontSize) * LineBreakFrac
        val dPerp = frame.perp(o.startX, o.baselineY) - frame.perp(p.startX, p.baselineY)
        !sameDir || math.abs(dPerp) > math.max(tol, 0.1)
      }
      if (startNew) lines += mutable.ArrayBuffer((o, idx))
      else {
        // insertion-sort along the line direction (PDFium m_LineObj insertion)
        val frame = lines.last.head._1
        val line = lines.last
        val key = frame.par(o.startX, o.baselineY)
        var insertAt = line.length
        var k = line.length - 1
        while (k >= 0 && frame.par(line(k)._1.startX, line(k)._1.baselineY) > key) { insertAt = k; k -= 1 }
        line.insert(insertAt, (o, idx))
      }
    }

    // 3. emit chars line by line with generated spaces + CRLF breaks
    var lastEmitted: Char = 0
    lines.zipWithIndex.foreach { case (line, li) =>
      if (li > 0) {
        // generated CRLF at previous line end
        val at = if (cs.n > 0) cs.glyphOf(cs.n - 1) else -1
        cs.add('\r', Generated | Boxless, at, -1)
        cs.add('\n', Generated | Boxless, at, -1)
        lastEmitted = '\n'
      }
      val frame = line.head._1
      var prevEndX = Double.NaN
      line.foreach { case (o, objIdx) =>
        // inter-object gap → generated space (measured along the baseline)
        if (!prevEndX.isNaN) {
          val gap = frame.par(o.startX, o.baselineY) - prevEndX
          if (gap > o.effFontSize * SpaceGapFrac && lastEmitted != ' ' && lastEmitted != 0) {
            cs.add(' ', Generated | Boxless, o.start, -1)
            lastEmitted = ' '
          }
        }
        var g = o.start
        while (g < o.end) {
          // intra-object kern gap → generated space (PDFium: TJ kern > size/4)
          val kern = glyphs.kernBefore(g)
          if (kern > 0 && kern > o.effFontSize * SpaceGapFrac && lastEmitted != ' ' && lastEmitted != 0) {
            cs.add(' ', Generated | Boxless, g, -1)
            lastEmitted = ' '
          }
          val uni = glyphs.unicode(g)
          if (uni.isEmpty) {
            // unmappable: PDFium records the charcode when representable
            // (errors="ignore" semantics keep the output valid UTF-16,
            // textpage.py:85); otherwise the char stays in the CHAR LIST as
            // an excluded entry — present for counts/boxes, absent from the
            // text view (the char-vs-text dual index, textpage.py:88-146)
            val code = glyphs.code(g)
            if (code > 0 && code < 0xFFFF && (code < 0xD800 || code > 0xDFFF)) {
              cs.add(code.toChar, 0, g, objIdx)
              lastEmitted = code.toChar
            } else cs.add('\u0000', Excluded, g, objIdx)
          } else if (uni == " " && lastEmitted == ' ') {
            // collapse duplicate spaces (real space after generated space)
            ()
          } else {
            var k = 0
            while (k < uni.length) {
              cs.add(uni.charAt(k), if (k > 0) Generated else 0, g, objIdx)
              k += 1
            }
            lastEmitted = uni.charAt(uni.length - 1)
          }
          g += 1
        }
        val endX = frame.par(o.endX, o.endY)
        prevEndX = if (prevEndX.isNaN) endX else math.max(prevEndX, endX)
      }
    }

    new TextPage(glyphs, allObjs, pageBBox, cs.n, cs.unis, cs.flags, cs.glyphOf, cs.objOf)
  }
}

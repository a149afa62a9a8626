package graft.core

import scala.collection.mutable

/** One entry of the page's char array (PDFium CPDF_TextPage::CharInfo analog).
  * `generated` marks inserted chars (CRLF line breaks, synthesized word
  * spaces); pieces of a multi-char ToUnicode mapping (ligatures) share one
  * glyph's boxes, like PDFium's CharType::kPiece. */
final case class CharEntry(
    unicode: Char,
    generated: Boolean,
    tight: Option[Rect],
    loose: Option[Rect],
    ox: Double, oy: Double,
    fontSize: Double,
    objIdx: Int,
    excluded: Boolean = false) // in the char list but not the text view
                               // (PDFium unicode-0 chars; textpage.py:88-146)

/** Assembled text page — the FPDFText_* surface (reference
  * src/pypdfium2/_helpers/textpage.py). Chars are emitted in PDFium order:
  * content order grouped into baseline lines (sorted by x within a line),
  * CRLF generated at line breaks (textpage.py:23-26), word spaces generated
  * on large kern/position gaps, zero-width text objects dropped (this is
  * what excludes justified-line trailing-space show ops — golden
  * tests/expectations/text_extract.txt, 438 chars on text.pdf page 1).
  */
final class TextPage private (
    val chars: Vector[CharEntry],
    val textObjects: Vector[RawTextObject],
    val pageBBox: Rect) {

  /** The text view: char list minus excluded chars (PDFium m_TextBuf). */
  lazy val text: String = {
    val sb = new java.lang.StringBuilder(chars.length)
    chars.foreach(c => if (!c.excluded) sb.append(c.unicode))
    sb.toString
  }

  def countChars: Int = chars.length

  /** FPDFText_GetTextIndexFromCharIndex analog: -1 for excluded chars. */
  lazy val textIndexFromCharIndex: Array[Int] = {
    val out = new Array[Int](chars.length)
    var t = 0
    var i = 0
    while (i < chars.length) {
      if (chars(i).excluded) out(i) = -1 else { out(i) = t; t += 1 }
      i += 1
    }
    out
  }

  /** FPDFText_GetCharIndexFromTextIndex analog. */
  def charIndexFromTextIndex(t: Int): Int = {
    var i = 0
    var seen = 0
    while (i < chars.length) {
      if (!chars(i).excluded) {
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
    if (chars.isEmpty && index == 0) return Right("")
    if (index < 0 || index >= chars.length)
      return Left(PdfError(ErrCodes.Unknown, "Character index out of bounds."))
    val n = if (count == -1) chars.length - index else count
    if (n < 0 || index + n > chars.length)
      return Left(PdfError(ErrCodes.Unknown, "Character range out of bounds."))
    // narrow to the active range (leading/trailing excluded chars dropped)
    var cStart = index
    var cEnd = index + n - 1
    while (cStart <= cEnd && chars(cStart).excluded) cStart += 1
    while (cEnd >= cStart && chars(cEnd).excluded) cEnd -= 1
    if (cStart > cEnd) return Right("")
    val tStart = textIndexFromCharIndex(cStart)
    val tEnd = textIndexFromCharIndex(cEnd)
    Right(text.substring(tStart, tEnd + 1))
  }

  /** get_charbox (textpage.py:196-221): tight or loose per-char box. */
  def charBox(index: Int, loose: Boolean = false): Either[PdfError, Rect] = {
    if (index < 0 || index >= chars.length)
      return Left(PdfError(ErrCodes.Unknown, "Failed to get charbox."))
    val c = chars(index)
    val box =
      if (loose) c.loose.orElse(c.tight).getOrElse(Rect(c.ox, c.oy, c.ox, c.oy))
      else c.tight.getOrElse(Rect(c.ox, c.oy, c.ox, c.oy))
    Right(box)
  }

  /** Rect list over a char range: consecutive non-generated chars merge into
    * one rect; generated chars split (FPDFText_CountRects/GetRect analog). */
  def rects(start: Int = 0, count: Int = -1): Vector[Rect] = {
    val n = if (count == -1) chars.length - start else count
    val out = Vector.newBuilder[Rect]
    var cur: Option[Rect] = None
    var i = math.max(0, start)
    val end = math.min(chars.length, start + n)
    while (i < end) {
      val c = chars(i)
      if (c.generated && (c.unicode == '\r' || c.unicode == '\n')) {
        cur.foreach(out += _)
        cur = None
      } else c.tight match {
        case Some(b) if b.width > 0 || b.height > 0 =>
          cur = Some(cur.map(_.union(b)).getOrElse(b))
        case _ => ()
      }
      i += 1
    }
    cur.foreach(out += _)
    out.result()
  }

  def countRects(start: Int = 0, count: Int = -1): Int = rects(start, count).length

  /** get_text_bounded (textpage.py:52-85): chars whose boxes intersect the
    * rect, with PDFium's GetTextByPredicate line/space reconstruction. */
  def textBounded(left: Option[Double] = None, bottom: Option[Double] = None,
                  right: Option[Double] = None, top: Option[Double] = None): String = {
    val rect = Rect(
      left.getOrElse(pageBBox.left), bottom.getOrElse(pageBBox.bottom),
      right.getOrElse(pageBBox.right), top.getOrElse(pageBBox.top))
    val sb = new StringBuilder
    var containPre = false
    var addLineFeed = false
    var posy = 0.0
    chars.foreach { c =>
      val contain = !c.excluded && c.tight.exists(b => intersectsLoose(b, rect))
      if (contain) {
        if (math.abs(posy - c.oy) > 0 && !containPre && addLineFeed) {
          posy = c.oy
          if (sb.nonEmpty) { sb.append('\r'); sb.append('\n') }
        }
        containPre = true
        addLineFeed = false
        sb.append(c.unicode)
      } else if (c.unicode == ' ' && !c.excluded) {
        if (containPre) {
          sb.append(' ')
          containPre = false
          addLineFeed = false
        }
      } else {
        containPre = false
        addLineFeed = true
      }
    }
    sb.toString
  }

  /** Closed-interval overlap like PDFium's rect intersection on char boxes
    * (degenerate-height lines still match). */
  private def intersectsLoose(a: Rect, b: Rect): Boolean =
    a.left < b.right && b.left < a.right && a.bottom < b.top && b.bottom < a.top

  /** get_index (textpage.py:174-193): char at/near point. */
  def indexAt(x: Double, y: Double, xTol: Double, yTol: Double): Option[Int] = {
    var i = 0
    while (i < chars.length) {
      chars(i).tight match {
        case Some(b) if b.contains(x, y) => return Some(i)
        case _ => ()
      }
      i += 1
    }
    // tolerance pass: nearest box within tolerance
    var best = -1
    var bestDist = Double.MaxValue
    i = 0
    while (i < chars.length) {
      chars(i).tight match {
        case Some(b) =>
          val dx = if (x < b.left) b.left - x else if (x > b.right) x - b.right else 0.0
          val dy = if (y < b.bottom) b.bottom - y else if (y > b.top) y - b.top else 0.0
          if (dx <= xTol && dy <= yTol) {
            val d = dx * dx + dy * dy
            if (d < bestDist) { bestDist = d; best = i }
          }
        case _ => ()
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
  def textObjOf(index: Int): Option[RawTextObject] = {
    if (index < 0 || index >= chars.length) None
    else {
      val oi = chars(index).objIdx
      if (oi < 0) None else Some(textObjects(oi))
    }
  }

  /** The object's own extracted text (FPDFTextObj_GetText analog). */
  def objText(obj: RawTextObject): String = obj.chars.map(_.unicode).mkString
}

object TextPage {

  /** Tuning constants for PDFium-order assembly. Derived empirically against
    * the reference goldens (tests/expectations/text_extract.txt, multipage
    * round-trips); see docs in the repo README for the validation story. */
  private val SizeEpsilon = 1e-4           // zero-width text-object skip
  private val LineBreakFrac = 0.5          // |Δbaseline| > frac·fontsize → new line
  private val SpaceGapFrac = 0.25          // gap > fontsize/4 → generated space

  def build(page: PdfPage): TextPage = {
    val result = ContentInterpreter.run(page)
    assemble(result.textObjects, page.bbox)
  }

  def assemble(allObjs: Vector[RawTextObject], pageBBox: Rect): TextPage = {
    // 1. drop zero-width objects (PDFium CPDF_TextPage::ProcessTextObject's
    //    size-epsilon skip — drops space-only justified tails)
    val objs = allObjs.zipWithIndex.filter { case (o, _) =>
      o.bbox.exists(b => math.abs(b.width) > SizeEpsilon)
    }

    val entries = new mutable.ArrayBuffer[CharEntry](256)

    // 2. group consecutive objects into baseline lines. Geometry is measured
    //    in the line's own frame (first object's baseline direction), so
    //    rotated text groups exactly like axis-aligned text; for horizontal
    //    text par==x and perp==y, preserving the PDFium-validated behavior.
    val lines = mutable.ArrayBuffer[mutable.ArrayBuffer[(RawTextObject, Int)]]()
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
        val prev = entries.lastOption
        val (px, py) = prev.map(e => (e.ox, e.oy)).getOrElse((0.0, 0.0))
        entries += CharEntry('\r', generated = true, None, None, px, py, 0, -1)
        entries += CharEntry('\n', generated = true, None, None, px, py, 0, -1)
        lastEmitted = '\n'
      }
      val frame = line.head._1
      var prevEndX = Double.NaN
      line.foreach { case (o, objIdx) =>
        // inter-object gap → generated space (measured along the baseline)
        if (!prevEndX.isNaN) {
          val gap = frame.par(o.startX, o.baselineY) - prevEndX
          if (gap > o.effFontSize * SpaceGapFrac && lastEmitted != ' ' && lastEmitted != 0) {
            val oc = o.chars.head
            entries += CharEntry(' ', generated = true, None, None, oc.ox, oc.oy, o.fontSize, -1)
            lastEmitted = ' '
          }
        }
        var ci = 0
        o.chars.foreach { rc =>
          // intra-object kern gap → generated space (PDFium: TJ kern > size/4)
          o.kernsBefore.get(ci) match {
            case Some(gap) if gap > o.effFontSize * SpaceGapFrac && lastEmitted != ' ' && lastEmitted != 0 =>
              entries += CharEntry(' ', generated = true, None, None, rc.ox, rc.oy, rc.fontSize, -1)
              lastEmitted = ' '
            case _ => ()
          }
          val uni = rc.unicode
          if (uni.isEmpty) {
            // unmappable: PDFium records the charcode when representable
            // (errors="ignore" semantics keep the output valid UTF-16,
            // textpage.py:85); otherwise the char stays in the CHAR LIST as
            // an excluded entry — present for counts/boxes, absent from the
            // text view (the char-vs-text dual index, textpage.py:88-146)
            if (rc.code > 0 && rc.code < 0xFFFF && (rc.code < 0xD800 || rc.code > 0xDFFF)) {
              entries += CharEntry(rc.code.toChar, generated = false, rc.tight, Some(rc.loose),
                rc.ox, rc.oy, rc.fontSize, objIdx)
              lastEmitted = rc.code.toChar
            } else {
              entries += CharEntry('\u0000', generated = false, rc.tight, Some(rc.loose),
                rc.ox, rc.oy, rc.fontSize, objIdx, excluded = true)
            }
          } else if (uni == " " && lastEmitted == ' ') {
            // collapse duplicate spaces (real space after generated space)
            ()
          } else {
            var k = 0
            while (k < uni.length) {
              entries += CharEntry(uni.charAt(k), generated = k > 0, rc.tight, Some(rc.loose),
                rc.ox, rc.oy, rc.fontSize, objIdx)
              k += 1
            }
            lastEmitted = uni.charAt(uni.length - 1)
          }
          ci += 1
        }
        val endX = o.chars.lastOption.map(c => frame.par(c.ex, c.ey))
          .getOrElse(frame.par(o.startX, o.baselineY))
        prevEndX = if (prevEndX.isNaN) endX else math.max(prevEndX, endX)
      }
    }

    new TextPage(entries.toVector, allObjs, pageBBox)
  }
}

package graft.core

import scala.collection.mutable

/** The glyphs a page's show-text operators placed, in content order, as
  * one struct-of-arrays store (PDFium keeps one CharInfo vector per page;
  * the store holds the positioned glyphs that vector is assembled from).
  * Glyph `g` carries its charcode, its unicode (possibly multi-char:
  * ligatures become pieces, like PDFium's CharType::kPiece; empty when
  * unmappable), its pen origin in device space, its text-space advance
  * offset from its object's origin, and the TJ kern gap pending before it
  * (device pts, 0 when none). Its boxes follow from these and its
  * [[TextObject]]'s text state, which computes them when asked. */
final class GlyphStore private[core] () {
  private var n = 0
  private var codes = new Array[Int](16)
  private var unis = new Array[String](16)
  private var pens = new Array[Double](16 * 4) // ox, oy, xOff, kernBefore

  def length: Int = n
  def code(g: Int): Int = codes(g)
  def unicode(g: Int): String = unis(g)
  def ox(g: Int): Double = pens(4 * g)
  def oy(g: Int): Double = pens(4 * g + 1)
  /** Text-space advance offset of the glyph origin from its object's origin. */
  def xOff(g: Int): Double = pens(4 * g + 2)
  def kernBefore(g: Int): Double = pens(4 * g + 3)

  private[core] def add(code: Int, unicode: String, ox: Double, oy: Double, xOff: Double, kernBefore: Double): Unit = {
    if (n == codes.length) {
      val cap = 2 * n
      codes = java.util.Arrays.copyOf(codes, cap)
      unis = java.util.Arrays.copyOf(unis, cap)
      pens = java.util.Arrays.copyOf(pens, 4 * cap)
    }
    codes(n) = code; unis(n) = unicode
    pens(4 * n) = ox; pens(4 * n + 1) = oy; pens(4 * n + 2) = xOff; pens(4 * n + 3) = kernBefore
    n += 1
  }
}

/** One show-text operator (= one PDFium CPDF_TextObject): the glyphs
  * [start, end) of the page's [[GlyphStore]] (never empty), with the text
  * state they were shown in. Its bbox is unioned once, at construction. */
final class TextObject private[core] (
    val glyphs: GlyphStore,
    val start: Int,
    val end: Int,
    val font: PdfFontDecoder,
    val fontSize: Double,
    val effFontSize: Double,         // size scaled into device space
    val baselineY: Double,           // device-space baseline y at object start
    val startX: Double,
    val endX: Double, val endY: Double, // pen after the last glyph's advance, device space
    val dirX: Double, val dirY: Double, // unit baseline direction in device space
    val base: Mat,                   // text space (pre-font-size) -> page space
    val hscale: Double,
    val rise: Double,
    val fillArgb: Int,               // nonstroking color at show time
    val fillAlpha: Double,           // ExtGState /ca at show time
    val blendName: String,           // ExtGState /BM at show time
    val ocHidden: Boolean) {         // inside a default-OFF optional-content group

  /** Coordinate of a device point along the baseline direction. */
  @inline def par(x: Double, y: Double): Double = x * dirX + y * dirY
  /** Perpendicular offset of a device point from the baseline through origin. */
  @inline def perp(x: Double, y: Double): Double = -x * dirY + y * dirX
  /** Union of tight boxes — PDFium skips text objects whose rect is
    * zero-width (this is what drops space-only justified-line tails; see
    * golden text_extract.txt / tests/test_textpage.py count 438). */
  def bbox: Option[Rect] =
    if (bboxQuad(0).isNaN) None else Some(Rect(bboxQuad(0), bboxQuad(1), bboxQuad(2), bboxQuad(3)))
  /** Width of [[bbox]]; NaN when there is none. */
  private[core] def bboxWidth: Double = bboxQuad(2) - bboxQuad(0)

  private val fsh = fontSize * hscale

  /** Writes glyph `g`'s tight (outline) box in device space into `out` at
    * `at`; false, writing nothing, when the glyph has no outline. */
  def tightInto(g: Int, out: Array[Double], at: Int): Boolean =
    font.glyphBBox(glyphs.code(g)) match {
      case Some(b) =>
        val x = glyphs.xOff(g)
        base.onRectInto(x + b.left * fsh, rise + b.bottom * fontSize, x + b.right * fsh, rise + b.top * fontSize, out, at)
        true
      case None => false
    }

  // (left, bottom, right, top) union of the tight boxes in show order; NaN = none
  private val bboxQuad = {
    val q = Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    val box = new Array[Double](4)
    var g = start
    while (g < end) {
      if (tightInto(g, box, 0)) {
        if (q(0).isNaN) System.arraycopy(box, 0, q, 0, 4)
        else {
          q(0) = math.min(q(0), box(0)); q(1) = math.min(q(1), box(1))
          q(2) = math.max(q(2), box(2)); q(3) = math.max(q(3), box(3))
        }
      }
      g += 1
    }
    q
  }

  /** Glyph `g`'s loose box in device space: its origin..advance ×
    * descent..ascent. */
  def loose(g: Int): Rect = {
    val x = glyphs.xOff(g)
    base.onRect(Rect(x, rise + font.descent / 1000.0 * fontSize,
      x + font.advance(glyphs.code(g)) * fsh, rise + font.ascent / 1000.0 * fontSize))
  }

  /** The object's own extracted text: its glyphs' unicode, concatenated. */
  def text: String = {
    val sb = new java.lang.StringBuilder(end - start)
    var g = start
    while (g < end) { sb.append(glyphs.unicode(g)); g += 1 }
    sb.toString
  }
}

/** Page object info for get_objects()-style enumeration
  * (reference page.py:274-325, pageobjects.py). */
final case class PageObjectInfo(
    objType: String,                 // text | path | image | shading | form
    bounds: Rect,
    level: Int,
    fontName: String,
    fontSize: Double,
    imgWidth: Int, imgHeight: Int,   // image objects (pixels)
    imgBpc: Int,
    imgColorspace: String,
    imgFilters: Vector[String],
    raw: Option[TextObject],
    mcid: Int = -1,                  // marked-content id (BDC /MCID), -1 if none
    imgCtm: Option[Mat] = None,      // image objects: unit-square → page-space CTM at draw
    xobjName: String = "",           // image objects: the /XObject resource tag
    /** Byte span [start, end) in the page's concatenated content stream
      * that paints EXACTLY this object — the rewrite anchor for per-object
      * mutation (remove_obj/set_matrix/transform, pageobjects.py:132-162).
      * Only level-0 objects with an isolable span carry one: images (the
      * `/Tag Do`), single-show BT…ET text blocks, and path
      * construction+paint runs. */
    span: Option[(Int, Int)] = None,
    /** CTM in effect at span start (spans exclude their surrounding
      * cm/q state) — what a rewrite must invert to SET a device matrix. */
    ctmAtSpan: Option[Mat] = None) {
  /** Text objects: the decoded string, built on first read. */
  lazy val text: String = raw.fold("")(_.text)
}

/** Content-stream interpreter: tokenizes and executes the operator stream
  * (PDF 32000-1 §8-9), maintaining the q/Q CTM stack and the full text state
  * (Tf/Tc/Tw/Tz/TL/Ts/Td/TD/Tm/T*), descending into Form XObjects with a
  * depth bound (reference page.py:283-284). Emits positioned TextObjects
  * for the text-page assembler and PageObjectInfo rows for object listing.
  */
object ContentInterpreter {

  @inline private def packRgb(r: Double, g: Double, b: Double): Int = {
    def c(v: Double) = math.max(0, math.min(255, math.round(v * 255).toInt))
    0xFF000000 | (c(r) << 16) | (c(g) << 8) | c(b)
  }

  private final class GState(var ctm: Mat) {
    var fillArgb: Int = 0xFF000000 // current nonstroking color (for text objects)
    var fillAlpha: Double = 1.0    // ExtGState /ca at show time
    var blendName: String = "Normal" // ExtGState /BM at show time
    def copy(): GState = {
      val g = new GState(ctm)
      g.fillArgb = fillArgb; g.fillAlpha = fillAlpha; g.blendName = blendName
      g
    }
  }

  private final class TState {
    var tm: Mat = Mat.identity
    var tlm: Mat = Mat.identity
    var font: PdfFontDecoder = null
    var fontSize: Double = 0
    var charSp: Double = 0
    var wordSp: Double = 0
    var hscale: Double = 1.0
    var leading: Double = 0
    var rise: Double = 0
  }

  final case class Result(glyphs: GlyphStore, textObjects: Vector[TextObject], objects: Vector[PageObjectInfo])

  def run(page: PdfPage): Result = {
    val doc = page.doc
    val ocOff = OptionalContent.offRefs(doc)
    val fontCache = mutable.Map[String, PdfFontDecoder]()
    val glyphs = new GlyphStore
    val textObjs = Vector.newBuilder[TextObject]
    // ArrayBuffer (not a builder): span patching at ET/Do/paint needs to
    // update the just-emitted object in place
    val objs = mutable.ArrayBuffer[PageObjectInfo]()

    def fontFor(resources: PdfDict, tag: String): PdfFontDecoder = {
      val key = tag + "@" + System.identityHashCode(resources)
      fontCache.getOrElseUpdate(key, {
        val entry = doc.resolve(resources("Font")) match {
          case fonts: PdfDict => fonts(tag)
          case _ => PdfNull
        }
        // document-level cache: pages share font objects (keyed by the
        // resolved dict identity — stable via the document object cache)
        val resolved = doc.resolve(entry)
        val docKey: AnyRef = resolved match {
          case d: PdfDict => d
          case _ => key
        }
        val cached = doc.fontDecoderCache.get(docKey)
        if (cached != null) cached
        else {
          val built = resolved match {
            case fd: PdfDict => PdfFontDecoder.fromDict(tag, fd, doc)
            case _ => PdfFontDecoder.fromDict(tag, PdfDict.empty, doc)
          }
          doc.fontDecoderCache.put(docKey, built)
          built
        }
      })
    }

    def exec(content: Array[Byte], resources: PdfDict, baseCtm: Mat, level: Int,
             inheritedHidden: Boolean = false): Unit = {
      if (level > 15) return
      val lx = new Lexer(content)
      val operands = mutable.ArrayBuffer[PdfObject]()
      val gstack = mutable.Stack[GState]()
      var gs = new GState(baseCtm)
      val ts = new TState
      // marked-content stack: BDC/BMC push (MCID or -1), EMC pops
      val mcStack = mutable.Stack[Int]()
      @inline def curMcid: Int = mcStack.find(_ >= 0).getOrElse(-1)
      // parallel optional-content visibility stack (§8.11): text extraction
      // keeps hidden text (PDFium behavior) but STAMPS it so the renderer's
      // text overlay can honor layer visibility
      val ocStack = mutable.Stack[Boolean]()
      @inline def curOcHidden: Boolean = inheritedHidden || ocStack.exists(identity)
      // path bounds accumulation
      var pathMinX = Double.MaxValue; var pathMinY = Double.MaxValue
      var pathMaxX = Double.MinValue; var pathMaxY = Double.MinValue
      var pathHasPts = false
      var curX = 0.0; var curY = 0.0

      @inline def nums(n: Int): Array[Double] = {
        val out = new Array[Double](n)
        val base = operands.length - n
        var i = 0
        while (i < n) {
          val at = base + i
          out(i) = if (at < 0) 0.0 else operands(at) match { case PdfNumber(v) => v; case _ => 0.0 }
          i += 1
        }
        out
      }
      @inline def addPt(x: Double, y: Double): Unit = {
        val dx = gs.ctm.onX(x, y)
        val dy = gs.ctm.onY(x, y)
        if (dx < pathMinX) pathMinX = dx
        if (dy < pathMinY) pathMinY = dy
        if (dx > pathMaxX) pathMaxX = dx
        if (dy > pathMaxY) pathMaxY = dy
        pathHasPts = true
        curX = x; curY = y
      }
      /** `painted=false` for the `n` no-op (clip-only paths become clip
        * state, not page objects — matches PDFium's object model; golden
        * pageobjects_images.txt counts no clip rects). */
      def flushPath(painted: Boolean): Unit = {
        if (pathHasPts && painted) {
          objs += PageObjectInfo("path", Rect(pathMinX, pathMinY, pathMaxX, pathMaxY),
            level, "", 0, 0, 0, 0, "", Vector.empty, None)
        }
        pathMinX = Double.MaxValue; pathMinY = Double.MaxValue
        pathMaxX = Double.MinValue; pathMaxY = Double.MinValue
        pathHasPts = false
      }

      def showText(strBytes: Array[Byte]): Unit = showItems(Vector(PdfString(strBytes)))

      /** Execute a TJ-style item sequence (strings + kern numbers). */
      def showItems(items: Vector[PdfObject]): Unit = {
        if (ts.font == null) return
        val font = ts.font
        val start = glyphs.length
        var pendingKern = 0.0
        // Per-object frame: within one show op the text matrix only gains
        // translate(tx, 0) compositions, so every per-char quantity is the
        // object-start frame applied to text-space coords offset by the
        // accumulated advance X — no per-char matrix products.
        val base = ts.tm.multiply(gs.ctm) // text space (pre-font-size) → device
        val fs = ts.fontSize
        val rise = ts.rise
        val scaleAB = math.hypot(base.a, base.b)
        val effSize0 = fs * math.hypot(base.c, base.d)
        val effSize = if (effSize0 > 0) effSize0 else fs
        var x = 0.0 // accumulated advance in text-space units
        var endX = 0.0 // advance at the end of the last glyph
        items.foreach {
          case PdfNumber(v) =>
            val tx = -v / 1000.0 * fs * ts.hscale
            x += tx
            val g = tx * scaleAB
            if (g > 0) pendingKern += g else pendingKern = math.max(0.0, pendingKern + g)
          case PdfString(bytes) =>
            val codes = font.codes(bytes)
            var i = 0
            while (i < codes.length) {
              val code = codes(i)
              val w0 = font.advance(code)
              val isSpaceByte = code == 32 && !font.isType0
              val tx = (w0 * fs + ts.charSp + (if (isSpaceByte) ts.wordSp else 0.0)) * ts.hscale
              val kern = if (pendingKern > 0) { val gap = pendingKern; pendingKern = 0.0; gap } else 0.0
              glyphs.add(code, font.unicode(code), base.onX(x, rise), base.onY(x, rise), x, kern)
              x += tx
              endX = x
              i += 1
            }
          case _ => ()
        }
        ts.tm = Mat.identity.translate(x, 0).multiply(ts.tm)
        if (glyphs.length > start) {
          val originX = base.onX(0, rise)
          val originY = base.onY(0, rise)
          // baseline direction: image of the text-space x axis
          val unit = scaleAB > 1e-12
          val obj = new TextObject(glyphs, start, glyphs.length, font, fs, effSize, originY, originX,
            base.onX(endX, rise), base.onY(endX, rise),
            if (unit) base.a / scaleAB else 1.0, if (unit) base.b / scaleAB else 0.0,
            base, ts.hscale, rise, gs.fillArgb, gs.fillAlpha, gs.blendName, curOcHidden)
          textObjs += obj
          objs += PageObjectInfo("text", obj.bbox.getOrElse(Rect(originX, originY, originX, originY)),
            level, font.baseNameNoSubset, ts.fontSize,
            0, 0, 0, "", Vector.empty, Some(obj), curMcid)
        }
      }

      def doXObject(tag: String): Unit = {
        doc.resolve(resources("XObject")) match {
          case xobjs: PdfDict => doc.resolve(xobjs(tag)) match {
            case s @ PdfStream(xd, _) =>
              doc.resolve(xd("Subtype")) match {
                case PdfName("Image") =>
                  val w = doc.resolve(xd("Width")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
                  val h = doc.resolve(xd("Height")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
                  val bpc = doc.resolve(xd("BitsPerComponent")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
                  val cs = doc.resolve(xd("ColorSpace")) match {
                    case PdfName(n) => n
                    case PdfArray(items) if items.nonEmpty => doc.resolve(items(0)) match { case PdfName(n) => n; case _ => "" }
                    case _ => ""
                  }
                  val filters = Filters.filterNames(xd, doc.resolve)
                  // PDFium transforms the unit square in float32; the f32
                  // corner sums are observable in the dpi goldens
                  // (pageobjects_images.txt vertical_dpi) — mirror exactly
                  val bounds = {
                    val a = gs.ctm.a.toFloat; val b = gs.ctm.b.toFloat
                    val c = gs.ctm.c.toFloat; val d = gs.ctm.d.toFloat
                    val e = gs.ctm.e.toFloat; val f = gs.ctm.f.toFloat
                    val xs = Array(e, a + e, c + e, a + c + e)
                    val ys = Array(f, b + f, d + f, b + d + f)
                    Rect(xs.min.toDouble, ys.min.toDouble, xs.max.toDouble, ys.max.toDouble)
                  }
                  objs += PageObjectInfo("image", bounds, level,
                    "", 0, w, h, bpc, cs, filters, None, curMcid,
                    imgCtm = Some(gs.ctm), xobjName = tag)
                case PdfName("Form") =>
                  val formRes = doc.resolve(xd("Resources")) match { case d: PdfDict => d; case _ => resources }
                  val formMat = doc.resolve(xd("Matrix")) match {
                    case PdfArray(items) if items.length == 6 =>
                      val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
                      if (v.length == 6) Mat(v(0), v(1), v(2), v(3), v(4), v(5)) else Mat.identity
                    case _ => Mat.identity
                  }
                  objs += PageObjectInfo("form", gs.ctm.onRect(Rect(0, 0, 1, 1)), level,
                    "", 0, 0, 0, 0, "", Vector.empty, None)
                  // optional-content state crosses the form boundary: text
                  // inside a hidden layer (or a form with its own OFF /OC)
                  // must stamp ocHidden so the render overlay skips it
                  exec(doc.streamData(s), formRes, formMat.multiply(gs.ctm), level + 1,
                    curOcHidden || OptionalContent.isHidden(doc, xd("OC"), ocOff))
                case _ => ()
              }
            case _ => ()
          }
          case _ => ()
        }
      }

      def skipInlineImage(): Unit = {
        // parse dict tokens until ID (W/H/BPC abbreviations per §8.9.7),
        // then raw data until whitespace+EI
        var done = false
        var w = 0; var h = 0; var bpc = 0; var cs = ""
        while (!lx.atEnd && !done) {
          lx.skipWs()
          if (lx.peek == '/') {
            val k = lx.parseObject(); val v = lx.parseObject()
            (k, v) match {
              case (PdfName("W") | PdfName("Width"), PdfNumber(n)) => w = n.toInt
              case (PdfName("H") | PdfName("Height"), PdfNumber(n)) => h = n.toInt
              case (PdfName("BPC") | PdfName("BitsPerComponent"), PdfNumber(n)) => bpc = n.toInt
              case (PdfName("CS") | PdfName("ColorSpace"), PdfName(n)) => cs = n
              case _ => ()
            }
          }
          else {
            val t = lx.readToken()
            if (t == "ID") {
              lx.pos += 1 // single whitespace after ID
              var i = lx.pos
              val d = lx.data
              var found = false
              while (i < d.length - 1 && !found) {
                if (d(i) == 'E' && d(i + 1) == 'I' &&
                  (i + 2 >= d.length || !lx.isRegular(d(i + 2) & 0xff)) &&
                  (i == 0 || lx.isWhite(d(i - 1) & 0xff))) {
                  found = true
                  lx.pos = i + 2
                } else i += 1
              }
              if (!found) lx.pos = d.length
              val csName = cs match {
                case "G" => "DeviceGray"; case "RGB" => "DeviceRGB"; case "CMYK" => "DeviceCMYK"
                case other => other
              }
              objs += PageObjectInfo("image", gs.ctm.onRect(Rect(0, 0, 1, 1)), level,
                "", 0, w, h, bpc, csName, Vector.empty, None, curMcid)
              done = true
            } else if (t.isEmpty) { lx.parseObject() }
          }
        }
      }

      // span tracking for per-object mutation (level 0 only): operand-run
      // start, BT-block state, path-run start
      var operandSeqStart = -1
      var btStart = -1
      var btObjIdx = -1
      var btCtm: Mat = Mat.identity
      var pathSpanStart = -1
      var pathCtm: Mat = Mat.identity

      var running = true
      while (running && !lx.atEnd) {
        lx.skipWs()
        if (lx.atEnd) running = false
        else {
          val c = lx.peek
          if (c == '/' || c == '(' || c == '[' || c == '<' || c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
            if (operands.isEmpty) operandSeqStart = lx.pos
            operands += lx.parseObject()
            if (operands.length > 64) operands.remove(0, operands.length - 64)
          } else {
            val opStart = lx.pos
            val op = lx.readToken()
            if (op.isEmpty) { lx.pos += 1 }
            else op match {
              case "q" => gstack.push(gs.copy())
              case "Q" => if (gstack.nonEmpty) gs = gstack.pop()
              case "cm" =>
                val v = nums(6)
                gs.ctm = Mat(v(0), v(1), v(2), v(3), v(4), v(5)).multiply(gs.ctm)
              case "BT" =>
                ts.tm = Mat.identity; ts.tlm = Mat.identity
                btStart = opStart; btObjIdx = objs.length; btCtm = gs.ctm
              case "ET" =>
                // single-show BT…ET at page level → the block IS the text
                // object's rewrite span
                if (level == 0 && btStart >= 0 && objs.length == btObjIdx + 1 &&
                    objs(btObjIdx).objType == "text")
                  objs(btObjIdx) = objs(btObjIdx).copy(
                    span = Some((btStart, lx.pos)), ctmAtSpan = Some(btCtm))
                btStart = -1
              case "Td" =>
                val v = nums(2)
                ts.tlm = Mat.identity.translate(v(0), v(1)).multiply(ts.tlm)
                ts.tm = ts.tlm
              case "TD" =>
                val v = nums(2)
                ts.leading = -v(1)
                ts.tlm = Mat.identity.translate(v(0), v(1)).multiply(ts.tlm)
                ts.tm = ts.tlm
              case "Tm" =>
                val v = nums(6)
                ts.tlm = Mat(v(0), v(1), v(2), v(3), v(4), v(5))
                ts.tm = ts.tlm
              case "T*" =>
                ts.tlm = Mat.identity.translate(0, -ts.leading).multiply(ts.tlm)
                ts.tm = ts.tlm
              case "TL" => ts.leading = nums(1)(0)
              case "Tc" => ts.charSp = nums(1)(0)
              case "Tw" => ts.wordSp = nums(1)(0)
              case "Tz" => ts.hscale = nums(1)(0) / 100.0
              case "Ts" => ts.rise = nums(1)(0)
              case "Tr" => ()
              case "Tf" =>
                val size = nums(1)(0)
                val tag = operands.lift(operands.length - 2) match { case Some(PdfName(n)) => n; case _ => "" }
                ts.font = fontFor(resources, tag)
                ts.fontSize = size
              case "Tj" =>
                operands.lastOption match {
                  case Some(PdfString(b)) => showText(b)
                  case _ => ()
                }
              case "'" =>
                ts.tlm = Mat.identity.translate(0, -ts.leading).multiply(ts.tlm)
                ts.tm = ts.tlm
                operands.lastOption match {
                  case Some(PdfString(b)) => showText(b)
                  case _ => ()
                }
              case "\"" =>
                val base = operands.length - 3
                (operands.lift(base), operands.lift(base + 1), operands.lift(base + 2)) match {
                  case (Some(PdfNumber(aw)), Some(PdfNumber(ac)), Some(PdfString(b))) =>
                    ts.wordSp = aw; ts.charSp = ac
                    ts.tlm = Mat.identity.translate(0, -ts.leading).multiply(ts.tlm)
                    ts.tm = ts.tlm
                    showText(b)
                  case _ => ()
                }
              case "TJ" =>
                operands.lastOption match {
                  case Some(PdfArray(items)) => showItems(items)
                  case _ => ()
                }
              case "Do" =>
                val before = objs.length
                operands.lastOption match {
                  case Some(PdfName(tag)) => doXObject(tag)
                  case _ => ()
                }
                // image Do at page level: span = "/Tag Do" (the local cm
                // state stays outside, recorded via ctmAtSpan)
                if (level == 0 && objs.length == before + 1 &&
                    objs(before).objType == "image" && operandSeqStart >= 0)
                  objs(before) = objs(before).copy(
                    span = Some((operandSeqStart, lx.pos)), ctmAtSpan = Some(gs.ctm))
              case "BI" => skipInlineImage()
              case "BMC" => mcStack.push(-1); ocStack.push(false)
              case "BDC" =>
                val mcid = operands.lastOption.map(doc.resolve) match {
                  case Some(d: PdfDict) => doc.resolve(d("MCID")) match {
                    case PdfNumber(v) => v.toInt
                    case _ => -1
                  }
                  case Some(PdfName(propName)) => // named properties resource
                    doc.resolve(resources("Properties")) match {
                      case props: PdfDict => doc.resolve(props(propName)) match {
                        case d: PdfDict => doc.resolve(d("MCID")) match {
                          case PdfNumber(v) => v.toInt
                          case _ => -1
                        }
                        case _ => -1
                      }
                      case _ => -1
                    }
                  case _ => -1
                }
                mcStack.push(mcid)
                ocStack.push(
                  if (operands.length >= 2)
                    OptionalContent.bdcHidden(doc, resources,
                      operands(operands.length - 2), operands.last, ocOff)
                  else false)
              case "EMC" =>
                if (mcStack.nonEmpty) mcStack.pop()
                if (ocStack.nonEmpty) ocStack.pop()
              case "m" | "l" | "c" | "v" | "y" | "re" =>
                if (pathSpanStart < 0) {
                  pathSpanStart = if (operandSeqStart >= 0) operandSeqStart else opStart
                  pathCtm = gs.ctm
                }
                op match {
                  case "m" | "l" => val v = nums(2); addPt(v(0), v(1))
                  case "c" => val v = nums(6); addPt(v(0), v(1)); addPt(v(2), v(3)); addPt(v(4), v(5))
                  case "v" | "y" => val v = nums(4); addPt(v(0), v(1)); addPt(v(2), v(3))
                  case _ =>
                    val v = nums(4)
                    addPt(v(0), v(1)); addPt(v(0) + v(2), v(1) + v(3))
                }
              case "h" => ()
              case "n" => flushPath(painted = false); pathSpanStart = -1
              case "f" | "F" | "f*" | "B" | "B*" | "b" | "b*" | "s" | "S" =>
                val before = objs.length
                flushPath(painted = true)
                // path run at page level: construction ops through paint op
                if (level == 0 && objs.length == before + 1 && pathSpanStart >= 0)
                  objs(before) = objs(before).copy(
                    span = Some((pathSpanStart, lx.pos)), ctmAtSpan = Some(pathCtm))
                pathSpanStart = -1
              case "W" | "W*" => () // clipping: keep path for the paint op that follows
              case "sh" =>
                objs += PageObjectInfo("shading", gs.ctm.onRect(Rect(0, 0, 1, 1)), level,
                  "", 0, 0, 0, 0, "", Vector.empty, None)
              // nonstroking color state (stamped onto text objects so the
              // rasterizer can fill glyphs in the right color)
              case "g" =>
                val v = nums(1); gs.fillArgb = packRgb(v(0), v(0), v(0))
              case "rg" =>
                val v = nums(3); gs.fillArgb = packRgb(v(0), v(1), v(2))
              case "k" =>
                val v = nums(4)
                gs.fillArgb = packRgb((1 - v(0)) * (1 - v(3)), (1 - v(1)) * (1 - v(3)), (1 - v(2)) * (1 - v(3)))
              case "sc" | "scn" =>
                val ns = operands.collect { case PdfNumber(n) => n }
                gs.fillArgb = ns.length match {
                  case 1 => packRgb(ns(0), ns(0), ns(0))
                  case 3 => packRgb(ns(0), ns(1), ns(2))
                  case 4 => packRgb((1 - ns(0)) * (1 - ns(3)), (1 - ns(1)) * (1 - ns(3)), (1 - ns(2)) * (1 - ns(3)))
                  case _ => gs.fillArgb
                }
              case "gs" =>
                // ExtGState: track /ca and /BM so show-time text objects
                // carry the alpha/blend the rasterizer overlay must honor
                operands.lastOption.collect { case PdfName(n) => n }.foreach { n =>
                  doc.resolve(resources("ExtGState")) match {
                    case egs: PdfDict => doc.resolve(egs(n)) match {
                      case gd: PdfDict =>
                        doc.resolve(gd("ca")) match {
                          case PdfNumber(v) => gs.fillAlpha = math.max(0, math.min(1, v))
                          case _ => ()
                        }
                        doc.resolve(gd("BM")) match {
                          case PdfName(bm) => gs.blendName = bm
                          case PdfArray(items) if items.nonEmpty =>
                            doc.resolve(items(0)) match {
                              case PdfName(bm) => gs.blendName = bm
                              case _ => ()
                            }
                          case _ => ()
                        }
                      case _ => ()
                    }
                    case _ => ()
                  }
                }
              case _ => () // stroke color ops, marked content, etc.
            }
            operands.clear()
          }
        }
      }
    }

    exec(page.contentBytes, page.resources, Mat.identity, 0)
    Result(glyphs, textObjs.result(), objs.toVector)
  }

  /** get_objects analog with type filter + max depth (page.py:274-325). */
  def enumerate(page: PdfPage, filter: Set[String], maxDepth: Int): Vector[PageObjectInfo] = {
    val all = run(page).objects
    all.filter(o => o.level < maxDepth && (filter.isEmpty || filter.contains(o.objType)))
  }
}

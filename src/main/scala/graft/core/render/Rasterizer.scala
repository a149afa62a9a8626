package graft.core.render

import scala.collection.mutable
import graft.core._

/** Minimal page rasterizer — the `page.render` analog (reference
  * src/pypdfium2/_helpers/page.py:354-494). Declared IN SCOPE as the
  * multimodal extension of the extraction engine (page images for VLM
  * training data); fidelity is scoped to structure, not PDFium pixel parity:
  *
  *  - vector paths: real geometry (m/l/c/v/y/re/h), scanline fill with
  *    even-odd or nonzero winding, strokes as width-quads, DeviceRGB/Gray/
  *    CMYK fill+stroke colors;
  *  - images: DCT via javax.imageio, CCITT via the in-repo G3/G4 decoder,
  *    Flate/raw gray+RGB+1bpp buffers; drawn through the full CTM by
  *    inverse mapping (rotation/shear handled), nearest-neighbor;
  *  - form XObjects: recursed with /Matrix ∘ CTM;
  *  - text: TrueType/Type1/CFF outlines filled in the show-time
  *    nonstroking color; glyph-box fills for unembedded fonts;
  *  - clipping: rectangular (clip-path BBOX intersection — exact for the
  *    ubiquitous `re W n` idiom, conservative for shaped clips);
  *  - shadings: axial (type 2) and radial (type 3) exact, free-form and
  *    lattice-form Gouraud triangle meshes (types 4/5) with barycentric
  *    interpolation, Coons/tensor patches (6/7) as bicubic tensor surfaces
  *    (spec interior-point construction for Coons, edge-reuse flags,
  *    8×8 parameter-grid subdivision), all four PDF function types;
  *  - transparency: ImageMask stencils, /SMask per-pixel alpha, ExtGState
  *    constant alpha (/ca /CA), all 12 separable blend modes plus the four
  *    non-separable ones (§11.3.5), and ExtGState soft masks (/SMask in gs,
  *    luminosity render of the /G group), composited src-over onto the
  *    backdrop;
  *  - transparency groups: a /Group /Transparency form under group-level
  *    alpha/blend/soft-mask is flattened first and composited ONCE
  *    (§11.4.7 — overlaps inside the group don't double-darken); coverage
  *    is tracked by dual walks over two backdrops, so marks equal to the
  *    backdrop still composite under non-Normal blends; /I isolated groups
  *    flatten against a white scratch (the opaque-model stand-in for the
  *    transparent initial backdrop — exact for Normal/Multiply/Darken
  *    content); the text overlay honors show-time /ca and /BM;
  *    /K knockout groups freeze the in-group read backdrop (marks
  *    composite against the group's initial backdrop; later marks replace,
  *    not stack);
  *  - not modeled: pixel-map soft masks on the text overlay, and
  *    backdrop-dependent in-group marks inside ISOLATED groups under
  *    Screen/Lighten-family blends (white-scratch approximation).
  */
object Rasterizer {

  /** Render a page at `scale` pixels per PDF unit. Mirrors the reference's
    * render surface exactly (page.py:454-479): `rotation` ∈ {0,90,180,270}
    * rotates the OUTPUT image clockwise; `crop` = (left, bottom, right,
    * top) PDF units, each ceil-scaled to pixels and cut from the
    * corresponding side of the ROTATED image (FPDF_RenderPageBitmap is
    * positioned at (−crop_left, −crop_top) of the rotated full-page
    * render); `fillColor` is the backdrop ARGB (fill_color analog);
    * `drawAnnots` paints annotation /AP /N appearance streams on top — the
    * `draw_forms` analog (page.py:490-491 FPDF_FFLDraw). */
  /** Forced-color rendering (reference page.py:392-437 `color_scheme` →
    * FPDF_COLORSCHEME): every path fills/strokes and every glyph paints in
    * the given ARGB colors regardless of content-stream color operators —
    * the accessibility/high-contrast mode. Combine with `fillToStroke`
    * (FPDF_CONVERT_FILL_TO_STROKE) to render filled paths as outlines. */
  final case class ColorScheme(pathFill: Int, pathStroke: Int,
                               textFill: Int, textStroke: Int)
  private final case class Opts(scheme: Option[ColorScheme], fillToStroke: Boolean,
                                aaPath: Boolean = false, aaText: Boolean = false,
                                aaImage: Boolean = false)
  /** Render options reach the deep paint sites via a thread-local rather
    * than 8 more parameters on every recursive walk() call; rendering is
    * single-threaded per invocation and the Rasterizer object is shared
    * across Spark task threads, so a plain var would race. */
  private val optsTL: ThreadLocal[Opts] =
    ThreadLocal.withInitial(() => Opts(None, fillToStroke = false))

  /** Smoothing surface (reference page.py:392-410): `antiAlias` enables
    * coverage-based anti-aliasing (4× vertical supersampling + fractional
    * horizontal coverage for paths/glyphs, bilinear sampling for images);
    * the three `noSmooth*` toggles are the FPDF_RENDER_NO_SMOOTH{TEXT,
    * IMAGE,PATH} analogs and disable their channel individually.
    * `optimizeMode` mirrors the reference's None/"lcd"/"print":
    * "lcd" turns text AA on even without `antiAlias` (rendered as standard
    * grayscale AA — subpixel RGB striping is a documented deviation), and
    * "print" disables image smoothing (the halftone-for-print behavior
    * behind FPDF_PRINTING is out of declared scope). Deviation from
    * PDFium: this engine's DEFAULT is AA off (equivalent to all three
    * no_smooth flags set), so existing pinned pixel oracles describe the
    * aliased ground truth; pass `antiAlias = true` for PDFium's default
    * look. */
  def render(page: PdfPage, scale: Double = 1.0, drawAnnots: Boolean = true,
             rotation: Int = 0,
             crop: (Double, Double, Double, Double) = (0, 0, 0, 0),
             fillColor: Int = 0xFFFFFFFF,
             grayscale: Boolean = false,
             colorScheme: Option[ColorScheme] = None,
             fillToStroke: Boolean = false,
             antiAlias: Boolean = false,
             optimizeMode: Option[String] = None,
             noSmoothText: Boolean = false,
             noSmoothImage: Boolean = false,
             noSmoothPath: Boolean = false): Bitmap = {
    require(rotation == 0 || rotation == 90 || rotation == 180 || rotation == 270,
      s"rotation must be 0/90/180/270, got $rotation")
    optsTL.remove() // defensive: clear any leak from a crashed prior render
    optsTL.set(Opts(colorScheme, fillToStroke,
      aaPath = antiAlias && !noSmoothPath,
      aaText = !noSmoothText && (antiAlias || optimizeMode.contains("lcd")),
      aaImage = antiAlias && !noSmoothImage && !optimizeMode.contains("print")))
    val full = page.bbox
    val w0 = math.max(1, math.ceil(full.width * scale).toInt)
    val h0 = math.max(1, math.ceil(full.height * scale).toInt)
    // rotated full-page size, then crop pixels off each image side
    val (sw, sh) = if (rotation == 90 || rotation == 270) (h0, w0) else (w0, h0)
    val cl = math.ceil(crop._1 * scale).toInt
    val cb = math.ceil(crop._2 * scale).toInt
    val cr = math.ceil(crop._3 * scale).toInt
    val ct = math.ceil(crop._4 * scale).toInt
    val w = sw - cl - cr
    val h = sh - cb - ct
    require(w >= 1 && h >= 1, "Crop exceeds page dimensions")
    val bmp = new Bitmap(w, h, fillColor)
    // page space (y-up) → unrotated bitmap space (y-down), then a device-
    // space quarter-turn (90° cw maps (x,y) → (h0−y, x), 180° → (w0−x,
    // h0−y), 270° → (y, w0−x)), then the (−left, −top) crop offset.
    val dev0 = Mat(scale, 0, 0, -scale, -full.left * scale, full.top * scale)
    val dev = (rotation match {
      case 90 => dev0.multiply(Mat(0, 1, -1, 0, h0, 0))
      case 180 => dev0.multiply(Mat(-1, 0, 0, -1, w0, h0))
      case 270 => dev0.multiply(Mat(0, -1, 1, 0, 0, w0))
      case _ => dev0
    }).multiply(Mat.identity.translate(-cl, -ct))
    // malformed content must yield a partial render, never a crash — this
    // runs inside tasks over untrusted web payloads
    try walk(page.doc, page.contentBytes, page.resources, dev, bmp, 0)
    catch { case _: Exception => () }
    // text overlay: real glyph outlines (TrueType/Type1/CFF) in the
    // show-time fill color; glyph-box fills for unembedded fonts.
    val text = try ContentInterpreter.run(page)
      catch { case _: Exception => ContentInterpreter.Result(new GlyphStore, Vector.empty, Vector.empty) }
    val textFillForced: Option[Int] = colorScheme.map(_.textFill)
    text.textObjects.filterNot(_.ocHidden).foreach { obj =>
      val objFill = textFillForced.getOrElse(obj.fillArgb)
      val fs = obj.fontSize
      val fsh = fs * obj.hscale
      val glyphs = obj.glyphs
      val box = new Array[Double](4)
      for (g <- obj.start until obj.end) {
        val code = glyphs.code(g)
        // Type3: execute the glyph's content-stream procedure through the
        // walker, with glyph space → device = FontMatrix ∘ (fs·hscale, fs)
        // ∘ advance-offset ∘ text base ∘ page-to-device
        val t3Drawn = obj.font.type3Matrix match {
          case Some(fm) if obj.font.type3Procs.nonEmpty =>
            obj.font.glyphName(code).flatMap(obj.font.type3Procs.get) match {
              case Some(proc) =>
                val glyphToPage = fm
                  .multiply(Mat(fs * obj.hscale, 0, 0, fs, 0, obj.rise))
                  .multiply(Mat.identity.translate(glyphs.xOff(g), 0))
                  .multiply(obj.base)
                try walk(page.doc, page.doc.streamData(proc), obj.font.type3Resources,
                  glyphToPage.multiply(dev), bmp, 1)
                catch { case _: Exception => () }
                true
              case None => false
            }
          case _ => false
        }
        val contours =
          if (t3Drawn) Vector.empty
          else obj.font.glyphOutline(code) // TrueType glyf / Type1 / CFF charstrings
        // show-time ExtGState: glyphs composite under the /ca alpha and
        // /BM blend the interpreter stamped on the text object (pixel-map
        // soft masks remain main-walk-only; see header)
        val tAlpha = obj.fillAlpha
        val tBlend = blendId(obj.blendName)
        if (contours.nonEmpty) {
          val polys = contours.map { c =>
            val pts = new Array[(Double, Double)](c.length / 2)
            var i = 0
            while (i + 1 < c.length) {
              val (px, py) = obj.base.onPoint(glyphs.xOff(g) + c(i) * fsh, obj.rise + c(i + 1) * fs)
              pts(i / 2) = dev.onPoint(px, py)
              i += 2
            }
            pts
          }
          fillPolygons(bmp, polys, evenOdd = false, objFill,
            alpha = tAlpha, blend = tBlend, aa = optsTL.get.aaText)
        } else if (!t3Drawn && obj.tightInto(g, box, 0)) {
          val b = Rect(box(0), box(1), box(2), box(3))
          if (b.width > 0 && b.height > 0) {
            val p1 = dev.onPoint(b.left, b.bottom)
            val p2 = dev.onPoint(b.right, b.top)
            val x0 = math.floor(math.min(p1._1, p2._1)).toInt
            val y0 = math.floor(math.min(p1._2, p2._2)).toInt
            val x1 = math.ceil(math.max(p1._1, p2._1)).toInt
            val y1 = math.ceil(math.max(p1._2, p2._2)).toInt
            if (tAlpha >= 1.0 && tBlend == BlendNormal)
              bmp.fillRect(x0, y0, x1 - x0, y1 - y0, objFill)
            else {
              var yy = y0
              while (yy < y1) {
                var xx = x0
                while (xx < x1) {
                  composePixel(bmp, xx, yy, objFill, tAlpha, tBlend)
                  xx += 1
                }
                yy += 1
              }
            }
          }
        }
      }
    }
    if (drawAnnots) renderAnnotations(page, dev, bmp)
    optsTL.remove()
    // grayscale mode (FPDF_GRAYSCALE): PDFium's luminance weights
    if (grayscale) {
      var i = 0
      while (i < bmp.buf.length) {
        val p = bmp.buf(i)
        val g = (((p >> 16) & 0xff) * 30 + ((p >> 8) & 0xff) * 59 + (p & 0xff) * 11) / 100
        bmp.buf(i) = (p & 0xFF000000) | (g << 16) | (g << 8) | g
        i += 1
      }
    }
    bmp
  }

  /** Paint each visible annotation's normal appearance stream (§12.5.5):
    * the /AP /N form's /BBox (through its /Matrix) is mapped onto the
    * annotation /Rect, then the form content renders like any XObject. */
  private def renderAnnotations(page: PdfPage, dev: Mat, bmp: Bitmap): Unit = {
    val doc = page.doc
    page.annotations.foreach { a =>
      try {
        val flags = doc.resolve(a("F")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
        val hidden = (flags & 0x2) != 0 || (flags & 0x20) != 0 // Hidden | NoView
        if (!hidden) {
          val rect = doc.resolve(a("Rect")) match {
            case PdfArray(items) if items.length == 4 =>
              val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
              if (v.length == 4)
                Some(Rect(math.min(v(0), v(2)), math.min(v(1), v(3)),
                  math.max(v(0), v(2)), math.max(v(1), v(3))))
              else None
            case _ => None
          }
          val nAppearance: Option[PdfStream] = doc.resolve(a("AP")) match {
            case ap: PdfDict => doc.resolve(ap("N")) match {
              case s: PdfStream => Some(s)
              case states: PdfDict => // state dict: pick /AS, else first entry
                val as = doc.resolve(a("AS")) match { case PdfName(n) => Some(n); case _ => None }
                as.flatMap(n => Some(doc.resolve(states(n)))).orElse(
                  states.entries.toSeq.sortBy(_._1).headOption.map(e => doc.resolve(e._2)))
                  .collect { case s: PdfStream => s }
              case _ => None
            }
            case _ => None
          }
          for (r <- rect; form <- nAppearance if r.width > 0 && r.height > 0) {
            val fd = form.dict
            def matOf(o: PdfObject): Mat = doc.resolve(o) match {
              case PdfArray(items) if items.length == 6 =>
                val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
                if (v.length == 6) Mat(v(0), v(1), v(2), v(3), v(4), v(5)) else Mat.identity
              case _ => Mat.identity
            }
            val formMat = matOf(fd("Matrix"))
            val fbox = doc.resolve(fd("BBox")) match {
              case PdfArray(items) if items.length == 4 =>
                val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
                if (v.length == 4) Rect(math.min(v(0), v(2)), math.min(v(1), v(3)),
                  math.max(v(0), v(2)), math.max(v(1), v(3))) else r
              case _ => r
            }
            val tbox = formMat.onRect(fbox) // transformed appearance box
            if (tbox.width > 1e-9 && tbox.height > 1e-9) {
              // A: scale/translate transformed bbox onto the annot rect
              val sx = r.width / tbox.width
              val sy = r.height / tbox.height
              val aMat = Mat(sx, 0, 0, sy, r.left - tbox.left * sx, r.bottom - tbox.bottom * sy)
              val res = doc.resolve(fd("Resources")) match { case d: PdfDict => d; case _ => page.resources }
              walk(doc, doc.streamData(form), res, formMat.multiply(aMat).multiply(dev), bmp, 1)
            }
          }
        }
      } catch { case _: Exception => () }
    }
  }

  // ---- content walk (paths, colors, images, forms) -------------------------

  /** Device-space clip region: inclusive bbox plus an optional per-pixel
    * mask (full-bitmap stride) for SHAPED clips — exact for `re W n` via the
    * rect-only fast path, exact for arbitrary paths via the mask. */
  final class ClipRegion(val x0: Int, val y0: Int, val x1: Int, val y1: Int,
                         val mask: Array[Byte], val maskW: Int) {
    @inline def allows(x: Int, y: Int): Boolean =
      x >= x0 && x <= x1 && y >= y0 && y <= y1 &&
        (mask == null || mask(y * maskW + x) != 0)
    /** Intersect with another region (AND of masks where both have one). */
    def intersect(o: ClipRegion): ClipRegion = {
      val m =
        if (mask == null) o.mask
        else if (o.mask == null) mask
        else {
          val out = new Array[Byte](mask.length)
          var i = 0
          while (i < out.length) {
            out(i) = (if (mask(i) != 0 && o.mask(i) != 0) 1 else 0).toByte
            i += 1
          }
          out
        }
      new ClipRegion(math.max(x0, o.x0), math.max(y0, o.y0),
        math.min(x1, o.x1), math.min(y1, o.y1), m, math.max(maskW, o.maskW))
    }
  }
  object ClipRegion {
    def rect(x0: Int, y0: Int, x1: Int, y1: Int): ClipRegion =
      new ClipRegion(x0, y0, x1, y1, null, 0)
  }

  /** None = unclipped. */
  type Clip = Option[ClipRegion]

  /** Blend-mode ids: §11.3.5.2 separable modes plus the §11.3.5.3
    * non-separable four (Hue/Saturation/Color/Luminosity); unknown names
    * fall back to Normal per §11.3.5 ("application should use Normal"). */
  final val BlendNormal = 0
  final val BlendMultiply = 1
  final val BlendScreen = 2
  final val BlendDarken = 3
  final val BlendLighten = 4
  final val BlendDifference = 5
  final val BlendExclusion = 6
  final val BlendOverlay = 7
  final val BlendHardLight = 8
  final val BlendSoftLight = 9
  final val BlendColorDodge = 10
  final val BlendColorBurn = 11
  final val BlendHue = 12
  final val BlendSaturation = 13
  final val BlendColor = 14
  final val BlendLuminosity = 15
  private def blendId(name: String): Int = name match {
    case "Multiply" => BlendMultiply
    case "Screen" => BlendScreen
    case "Darken" => BlendDarken
    case "Lighten" => BlendLighten
    case "Difference" => BlendDifference
    case "Exclusion" => BlendExclusion
    case "Overlay" => BlendOverlay
    case "HardLight" => BlendHardLight
    case "SoftLight" => BlendSoftLight
    case "ColorDodge" => BlendColorDodge
    case "ColorBurn" => BlendColorBurn
    case "Hue" => BlendHue
    case "Saturation" => BlendSaturation
    case "Color" => BlendColor
    case "Luminosity" => BlendLuminosity
    case _ => BlendNormal
  }

  private final class RState(var ctm: Mat) {
    var fill: Int = 0xFF000000
    var stroke: Int = 0xFF000000
    var lineWidth: Double = 1.0
    var clip: Clip = None
    var fillAlpha: Double = 1.0   // /ca from ExtGState
    var strokeAlpha: Double = 1.0 // /CA from ExtGState
    var blend: Int = BlendNormal  // /BM from ExtGState
    // /SMask from ExtGState (§11.6.5.2): a device-space per-pixel alpha map
    // (bmp-sized, row-major, 0..1) built by rendering the mask group's /G
    // at gs-time; null = no soft mask (/SMask /None).
    var softMask: Array[Float] = null
    // Left=tiling (1), Right=shading (2); the Mat is patternMatrix ∘
    // streamBaseCtm captured at scn time — §8.7.3.1 pattern space is the
    // content stream's DEFAULT space, not the CTM at paint time. The Int is
    // the scn-supplied color for UNCOLORED (PaintType 2) tiling patterns,
    // -1 for colored patterns.
    var fillPattern: Option[(Either[PdfStream, (PdfDict, Option[Array[Byte]])], Mat, Int)] = None
    def copy(): RState = {
      val s = new RState(ctm)
      s.fill = fill; s.stroke = stroke; s.lineWidth = lineWidth; s.clip = clip
      s.fillAlpha = fillAlpha; s.strokeAlpha = strokeAlpha; s.blend = blend
      s.fillPattern = fillPattern; s.softMask = softMask
      s
    }
  }

  private def rgb(r: Double, g: Double, b: Double): Int = {
    def c(v: Double) = math.max(0, math.min(255, math.round(v * 255).toInt))
    0xFF000000 | (c(r) << 16) | (c(g) << 8) | c(b)
  }
  private def cmyk(cc: Double, m: Double, y: Double, k: Double): Int =
    rgb((1 - cc) * (1 - k), (1 - m) * (1 - k), (1 - y) * (1 - k))

  private def walk(doc: PdfDocument, content: Array[Byte], resources: PdfDict,
                   baseCtm: Mat, bmp: Bitmap, level: Int,
                   initClip: Clip = None, forcedColor: Option[Int] = None): Unit = {
    if (level > 8) return
    val lx = new Lexer(content)
    val operands = mutable.ArrayBuffer[PdfObject]()
    val stack = mutable.Stack[RState]()
    var gs = new RState(baseCtm)
    gs.clip = initClip
    forcedColor.foreach { c => gs.fill = c; gs.stroke = c }
    val renderOpts = optsTL.get()
    renderOpts.scheme.foreach { s => gs.fill = s.pathFill; gs.stroke = s.pathStroke }
    // uncolored-pattern cells and forced color schemes lock the color:
    // content color operators no-op
    val colorLocked = forcedColor.isDefined || renderOpts.scheme.isDefined

    // current path: subpaths of device-space points
    val subpaths = mutable.ArrayBuffer[mutable.ArrayBuffer[(Double, Double)]]()
    var cx = 0.0; var cy = 0.0 // current point, user space

    // optional-content visibility (§8.11): content inside a default-OFF
    // layer (/OC ... BDC..EMC, or an XObject /OC entry) must not paint —
    // the render-path behavior PDFium implements. Paths still accumulate
    // and clips still apply (graphics STATE is layer-independent); only
    // the paint/blit/shading calls are gated.
    val ocOff = OptionalContent.offRefs(doc)
    val ocStack = mutable.Stack[Boolean]()
    @inline def ocHidden: Boolean = ocStack.exists(identity)

    @inline def nums(n: Int): Array[Double] = {
      val out = new Array[Double](n)
      val base = operands.length - n
      var i = 0
      while (i < n) {
        out(i) = operands.lift(base + i) match { case Some(PdfNumber(v)) => v; case _ => 0.0 }
        i += 1
      }
      out
    }
    @inline def moveTo(x: Double, y: Double): Unit = {
      subpaths += mutable.ArrayBuffer(gs.ctm.onPoint(x, y))
      cx = x; cy = y
    }
    @inline def lineTo(x: Double, y: Double): Unit = {
      if (subpaths.isEmpty) subpaths += mutable.ArrayBuffer[(Double, Double)]()
      subpaths.last += gs.ctm.onPoint(x, y)
      cx = x; cy = y
    }
    def curveTo(x1: Double, y1: Double, x2: Double, y2: Double, x3: Double, y3: Double): Unit = {
      val (x0, y0) = (cx, cy)
      var i = 1
      val n = 16
      while (i <= n) {
        val t = i.toDouble / n
        val mt = 1 - t
        val x = mt * mt * mt * x0 + 3 * mt * mt * t * x1 + 3 * mt * t * t * x2 + t * t * t * x3
        val y = mt * mt * mt * y0 + 3 * mt * mt * t * y1 + 3 * mt * t * t * y2 + t * t * t * y3
        lineTo(x, y)
        i += 1
      }
      cx = x3; cy = y3
    }
    var pendingClip = false
    var pendingClipEvenOdd = false
    /** Is the current path one axis-aligned rectangle? (the `re W n` idiom —
      * rect-only clip, no mask allocation) */
    def pathIsAxisRect: Boolean = {
      if (subpaths.length != 1) return false
      val p = subpaths.head
      if (p.length < 4 || p.length > 5) return false
      val xs = p.map(_._1).distinct
      val ys = p.map(_._2).distinct
      xs.length == 2 && ys.length == 2
    }
    def applyPendingClip(): Unit = {
      if (pendingClip) {
        pendingClip = false
        if (subpaths.nonEmpty) {
          var minX = Double.MaxValue; var minY = Double.MaxValue
          var maxX = Double.MinValue; var maxY = Double.MinValue
          subpaths.foreach(_.foreach { case (px, py) =>
            if (px < minX) minX = px
            if (px > maxX) maxX = px
            if (py < minY) minY = py
            if (py > maxY) maxY = py
          })
          val bx0 = math.floor(minX).toInt; val by0 = math.floor(minY).toInt
          val bx1 = math.ceil(maxX).toInt; val by1 = math.ceil(maxY).toInt
          val region =
            if (pathIsAxisRect) ClipRegion.rect(bx0, by0, bx1, by1)
            else {
              // shaped clip: rasterize the path into a device-space mask
              val m = new Array[Byte](bmp.width * bmp.height)
              fillPolygonsInto(m, bmp.width, bmp.height,
                subpaths.map(_.toArray).toVector.filter(_.length >= 2), pendingClipEvenOdd)
              new ClipRegion(math.max(0, bx0), math.max(0, by0),
                math.min(bmp.width - 1, bx1), math.min(bmp.height - 1, by1), m, bmp.width)
            }
          gs.clip = Some(gs.clip match {
            case Some(c) => c.intersect(region)
            case None => region
          })
        }
      }
    }
    def clearPath(): Unit = { applyPendingClip(); subpaths.clear() }
    def paint(fill0: Boolean, stroke0: Boolean, evenOdd: Boolean): Unit = {
      if (ocHidden) { clearPath(); return }
      // FPDF_CONVERT_FILL_TO_STROKE: filled paths render as outlines
      val fill = fill0 && !renderOpts.fillToStroke
      val stroke = stroke0 || (fill0 && renderOpts.fillToStroke)
      if (subpaths.nonEmpty) {
        val polys = subpaths.map(_.toArray).toVector.filter(_.length >= 2)
        if (fill && polys.nonEmpty) gs.fillPattern match {
          case Some(pattern) =>
            // shading-pattern fill: paint the shading across the path bbox
            // (conservative for non-rect paths, exact for the `re` idiom)
            var minX = Double.MaxValue; var minY = Double.MaxValue
            var maxX = Double.MinValue; var maxY = Double.MinValue
            polys.foreach(_.foreach { case (px, py) =>
              if (px < minX) minX = px
              if (px > maxX) maxX = px
              if (py < minY) minY = py
              if (py > maxY) maxY = py
            })
            // clip the pattern paint to the path itself (exact: a shaped
            // mask unless the path is one axis-aligned rect)
            val pathClip = {
              val bx0 = math.floor(minX).toInt; val by0 = math.floor(minY).toInt
              val bx1 = math.ceil(maxX).toInt; val by1 = math.ceil(maxY).toInt
              val isRect = polys.length == 1 && polys.head.length <= 5 &&
                polys.head.map(_._1).distinct.length == 2 && polys.head.map(_._2).distinct.length == 2
              if (isRect) ClipRegion.rect(bx0, by0, bx1, by1)
              else {
                val m = new Array[Byte](bmp.width * bmp.height)
                fillPolygonsInto(m, bmp.width, bmp.height, polys, evenOdd)
                new ClipRegion(math.max(0, bx0), math.max(0, by0),
                  math.min(bmp.width - 1, bx1), math.min(bmp.height - 1, by1), m, bmp.width)
              }
            }
            val merged = gs.clip match {
              case Some(c) => c.intersect(pathClip)
              case None => pathClip
            }
            val saved = gs.clip
            gs.clip = Some(merged)
            try pattern match {
              case (Right((shDict, md)), patCtm, _) => paintShadingDict(shDict, patCtm, md)
              case (Left(tile), patCtm, uncolored) => paintTilingPattern(tile, patCtm, merged, uncolored)
            } catch { case _: Exception => () }
            gs.clip = saved
          case None => fillPolygons(bmp, polys, evenOdd, gs.fill, gs.clip, gs.fillAlpha,
            gs.blend, gs.softMask, aa = optsTL.get.aaPath)
        }
        if (stroke && polys.nonEmpty) {
          val wDev = math.max(gs.lineWidth * math.hypot(gs.ctm.a, gs.ctm.b), 0.7)
          polys.foreach(p => strokePolyline(bmp, p, wDev, gs.stroke, gs.clip, gs.strokeAlpha,
            gs.blend, gs.softMask, aa = optsTL.get.aaPath))
        }
      }
      clearPath()
    }

    /** `sh`: axial (type 2) and radial (type 3) shadings painted across the
      * current clip, colors from type-2 (exponential) / type-3 (stitching)
      * functions; other shading/function types fall back to the midpoint
      * color. Coords live in the CURRENT user space (gs.ctm). */
    def drawShading(name: String): Unit = doc.resolve(resources("Shading")) match {
      case shd: PdfDict => doc.resolve(shd(name)) match {
        case d: PdfDict => paintShadingDict(d, gs.ctm)
        case s @ PdfStream(sd, _) => paintShadingDict(sd, gs.ctm, Some(doc.streamData(s)))
        case _ => ()
      }
      case _ => ()
    }

    /** Paint a shading dict across the current clip; `shCtm` maps shading
      * space → device (gs.ctm for `sh`, the captured pattern matrix for
      * pattern fills). `meshData` carries the decoded stream payload for
      * mesh shadings (types 4/5 — Gouraud triangles). */
    def paintShadingDict(sd: PdfDict, shCtm: Mat, meshData: Option[Array[Byte]] = None): Unit = {
      def numsOf(o: PdfObject): Array[Double] = doc.resolve(o) match {
        case PdfArray(items) => items.map(doc.resolve).collect { case PdfNumber(v) => v }.toArray
        case _ => Array.emptyDoubleArray
      }
      val shType = doc.resolve(sd("ShadingType")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
      val coords = numsOf(sd("Coords"))
      val domain = { val a = numsOf(sd("Domain")); if (a.length >= 2) a else Array(0.0, 1.0) }
      val extend = doc.resolve(sd("Extend")) match {
        case PdfArray(items) =>
          val bs = items.map(doc.resolve).collect { case PdfBool(b) => b }
          (bs.headOption.getOrElse(false), bs.lift(1).getOrElse(false))
        case _ => (false, false)
      }
      val csComponents = doc.resolve(sd("ColorSpace")) match {
        case PdfName("DeviceGray") => 1
        case PdfName("DeviceCMYK") => 4
        case _ => 3
      }
      val fnDefined = sd.entries.contains("Function")
      val fn = evalFunction(doc, sd("Function"))
      def colorAt(t: Double): Int = {
        val c = fn(domain(0) + t * (domain(1) - domain(0)))
        csComponents match {
          case 1 if c.length >= 1 => rgb(c(0), c(0), c(0))
          case 4 if c.length >= 4 => cmyk(c(0), c(1), c(2), c(3))
          case _ if c.length >= 3 => rgb(c(0), c(1), c(2))
          case _ if c.length >= 1 => rgb(c(0), c(0), c(0))
          case _ => 0xFF808080
        }
      }
      val cr = gs.clip.getOrElse(ClipRegion.rect(0, 0, bmp.width - 1, bmp.height - 1))
      // mesh shadings (§8.7.4.5.5/6): free-form (4) and lattice-form (5)
      // Gouraud triangles — vertex records unpacked per BitsPerFlag/
      // BitsPerCoordinate/BitsPerComponent with the /Decode ranges, device
      // triangles filled by barycentric interpolation (of the parametric t
      // when /Function is present, of color components otherwise).
      // Types 6/7 (Coons/tensor) keep the midpoint-color fallback below.
      if (shType >= 4 && shType <= 7 && meshData.isDefined) {
        val data = meshData.get
        def intOf(key: String, dflt: Int): Int = doc.resolve(sd(key)) match {
          case PdfNumber(v) => v.toInt; case _ => dflt
        }
        val bpCoord = intOf("BitsPerCoordinate", 16)
        val bpComp = intOf("BitsPerComponent", 8)
        val bpFlag = intOf("BitsPerFlag", 8)
        val decode = numsOf(sd("Decode"))
        val nComp = if (fnDefined) 1 else csComponents
        if (decode.length >= 4 + 2 * nComp) {
          var bitPos = 0L
          def bits(n: Int): Long = {
            var v = 0L; var k = 0
            while (k < n) {
              val byteIdx = (bitPos >> 3).toInt
              if (byteIdx >= data.length) return v << (n - k)
              val bit = (data(byteIdx) >> (7 - (bitPos & 7).toInt)) & 1
              v = (v << 1) | bit
              bitPos += 1; k += 1
            }
            v
          }
          def hasBits(n: Int): Boolean = bitPos + n <= data.length.toLong * 8
          @inline def dec(raw: Long, nb: Int, lo: Double, hi: Double): Double = {
            val max = if (nb >= 63) Long.MaxValue.toDouble else ((1L << nb) - 1).toDouble
            lo + (raw.toDouble / max) * (hi - lo)
          }
          final case class MVert(x: Double, y: Double, c: Array[Double])
          def readVert(): MVert = {
            val x = dec(bits(bpCoord), bpCoord, decode(0), decode(1))
            val y = dec(bits(bpCoord), bpCoord, decode(2), decode(3))
            val c = Array.tabulate(nComp)(k =>
              dec(bits(bpComp), bpComp, decode(4 + 2 * k), decode(5 + 2 * k)))
            MVert(x, y, c)
          }
          def vertColor(c: Array[Double]): Int =
            if (fnDefined) colorAt((c(0) - domain(0)) / math.max(1e-12, domain(1) - domain(0)))
            else csComponents match {
              case 1 => rgb(c(0), c(0), c(0))
              case 4 => cmyk(c(0), c(1), c(2), c(3))
              case _ => rgb(c(0), c(1), c(2))
            }
          def paintTri(v0: MVert, v1: MVert, v2: MVert): Unit = {
            val p0 = shCtm.onPoint(v0.x, v0.y); val p1 = shCtm.onPoint(v1.x, v1.y)
            val p2 = shCtm.onPoint(v2.x, v2.y)
            val den = (p1._2 - p2._2) * (p0._1 - p2._1) + (p2._1 - p1._1) * (p0._2 - p2._2)
            if (math.abs(den) < 1e-12) return
            val x0 = math.max(math.max(0, cr.x0), math.floor(math.min(p0._1, math.min(p1._1, p2._1))).toInt)
            val x1 = math.min(math.min(bmp.width - 1, cr.x1), math.ceil(math.max(p0._1, math.max(p1._1, p2._1))).toInt)
            val y0 = math.max(math.max(0, cr.y0), math.floor(math.min(p0._2, math.min(p1._2, p2._2))).toInt)
            val y1 = math.min(math.min(bmp.height - 1, cr.y1), math.ceil(math.max(p0._2, math.max(p1._2, p2._2))).toInt)
            val (c0, c1, c2) = (vertColor(v0.c), vertColor(v1.c), vertColor(v2.c))
            var py = y0
            while (py <= y1) {
              var px = x0
              while (px <= x1) {
                if (cr.allows(px, py)) {
                  val fx = px + 0.5; val fy = py + 0.5
                  val l0 = ((p1._2 - p2._2) * (fx - p2._1) + (p2._1 - p1._1) * (fy - p2._2)) / den
                  val l1 = ((p2._2 - p0._2) * (fx - p2._1) + (p0._1 - p2._1) * (fy - p2._2)) / den
                  val l2 = 1.0 - l0 - l1
                  if (l0 >= -1e-6 && l1 >= -1e-6 && l2 >= -1e-6) {
                    @inline def ch(sh: Int): Int = {
                      val v = l0 * ((c0 >> sh) & 0xff) + l1 * ((c1 >> sh) & 0xff) + l2 * ((c2 >> sh) & 0xff)
                      math.max(0, math.min(255, math.round(v).toInt))
                    }
                    val col = 0xFF000000 | (ch(16) << 16) | (ch(8) << 8) | ch(0)
                    composePixel(bmp, px, py, col, gs.fillAlpha, gs.blend, gs.softMask)
                  }
                }
                px += 1
              }
              py += 1
            }
          }
          if (shType == 4) {
            val vertBits = bpFlag + 2 * bpCoord + nComp * bpComp
            var va: MVert = null; var vb: MVert = null; var vc: MVert = null
            while (hasBits(vertBits)) {
              val flag = bits(bpFlag).toInt
              val v = readVert()
              flag match {
                case 0 =>
                  if (va == null) { va = v }
                  else if (vb == null) { vb = v }
                  else if (vc == null) { vc = v; paintTri(va, vb, vc) }
                  else { va = v; vb = null; vc = null } // new triangle start
                case 1 => if (vc != null) { va = vb; vb = vc; vc = v; paintTri(va, vb, vc) }
                case 2 => if (vc != null) { vb = vc; vc = v; paintTri(va, vb, vc) }
                case _ => ()
              }
            }
          } else if (shType == 5) { // lattice
            val perRow = intOf("VerticesPerRow", 2)
            if (perRow >= 2) {
              val vertBits = 2 * bpCoord + nComp * bpComp
              var prev: Array[MVert] = null
              var more = true
              while (more && hasBits(vertBits.toLong.toInt * perRow)) {
                val row = Array.fill(perRow)(readVert())
                if (prev != null) {
                  var i = 0
                  while (i + 1 < perRow) {
                    paintTri(prev(i), prev(i + 1), row(i))
                    paintTri(prev(i + 1), row(i + 1), row(i))
                    i += 1
                  }
                }
                prev = row
                more = hasBits(vertBits * perRow)
              }
            }
          } else { // types 6/7: Coons / tensor patches (§8.7.4.5.7/8)
            // evaluate each patch as a bicubic tensor surface (Coons
            // patches get the spec's interior-point construction) on an
            // 8×8 parameter grid and Gouraud the cells; edge-reuse flags
            // 1/2/3 take the previous patch's edge points and colors
            def readPt(): (Double, Double) = (
              dec(bits(bpCoord), bpCoord, decode(0), decode(1)),
              dec(bits(bpCoord), bpCoord, decode(2), decode(3)))
            def readColor(): Array[Double] = Array.tabulate(nComp)(k =>
              dec(bits(bpComp), bpComp, decode(4 + 2 * k), decode(5 + 2 * k)))
            val nPts = if (shType == 6) 12 else 16
            // prev state: 4×4 grid (row-major) + 4 corner color arrays
            var prevG: Array[(Double, Double)] = null
            var prevC: Array[Array[Double]] = null
            val patchBitsNew = 2 * bpCoord * nPts + 4 * nComp * bpComp
            var go = true
            while (go && hasBits(bpFlag)) {
              val flag = bits(bpFlag).toInt
              val needBits = if (flag == 0) patchBitsNew
                else 2 * bpCoord * (nPts - 4) + 2 * nComp * bpComp
              if (!hasBits(needBits) || (flag != 0 && prevG == null)) go = false
              else {
                // boundary b(0..11) in spec order p00 p01 p02 p03 p13 p23
                // p33 p32 p31 p30 p20 p10; interior i(0..3) = p11 p12 p22 p21
                val b = new Array[(Double, Double)](12)
                val cs = new Array[Array[Double]](4)
                @inline def g(r: Int, c: Int) = prevG(r * 4 + c)
                var readFrom = 0
                if (flag == 0) { var k = 0; while (k < 4) { b(k) = readPt(); k += 1 }; readFrom = 4 }
                else {
                  val (edge, cA, cB) = flag match {
                    case 1 => (Array(g(0, 3), g(1, 3), g(2, 3), g(3, 3)), prevC(1), prevC(2))
                    case 2 => (Array(g(3, 3), g(3, 2), g(3, 1), g(3, 0)), prevC(2), prevC(3))
                    case _ => (Array(g(3, 0), g(2, 0), g(1, 0), g(0, 0)), prevC(3), prevC(0))
                  }
                  var k = 0; while (k < 4) { b(k) = edge(k); k += 1 }
                  cs(0) = cA; cs(1) = cB
                  readFrom = 4
                }
                var k = readFrom
                while (k < 12) { b(k) = readPt(); k += 1 }
                val interior: Array[(Double, Double)] =
                  if (shType == 7) Array.fill(4)(readPt()) else null
                if (flag == 0) { var c = 0; while (c < 4) { cs(c) = readColor(); c += 1 } }
                else { cs(2) = readColor(); cs(3) = readColor() }
                // assemble the 4×4 grid
                val P = new Array[(Double, Double)](16)
                P(0) = b(0); P(1) = b(1); P(2) = b(2); P(3) = b(3)
                P(7) = b(4); P(11) = b(5); P(15) = b(6)
                P(14) = b(7); P(13) = b(8); P(12) = b(9)
                P(8) = b(10); P(4) = b(11)
                if (interior != null) {
                  P(5) = interior(0); P(6) = interior(1); P(10) = interior(2); P(9) = interior(3)
                } else {
                  // Coons interior points (§8.7.4.5.7)
                  @inline def mix(f: Array[Double]): (Double, Double) = {
                    var x = 0.0; var y = 0.0; var i = 0
                    while (i < 12) { x += f(i) * b(i)._1; y += f(i) * b(i)._2; i += 1 }
                    (x / 9, y / 9)
                  }
                  //            p00 p01 p02 p03 p13 p23 p33 p32 p31 p30 p20 p10
                  P(5) = mix(Array(-4, 6, 0, -2, 3, 0, -1, 0, 3, -2, 0, 6)) // p11
                  P(6) = mix(Array(-2, 0, 6, -4, 6, 0, -2, 3, 0, -1, 0, 3)) // p12
                  P(9) = mix(Array(-2, 3, 0, -1, 0, 3, -2, 0, 6, -4, 6, 0)) // p21
                  P(10) = mix(Array(-1, 0, 3, -2, 0, 6, -4, 6, 0, -2, 3, 0)) // p22
                }
                // subdivide: S(u,v) = ΣΣ Bu(i)Bv(j)·P(i*4+j); rows = u
                val N = 8
                @inline def bern(t: Double): Array[Double] = {
                  val m = 1 - t
                  Array(m * m * m, 3 * t * m * m, 3 * t * t * m, t * t * t)
                }
                def surf(u: Double, v: Double): (Double, Double) = {
                  val bu = bern(u); val bv = bern(v)
                  var x = 0.0; var y = 0.0
                  var i = 0
                  while (i < 4) {
                    var j = 0
                    while (j < 4) {
                      val wgt = bu(i) * bv(j)
                      x += wgt * P(i * 4 + j)._1; y += wgt * P(i * 4 + j)._2
                      j += 1
                    }
                    i += 1
                  }
                  (x, y)
                }
                def colAt(u: Double, v: Double): Array[Double] = Array.tabulate(nComp) { k =>
                  (1 - u) * (1 - v) * cs(0)(k) + (1 - u) * v * cs(1)(k) +
                    u * v * cs(2)(k) + u * (1 - v) * cs(3)(k)
                }
                var i = 0
                while (i < N) {
                  var j = 0
                  while (j < N) {
                    val (u0, u1) = (i.toDouble / N, (i + 1.0) / N)
                    val (v0, v1) = (j.toDouble / N, (j + 1.0) / N)
                    val q00 = surf(u0, v0); val q01 = surf(u0, v1)
                    val q10 = surf(u1, v0); val q11 = surf(u1, v1)
                    val m00 = MVert(q00._1, q00._2, colAt(u0, v0))
                    val m01 = MVert(q01._1, q01._2, colAt(u0, v1))
                    val m10 = MVert(q10._1, q10._2, colAt(u1, v0))
                    val m11 = MVert(q11._1, q11._2, colAt(u1, v1))
                    paintTri(m00, m01, m10)
                    paintTri(m01, m11, m10)
                    j += 1
                  }
                  i += 1
                }
                prevG = P; prevC = cs
              }
            }
          }
          return
        }
      }
      shCtm.invert.foreach { inv =>
        var y = math.max(0, cr.y0)
        while (y <= math.min(bmp.height - 1, cr.y1)) {
          var x = math.max(0, cr.x0)
          while (x <= math.min(bmp.width - 1, cr.x1)) {
            if (!cr.allows(x, y)) { x += 1 }
            else {
            val (ux, uy) = inv.onPoint(x + 0.5, y + 0.5)
            val tRaw: Option[Double] = shType match {
              case 2 if coords.length >= 4 =>
                val dx = coords(2) - coords(0); val dy = coords(3) - coords(1)
                val den = dx * dx + dy * dy
                if (den <= 0) Some(0.0)
                else Some(((ux - coords(0)) * dx + (uy - coords(1)) * dy) / den)
              case 3 if coords.length >= 6 =>
                // exact radial (§8.7.4.5.4): the point lies on the
                // interpolated circle c(s)=c0+s·Δc, r(s)=r0+s·Δr; solve
                // |p−c(s)|² = r(s)² for the LARGEST s with r(s) ≥ 0
                val dcx = coords(3) - coords(0); val dcy = coords(4) - coords(1)
                val dr = coords(5) - coords(2)
                val pdx = ux - coords(0); val pdy = uy - coords(1)
                val a = dcx * dcx + dcy * dcy - dr * dr
                val b = -2 * (pdx * dcx + pdy * dcy + coords(2) * dr)
                val c0 = pdx * pdx + pdy * pdy - coords(2) * coords(2)
                def rOk(s: Double) = coords(2) + s * dr >= 0
                if (math.abs(a) < 1e-12) {
                  if (math.abs(b) < 1e-12) None
                  else { val s = -c0 / b; if (rOk(s)) Some(s) else None }
                } else {
                  val disc = b * b - 4 * a * c0
                  if (disc < 0) None
                  else {
                    val sq = math.sqrt(disc)
                    val s1 = (-b + sq) / (2 * a)
                    val s2 = (-b - sq) / (2 * a)
                    val hi = math.max(s1, s2); val lo = math.min(s1, s2)
                    if (rOk(hi)) Some(hi) else if (rOk(lo)) Some(lo) else None
                  }
                }
              case _ => Some(0.5)
            }
            tRaw.foreach { t0 =>
              val inRange = t0 >= 0 && t0 <= 1
              val t =
                if (inRange) t0
                else if (t0 < 0 && extend._1) 0.0
                else if (t0 > 1 && extend._2) 1.0
                else Double.NaN
              if (!t.isNaN) composePixel(bmp, x, y, colorAt(t), gs.fillAlpha, gs.blend, gs.softMask)
            }
            x += 1
            }
          }
          y += 1
        }
      }
    }

    /** Tiling pattern (PatternType 1): the cell content stream walked
      * repeatedly at XStep/YStep offsets covering the clip region. `base`
      * is patternMatrix ∘ stream-default-CTM captured at scn time (§8.7.3.1
      * — pattern space is anchored to the page, not the paint-time CTM). */
    def paintTilingPattern(tile: PdfStream, base: Mat, clip: ClipRegion,
                           uncolored: Int): Unit = {
      val td = tile.dict
      def numOf(key: String, dflt: Double): Double = doc.resolve(td(key)) match {
        case PdfNumber(v) => v; case _ => dflt
      }
      val xStep = math.abs(numOf("XStep", 1.0))
      val yStep = math.abs(numOf("YStep", 1.0))
      if (xStep < 1e-6 || yStep < 1e-6) return
      val patRes = doc.resolve(td("Resources")) match { case r: PdfDict => r; case _ => resources }
      val cellBytes = doc.streamData(tile)
      // cover the clip rect in pattern steps (device extent / device step)
      val stepDevX = math.max(1.0, math.abs(xStep * math.hypot(base.a, base.b)))
      val stepDevY = math.max(1.0, math.abs(yStep * math.hypot(base.c, base.d)))
      val nx = math.min(64, ((clip.x1 - clip.x0) / stepDevX).toInt + 2)
      val ny = math.min(64, ((clip.y1 - clip.y0) / stepDevY).toInt + 2)
      // anchor the grid at the pattern origin nearest the clip corner
      val inv = base.invert.getOrElse(return)
      val (u0, v0) = inv.onPoint(clip.x0.toDouble, clip.y1.toDouble) // bottom-left in pattern space (device y-down)
      val i0 = math.floor(u0 / xStep).toInt - 1
      val j0 = math.floor(v0 / yStep).toInt - 1
      var j = 0
      while (j <= ny) {
        var i = 0
        while (i <= nx) {
          val cellCtm = Mat.identity.translate((i0 + i) * xStep, (j0 + j) * yStep).multiply(base)
          val savedClip = gs.clip
          walkCell(cellBytes, patRes, cellCtm, clip, uncolored)
          gs.clip = savedClip
          i += 1
        }
        j += 1
      }
    }
    def walkCell(cellBytes: Array[Byte], patRes: PdfDict, cellCtm: Mat,
                 clip: ClipRegion, uncolored: Int): Unit =
      // PaintType 2 (uncolored): every mark paints in the scn-supplied
      // color; the cell's own color operators are ignored (§8.7.3.3)
      walk(doc, cellBytes, patRes, cellCtm, bmp, level + 1, initClip = Some(clip),
        forcedColor = if (uncolored != -1) Some(uncolored) else None)

    /** Map a /BBox array through `m` into a device-space rectangular clip. */
    def bboxClip(o: PdfObject, m: Mat): Clip = doc.resolve(o) match {
      case PdfArray(items) if items.length == 4 =>
        val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
        if (v.length == 4) {
          val r = m.onRect(Rect(math.min(v(0), v(2)), math.min(v(1), v(3)),
            math.max(v(0), v(2)), math.max(v(1), v(3))))
          Some(ClipRegion.rect(math.floor(r.left).toInt, math.floor(r.bottom).toInt,
            math.ceil(r.right).toInt, math.ceil(r.top).toInt))
        } else None
      case _ => None
    }

    /** §11.6.5.2 ExtGState soft mask: render the mask group /G with the CTM
      * in effect at gs-time into an offscreen page-sized bitmap (black
      * backdrop), clipped to the group's /BBox, and read each device pixel's
      * luminosity as the mask alpha. /S /Alpha is approximated by the same
      * luminosity-over-black read (the rasterizer keeps no alpha channel —
      * header notes transparency groups are flattened). /TR is ignored. */
    def buildSoftMask(sm: PdfDict): Array[Float] = {
      val g = doc.resolve(sm("G")) match { case s: PdfStream => s; case _ => return null }
      val gRes = doc.resolve(g.dict("Resources")) match { case d: PdfDict => d; case _ => resources }
      val gMat = doc.resolve(g.dict("Matrix")) match {
        case PdfArray(items) if items.length == 6 =>
          val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
          if (v.length == 6) Mat(v(0), v(1), v(2), v(3), v(4), v(5)) else Mat.identity
        case _ => Mat.identity
      }
      val off = new Bitmap(bmp.width, bmp.height, 0xFF000000)
      val ctm2 = gMat.multiply(gs.ctm)
      walk(doc, doc.streamData(g), gRes, ctm2, off, level + 1,
        initClip = bboxClip(g.dict("BBox"), ctm2))
      val out = new Array[Float](off.buf.length)
      var i = 0
      while (i < out.length) {
        val p = off.buf(i)
        out(i) = (0.3f * ((p >> 16) & 0xff) + 0.59f * ((p >> 8) & 0xff) + 0.11f * (p & 0xff)) / 255f
        i += 1
      }
      out
    }

    def doXObject(tag: String): Unit = doc.resolve(resources("XObject")) match {
      case xobjs: PdfDict => doc.resolve(xobjs(tag)) match {
        case PdfStream(xd, _)
            if ocHidden || OptionalContent.isHidden(doc, xd("OC"), ocOff) =>
          () // default-OFF layer: do not paint the XObject
        case s @ PdfStream(xd, _) => doc.resolve(xd("Subtype")) match {
          case PdfName("Image") =>
            decodeImagePixels(doc, s).foreach(px =>
              blitImage(bmp, gs.ctm, px, gs.fill, gs.clip, gs.fillAlpha, gs.blend, gs.softMask))
          case PdfName("Form") =>
            val formRes = doc.resolve(xd("Resources")) match { case d: PdfDict => d; case _ => resources }
            val formMat = doc.resolve(xd("Matrix")) match {
              case PdfArray(items) if items.length == 6 =>
                val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
                if (v.length == 6) Mat(v(0), v(1), v(2), v(3), v(4), v(5)) else Mat.identity
              case _ => Mat.identity
            }
            // §8.10.2: the form's /BBox clips its content; the caller's clip
            // carries through (both were previously dropped here).
            val formCtm = formMat.multiply(gs.ctm)
            val formClip = (gs.clip, bboxClip(xd("BBox"), formCtm)) match {
              case (Some(a), Some(b)) => Some(a.intersect(b))
              case (a, b) => a.orElse(b)
            }
            val groupDict = doc.resolve(xd("Group")) match {
              case g: PdfDict if doc.resolve(g("S")) == PdfName("Transparency") => Some(g)
              case _ => None
            }
            if (groupDict.isDefined &&
                (gs.fillAlpha < 1.0 || gs.blend != BlendNormal || gs.softMask != null)) {
              // §11.4.7 group compositing: the group is flattened FIRST,
              // then composited once with the group-level alpha/blend/soft
              // mask — per-object compositing would double-darken overlaps
              // inside the group. Backdrop choice by /I (isolated):
              //  - non-isolated: flatten against the page backdrop, so
              //    in-group blend modes see the page underneath;
              //  - isolated: flatten against a WHITE scratch — the opaque-
              //    model stand-in for the spec's transparent initial
              //    backdrop (exact for Normal/Multiply/Darken content, the
              //    overwhelming isolated-group reality; approximate
              //    otherwise).
              // Coverage is tracked by DUAL walks over two different
              // backdrops (the real one and its RGB inverse): a pixel both
              // walks leave at its own backdrop value was never marked. The
              // former single-walk inequality test misclassified marks that
              // happened to equal the backdrop — which under Difference/
              // Multiply must still change the result (ADVICE r3 #2).
              val isolated = doc.resolve(groupDict.get("I")) match {
                case PdfBool(b) => b; case _ => false
              }
              val knockout = doc.resolve(groupDict.get("K")) match {
                case PdfBool(b) => b; case _ => false
              }
              val n = bmp.buf.length
              val base1 = new Array[Int](n)
              val base2 = new Array[Int](n)
              if (isolated) {
                java.util.Arrays.fill(base1, 0xFFFFFFFF)
                java.util.Arrays.fill(base2, 0xFF000000)
              } else {
                System.arraycopy(bmp.buf, 0, base1, 0, n)
                var i = 0
                while (i < n) { base2(i) = base1(i) ^ 0x00FFFFFF; i += 1 }
              }
              val off = new Bitmap(bmp.width, bmp.height, 0)
              System.arraycopy(base1, 0, off.buf, 0, n)
              // /K knockout: every in-group mark composites against the
              // group's INITIAL backdrop (reads frozen, writes accumulate)
              // — stacked semi-transparent marks replace instead of darken
              if (knockout) off.knockoutBase = base1
              walk(doc, doc.streamData(s), formRes, formCtm, off, level + 1, initClip = formClip)
              val off2 = new Bitmap(bmp.width, bmp.height, 0)
              System.arraycopy(base2, 0, off2.buf, 0, n)
              if (knockout) off2.knockoutBase = base2
              walk(doc, doc.streamData(s), formRes, formCtm, off2, level + 1, initClip = formClip)
              val cr = formClip.getOrElse(ClipRegion.rect(0, 0, bmp.width - 1, bmp.height - 1))
              var y = math.max(0, cr.y0)
              while (y <= math.min(bmp.height - 1, cr.y1)) {
                var x = math.max(0, cr.x0)
                while (x <= math.min(bmp.width - 1, cr.x1)) {
                  val i = y * bmp.width + x
                  val covered = off.buf(i) != base1(i) || off2.buf(i) != base2(i)
                  if (covered && cr.allows(x, y)) {
                    val a = if (gs.softMask == null) gs.fillAlpha
                            else gs.fillAlpha * gs.softMask(i)
                    if (a > 0) bmp.buf(i) = composeArgb(bmp.buf(i), off.buf(i), a, gs.blend)
                  }
                  x += 1
                }
                y += 1
              }
            } else
              walk(doc, doc.streamData(s), formRes, formCtm, bmp, level + 1, initClip = formClip)
          case _ => ()
        }
        case _ => ()
      }
      case _ => ()
    }

    /** BI…ID…EI: parse the abbreviated dict, capture the data bytes, map the
      * abbreviations to full filter names and draw through the normal image
      * path (a synthetic PdfStream feeds decodeImagePixels). */
    def drawInlineImage(): Unit = {
      val entries = mutable.Map[String, PdfObject]()
      var done = false
      while (!lx.atEnd && !done) {
        lx.skipWs()
        if (lx.peek == '/') {
          val k = lx.parseObject(); val v = lx.parseObject()
          k match { case PdfName(n) => entries(n) = v; case _ => () }
        } else {
          val t = lx.readToken()
          if (t == "ID") {
            lx.pos += 1 // single whitespace after ID
            val start = lx.pos
            var i = start
            val d = lx.data
            var end = -1
            while (i < d.length - 1 && end < 0) {
              if (d(i) == 'E' && d(i + 1) == 'I' &&
                (i + 2 >= d.length || !lx.isRegular(d(i + 2) & 0xff)) &&
                (i == 0 || lx.isWhite(d(i - 1) & 0xff))) end = i
              else i += 1
            }
            if (end < 0) { lx.pos = d.length; return }
            val raw = java.util.Arrays.copyOfRange(d, start, math.max(start, end - 1))
            lx.pos = end + 2
            done = true
            // expand §8.9.7 abbreviations → standard stream-dict keys
            def full(o: PdfObject): PdfObject = o match {
              case PdfName(n) => PdfName(n match {
                case "G" => "DeviceGray"; case "RGB" => "DeviceRGB"; case "CMYK" => "DeviceCMYK"
                case "I" => "Indexed"
                case "AHx" => "ASCIIHexDecode"; case "A85" => "ASCII85Decode"
                case "LZW" => "LZWDecode"; case "Fl" => "FlateDecode"
                case "RL" => "RunLengthDecode"; case "CCF" => "CCITTFaxDecode"
                case "DCT" => "DCTDecode"; case other => other
              })
              case PdfArray(items) => PdfArray(items.map(full))
              case other => other
            }
            val normalized = entries.toMap.map {
              case ("W", v) => "Width" -> v
              case ("H", v) => "Height" -> v
              case ("BPC", v) => "BitsPerComponent" -> v
              case ("CS", v) => "ColorSpace" -> full(v)
              case ("F", v) => "Filter" -> full(v)
              case ("DP", v) => "DecodeParms" -> v
              case ("IM", v) => "ImageMask" -> v
              case (k, v) => k -> full(v)
            }
            val s = PdfStream(PdfDict(normalized), raw)
            if (!ocHidden)
              try decodeImagePixels(doc, s).foreach(px =>
                blitImage(bmp, gs.ctm, px, gs.fill, gs.clip, gs.fillAlpha, gs.blend, gs.softMask))
              catch { case _: Exception => () }
          } else if (t.isEmpty) lx.parseObject()
        }
      }
    }

    var running = true
    while (running && !lx.atEnd) {
      lx.skipWs()
      if (lx.atEnd) running = false
      else {
        val c = lx.peek
        if (c == '/' || c == '(' || c == '[' || c == '<' || c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
          operands += lx.parseObject()
          if (operands.length > 64) operands.remove(0, operands.length - 64)
        } else {
          val op = lx.readToken()
          if (op.isEmpty) lx.pos += 1
          else op match {
            case "q" => stack.push(gs.copy())
            case "Q" => if (stack.nonEmpty) gs = stack.pop()
            case "cm" =>
              val v = nums(6)
              gs.ctm = Mat(v(0), v(1), v(2), v(3), v(4), v(5)).multiply(gs.ctm)
            case "w" => gs.lineWidth = nums(1)(0)
            // §8.6.8: selecting a device color space REPLACES the pattern
            // color source — a stale pattern must not survive g/rg/k/cs
            case "g" => if (!colorLocked) { val v = nums(1); gs.fill = rgb(v(0), v(0), v(0)); gs.fillPattern = None }
            case "G" => if (!colorLocked) { val v = nums(1); gs.stroke = rgb(v(0), v(0), v(0)) }
            case "rg" => if (!colorLocked) { val v = nums(3); gs.fill = rgb(v(0), v(1), v(2)); gs.fillPattern = None }
            case "RG" => if (!colorLocked) { val v = nums(3); gs.stroke = rgb(v(0), v(1), v(2)) }
            case "k" => if (!colorLocked) { val v = nums(4); gs.fill = cmyk(v(0), v(1), v(2), v(3)); gs.fillPattern = None }
            case "K" => if (!colorLocked) { val v = nums(4); gs.stroke = cmyk(v(0), v(1), v(2), v(3)) }
            case "cs" => operands.lastOption match {
              case _ if colorLocked => ()
              case Some(PdfName("Pattern")) => () // pattern selected by the following scn
              case _ => gs.fillPattern = None
            }
            case "gs" => operands.lastOption match {
              // ExtGState: constant alpha (/ca /CA), blend mode (/BM), /LW
              case Some(PdfName(gname)) => doc.resolve(resources("ExtGState")) match {
                case egs: PdfDict => doc.resolve(egs(gname)) match {
                  case gd: PdfDict =>
                    doc.resolve(gd("ca")) match { case PdfNumber(v) => gs.fillAlpha = math.max(0, math.min(1, v)); case _ => () }
                    doc.resolve(gd("CA")) match { case PdfNumber(v) => gs.strokeAlpha = math.max(0, math.min(1, v)); case _ => () }
                    doc.resolve(gd("LW")) match { case PdfNumber(v) => gs.lineWidth = v; case _ => () }
                    doc.resolve(gd("BM")) match {
                      case PdfName(bm) => gs.blend = blendId(bm)
                      case PdfArray(items) if items.nonEmpty =>
                        doc.resolve(items(0)) match { case PdfName(bm) => gs.blend = blendId(bm); case _ => () }
                      case _ => ()
                    }
                    doc.resolve(gd("SMask")) match {
                      case PdfName("None") => gs.softMask = null
                      case sm: PdfDict =>
                        gs.softMask = try buildSoftMask(sm) catch { case _: Exception => null }
                      case _ => ()
                    }
                  case _ => ()
                }
                case _ => ()
              }
              case _ => ()
            }
            case "sc" | "scn" if !colorLocked =>
              // numeric operands: infer the family from the count (1=gray,
              // 3=rgb, 4=cmyk). A trailing pattern NAME selects a pattern
              // from /Pattern resources: shading patterns fill through the
              // shading machinery at paint time; tiling patterns walk their
              // cell at paint time (uncolored cells take the scn color).
              gs.fillPattern = None
              operands.lastOption match {
                case Some(PdfName(pname)) =>
                  def matOf(o: PdfObject): Mat = doc.resolve(o) match {
                    case PdfArray(items) if items.length == 6 =>
                      val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
                      if (v.length == 6) Mat(v(0), v(1), v(2), v(3), v(4), v(5)) else Mat.identity
                    case _ => Mat.identity
                  }
                  doc.resolve(resources("Pattern")) match {
                    case pats: PdfDict => doc.resolve(pats(pname)) match {
                      case pd: PdfDict if doc.resolve(pd("PatternType")) == PdfNumber(2) =>
                        val patCtm = matOf(pd("Matrix")).multiply(baseCtm)
                        doc.resolve(pd("Shading")) match {
                          case shDict: PdfDict => gs.fillPattern = Some((Right((shDict, None)), patCtm, -1))
                          case sstr @ PdfStream(shDict, _) =>
                            gs.fillPattern = Some((Right((shDict, Some(doc.streamData(sstr)))), patCtm, -1))
                          case _ => ()
                        }
                      case tile @ PdfStream(td, _) if doc.resolve(td("PatternType")) == PdfNumber(1) =>
                        // PaintType 2 = uncolored: the comps before the
                        // pattern name are the pattern color (§8.7.3.3)
                        val uncolored =
                          if (doc.resolve(td("PaintType")) == PdfNumber(2)) {
                            val ns = operands.collect { case PdfNumber(v) => v }
                            ns.length match {
                              case 1 => rgb(ns(0), ns(0), ns(0))
                              case 3 => rgb(ns(0), ns(1), ns(2))
                              case 4 => cmyk(ns(0), ns(1), ns(2), ns(3))
                              case _ => 0xFF000000
                            }
                          } else -1
                        gs.fillPattern = Some((Left(tile), matOf(td("Matrix")).multiply(baseCtm), uncolored))
                      case _ => ()
                    }
                    case _ => ()
                  }
                  if (gs.fillPattern.isEmpty) gs.fill = rgb(0.5, 0.5, 0.5)
                case _ =>
                  val ns = operands.collect { case PdfNumber(v) => v }
                  gs.fill = ns.length match {
                    case 1 => rgb(ns(0), ns(0), ns(0))
                    case 3 => rgb(ns(0), ns(1), ns(2))
                    case 4 => cmyk(ns(0), ns(1), ns(2), ns(3))
                    case _ => rgb(0.5, 0.5, 0.5)
                  }
              }
            case "SC" | "SCN" if !colorLocked =>
              val ns = operands.collect { case PdfNumber(v) => v }
              gs.stroke = ns.length match {
                case 1 => rgb(ns(0), ns(0), ns(0))
                case 3 => rgb(ns(0), ns(1), ns(2))
                case 4 => cmyk(ns(0), ns(1), ns(2), ns(3))
                case _ => rgb(0.5, 0.5, 0.5)
              }
            case "m" => val v = nums(2); moveTo(v(0), v(1))
            case "l" => val v = nums(2); lineTo(v(0), v(1))
            case "c" => val v = nums(6); curveTo(v(0), v(1), v(2), v(3), v(4), v(5))
            case "v" => val v = nums(4); curveTo(cx, cy, v(0), v(1), v(2), v(3))
            case "y" => val v = nums(4); curveTo(v(0), v(1), v(2), v(3), v(2), v(3))
            case "re" =>
              val v = nums(4)
              moveTo(v(0), v(1)); lineTo(v(0) + v(2), v(1)); lineTo(v(0) + v(2), v(1) + v(3)); lineTo(v(0), v(1) + v(3))
              subpaths.last += subpaths.last.head // close
            case "h" => if (subpaths.nonEmpty && subpaths.last.nonEmpty) subpaths.last += subpaths.last.head
            case "f" | "F" => paint(fill0 = true, stroke0 = false, evenOdd = false)
            case "f*" => paint(fill0 = true, stroke0 = false, evenOdd = true)
            case "B" => paint(fill0 = true, stroke0 = true, evenOdd = false)
            case "B*" => paint(fill0 = true, stroke0 = true, evenOdd = true)
            case "b" | "b*" =>
              if (subpaths.nonEmpty && subpaths.last.nonEmpty) subpaths.last += subpaths.last.head
              paint(fill0 = true, stroke0 = true, evenOdd = op == "b*")
            case "s" =>
              if (subpaths.nonEmpty && subpaths.last.nonEmpty) subpaths.last += subpaths.last.head
              paint(fill0 = false, stroke0 = true, evenOdd = false)
            case "S" => paint(fill0 = false, stroke0 = true, evenOdd = false)
            case "n" => clearPath()
            case "W" | "W*" => // clip (rect fast path or shaped mask), applied at the paint op
              pendingClip = true
              pendingClipEvenOdd = op == "W*"
            case "Do" => operands.lastOption match {
              case Some(PdfName(tag)) => doXObject(tag)
              case _ => ()
            }
            case "BI" => drawInlineImage() // consumes ID..EI; blit gated on ocHidden
            case "sh" => operands.lastOption match {
              case Some(PdfName(n)) if !ocHidden =>
                try drawShading(n) catch { case _: Exception => () }
              case _ => ()
            }
            case "BMC" => ocStack.push(false)
            case "BDC" =>
              ocStack.push(
                if (operands.length >= 2)
                  OptionalContent.bdcHidden(doc, resources,
                    operands(operands.length - 2), operands.last, ocOff)
                else false)
            case "EMC" => if (ocStack.nonEmpty) ocStack.pop()
            case _ => () // text ops handled by the text overlay pass
          }
          operands.clear()
        }
      }
    }
  }

  // ---- compositing ----------------------------------------------------------

  /** src-over composite of `src` onto the bitmap pixel at (x,y), with
    * constant alpha, an optional soft-mask alpha map (§11.6.5.2, bmp-sized)
    * and a blend mode (§11.3.5). alpha=1 + Normal + no mask short-circuits
    * to a plain store — the hot path stays branch-cheap. */
  @inline def composePixel(bmp: Bitmap, x: Int, y: Int, src: Int,
                           alpha: Double, blend: Int,
                           smask: Array[Float] = null): Unit = {
    if (alpha >= 1.0 && blend == BlendNormal && smask == null) bmp.set(x, y, src)
    else if (alpha > 0.0 && bmp.inBounds(x, y)) {
      val a = if (smask == null) alpha else alpha * smask(y * bmp.width + x)
      if (a > 0.0) {
        val dst = bmp.get(x, y)
        bmp.set(x, y, composeArgb(dst, src, a, blend))
      }
    }
  }

  /** Blend `src` over `dst` (both opaque ARGB) at constant `alpha`. */
  def composeArgb(dst: Int, src: Int, alpha: Double, blend: Int): Int = {
    if (blend >= BlendHue) return composeNonSeparable(dst, src, alpha, blend)
    @inline def bl(sb: Int, db: Int): Int = blend match {
      case BlendMultiply => sb * db / 255
      case BlendScreen => 255 - (255 - sb) * (255 - db) / 255
      case BlendDarken => math.min(sb, db)
      case BlendLighten => math.max(sb, db)
      case BlendDifference => math.abs(sb - db)
      case BlendExclusion => sb + db - 2 * sb * db / 255
      case BlendOverlay => // HardLight(db, sb)
        if (db <= 127) 2 * sb * db / 255 else 255 - 2 * (255 - sb) * (255 - db) / 255
      case BlendHardLight =>
        if (sb <= 127) 2 * sb * db / 255 else 255 - 2 * (255 - sb) * (255 - db) / 255
      case BlendSoftLight => // §11.3.5.2 B(cb,cs) with D(x)
        val cs = sb / 255.0; val cb = db / 255.0
        val r =
          if (cs <= 0.5) cb - (1 - 2 * cs) * cb * (1 - cb)
          else {
            val d = if (cb <= 0.25) ((16 * cb - 12) * cb + 4) * cb else math.sqrt(cb)
            cb + (2 * cs - 1) * (d - cb)
          }
        math.round(r * 255).toInt
      case BlendColorDodge =>
        if (db == 0) 0 else if (sb == 255) 255 else math.min(255, db * 255 / (255 - sb))
      case BlendColorBurn =>
        if (db == 255) 255 else if (sb == 0) 0 else 255 - math.min(255, (255 - db) * 255 / sb)
      case _ => sb
    }
    @inline def mix(shift: Int): Int = {
      val db = (dst >> shift) & 0xff
      val b = bl((src >> shift) & 0xff, db)
      math.max(0, math.min(255, math.round(db + alpha * (b - db)).toInt))
    }
    0xFF000000 | (mix(16) << 16) | (mix(8) << 8) | mix(0)
  }

  /** §11.3.5.3 non-separable blends: Hue/Saturation/Color/Luminosity via
    * the spec's SetLum/SetSat auxiliary functions over the [0,1] RGB cube. */
  private def composeNonSeparable(dst: Int, src: Int, alpha: Double, blend: Int): Int = {
    @inline def ch(p: Int, s: Int): Double = ((p >> s) & 0xff) / 255.0
    val (sr, sg, sb) = (ch(src, 16), ch(src, 8), ch(src, 0))
    val (dr, dg, db) = (ch(dst, 16), ch(dst, 8), ch(dst, 0))
    def lum(r: Double, g: Double, b: Double) = 0.3 * r + 0.59 * g + 0.11 * b
    def clipColor(r: Double, g: Double, b: Double): (Double, Double, Double) = {
      val l = lum(r, g, b)
      val n = math.min(r, math.min(g, b)); val x = math.max(r, math.max(g, b))
      var (cr, cg, cb) = (r, g, b)
      if (n < 0) { cr = l + (cr - l) * l / (l - n); cg = l + (cg - l) * l / (l - n); cb = l + (cb - l) * l / (l - n) }
      if (x > 1) { cr = l + (cr - l) * (1 - l) / (x - l); cg = l + (cg - l) * (1 - l) / (x - l); cb = l + (cb - l) * (1 - l) / (x - l) }
      (cr, cg, cb)
    }
    def setLum(r: Double, g: Double, b: Double, l: Double) = {
      val d = l - lum(r, g, b); clipColor(r + d, g + d, b + d)
    }
    def sat(r: Double, g: Double, b: Double) =
      math.max(r, math.max(g, b)) - math.min(r, math.min(g, b))
    def setSat(r: Double, g: Double, b: Double, s: Double): (Double, Double, Double) = {
      // scale the mid channel between min and max; min→0, max→s
      val mx = math.max(r, math.max(g, b)); val mn = math.min(r, math.min(g, b))
      def remap(c: Double) = if (mx > mn) (c - mn) / (mx - mn) * s else 0.0
      (remap(r), remap(g), remap(b))
    }
    val (br, bg, bb) = blend match {
      case BlendHue =>
        val (r1, g1, b1) = setSat(sr, sg, sb, sat(dr, dg, db))
        setLum(r1, g1, b1, lum(dr, dg, db))
      case BlendSaturation =>
        val (r1, g1, b1) = setSat(dr, dg, db, sat(sr, sg, sb))
        setLum(r1, g1, b1, lum(dr, dg, db))
      case BlendColor => setLum(sr, sg, sb, lum(dr, dg, db))
      case _ => setLum(dr, dg, db, lum(sr, sg, sb)) // Luminosity
    }
    @inline def mix(d: Double, b: Double): Int =
      math.max(0, math.min(255, math.round((d + alpha * (b - d)) * 255).toInt))
    0xFF000000 | (mix(dr, br) << 16) | (mix(dg, bg) << 8) | mix(db, bb)
  }

  // ---- scanline polygon fill ------------------------------------------------

  /** Scanline core: emit raw (xa, xb, y) spans of the polygon set under
    * even-odd or nonzero winding, rows yLo..yHi inclusive. */
  private def scanPolygons(polys: Vector[Array[(Double, Double)]], evenOdd: Boolean,
                           yLo: Int, yHi: Int)(emit: (Double, Double, Int) => Unit): Unit = {
    var y = yLo
    while (y <= yHi) {
      val yc = y + 0.5
      // crossings: (x, direction)
      val xs = mutable.ArrayBuffer[(Double, Int)]()
      polys.foreach { p =>
        var i = 0
        while (i < p.length) {
          val (ax, ay) = p(i)
          val (bx, by) = p((i + 1) % p.length)
          if ((ay <= yc && by > yc) || (by <= yc && ay > yc)) {
            val t = (yc - ay) / (by - ay)
            xs += ((ax + t * (bx - ax), if (by > ay) 1 else -1))
          }
          i += 1
        }
      }
      if (xs.nonEmpty) {
        val sorted = xs.sortBy(_._1)
        if (evenOdd) {
          var i = 0
          while (i + 1 < sorted.length) {
            emit(sorted(i)._1, sorted(i + 1)._1, y)
            i += 2
          }
        } else {
          // nonzero: fill between consecutive crossings while winding ≠ 0
          var wind = 0
          var i = 0
          while (i + 1 < sorted.length) {
            wind += sorted(i)._2
            if (wind != 0) emit(sorted(i)._1, sorted(i + 1)._1, y)
            i += 1
          }
        }
      }
      y += 1
    }
  }

  private def polysYRange(polys: Vector[Array[(Double, Double)]], hMax: Int,
                          clip: Clip): (Int, Int) = {
    var minY = Double.MaxValue
    var maxY = Double.MinValue
    polys.foreach(_.foreach { case (_, y) =>
      if (y < minY) minY = y
      if (y > maxY) maxY = y
    })
    var y0 = math.max(0, math.floor(minY).toInt)
    var y1 = math.min(hMax - 1, math.ceil(maxY).toInt)
    clip.foreach { c => y0 = math.max(y0, c.y0); y1 = math.min(y1, c.y1) }
    (y0, y1)
  }

  /** Fill closed polygons (device space) with even-odd or nonzero winding.
    * `aa` routes through the coverage-based anti-aliased core. */
  def fillPolygons(bmp: Bitmap, polys: Vector[Array[(Double, Double)]],
                   evenOdd: Boolean, argb: Int, clip: Clip = None,
                   alpha: Double = 1.0, blend: Int = BlendNormal,
                   smask: Array[Float] = null, aa: Boolean = false): Unit = {
    if (aa) { fillPolygonsAA(bmp, polys, evenOdd, argb, clip, alpha, blend, smask); return }
    val (y0, y1) = polysYRange(polys, bmp.height, clip)
    scanPolygons(polys, evenOdd, y0, y1) { (xa, xb, y) =>
      fillSpan(bmp, xa, xb, y, argb, clip, alpha, blend, smask)
    }
  }

  /** Anti-aliased fill: 4 sub-scanlines per pixel row accumulate
    * fractional horizontal coverage, then each pixel composites at
    * alpha × coverage. Interior pixels (coverage 1) keep the exact same
    * value as the aliased path; only partially-covered edge pixels
    * differ — pinned interior probes are AA-invariant by construction. */
  private def fillPolygonsAA(bmp: Bitmap, polys: Vector[Array[(Double, Double)]],
                             evenOdd: Boolean, argb: Int, clip: Clip,
                             alpha: Double, blend: Int,
                             smask: Array[Float]): Unit = {
    val S = 4
    val (y0, y1) = polysYRange(polys, bmp.height, clip)
    var cx0 = 0
    var cx1 = bmp.width - 1
    var mask: Array[Byte] = null
    var maskW = 0
    clip.foreach { c =>
      cx0 = math.max(cx0, c.x0); cx1 = math.min(cx1, c.x1)
      mask = c.mask; maskW = c.maskW
    }
    if (cx1 < cx0 || y1 < y0) return
    val cov = new Array[Float](bmp.width)
    val xs = mutable.ArrayBuffer[(Double, Int)]()
    var y = y0
    while (y <= y1) {
      java.util.Arrays.fill(cov, 0f)
      var s = 0
      while (s < S) {
        val yc = y + (s + 0.5) / S
        xs.clear()
        polys.foreach { p =>
          var i = 0
          while (i < p.length) {
            val (ax, ay) = p(i)
            val (bx, by) = p((i + 1) % p.length)
            if ((ay <= yc && by > yc) || (by <= yc && ay > yc)) {
              val t = (yc - ay) / (by - ay)
              xs += ((ax + t * (bx - ax), if (by > ay) 1 else -1))
            }
            i += 1
          }
        }
        if (xs.nonEmpty) {
          val sorted = xs.sortBy(_._1)
          @inline def addSpan(xa: Double, xb: Double): Unit = {
            var i0 = math.max(cx0, math.floor(xa).toInt)
            val i1 = math.min(cx1, math.ceil(xb).toInt - 1)
            while (i0 <= i1) {
              val c = math.min(i0 + 1.0, xb) - math.max(i0.toDouble, xa)
              if (c > 0) cov(i0) += math.min(1.0, c).toFloat
              i0 += 1
            }
          }
          if (evenOdd) {
            var i = 0
            while (i + 1 < sorted.length) { addSpan(sorted(i)._1, sorted(i + 1)._1); i += 2 }
          } else {
            var wind = 0
            var i = 0
            while (i + 1 < sorted.length) {
              wind += sorted(i)._2
              if (wind != 0) addSpan(sorted(i)._1, sorted(i + 1)._1)
              i += 1
            }
          }
        }
        s += 1
      }
      var x = cx0
      while (x <= cx1) {
        val c = cov(x) / S
        if (c > 0.001f && (mask == null || mask(y * maskW + x) != 0))
          composePixel(bmp, x, y, argb, alpha * math.min(1.0, c.toDouble), blend, smask)
        x += 1
      }
      y += 1
    }
  }

  /** Rasterize polygons into a 0/1 byte mask (shaped-clip construction). */
  private def fillPolygonsInto(m: Array[Byte], w: Int, h: Int,
                               polys: Vector[Array[(Double, Double)]],
                               evenOdd: Boolean): Unit = {
    val (y0, y1) = polysYRange(polys, h, None)
    scanPolygons(polys, evenOdd, y0, y1) { (xa, xb, y) =>
      var x = math.max(0, math.round(xa).toInt)
      val xe = math.min(w - 1, math.round(xb).toInt - 1)
      while (x <= xe) { m(y * w + x) = 1; x += 1 }
    }
  }

  @inline private def fillSpan(bmp: Bitmap, xa: Double, xb: Double, y: Int, argb: Int,
                               clip: Clip, alpha: Double, blend: Int,
                               smask: Array[Float]): Unit = {
    var x = math.max(0, math.round(xa).toInt)
    var xe = math.min(bmp.width - 1, math.round(xb).toInt - 1)
    var mask: Array[Byte] = null
    var maskW = 0
    clip.foreach { c =>
      x = math.max(x, c.x0); xe = math.min(xe, c.x1)
      mask = c.mask; maskW = c.maskW
    }
    if (alpha >= 1.0 && blend == BlendNormal && smask == null) {
      if (mask == null) { while (x <= xe) { bmp.set(x, y, argb); x += 1 } }
      else { while (x <= xe) { if (mask(y * maskW + x) != 0) bmp.set(x, y, argb); x += 1 } }
    } else if (alpha > 0.0) {
      while (x <= xe) {
        if (mask == null || mask(y * maskW + x) != 0) composePixel(bmp, x, y, argb, alpha, blend, smask)
        x += 1
      }
    }
  }

  /** Stroke a polyline as per-segment width-quads (round joins skipped). */
  def strokePolyline(bmp: Bitmap, pts: Array[(Double, Double)], width: Double, argb: Int,
                     clip: Clip = None, alpha: Double = 1.0, blend: Int = BlendNormal,
                     smask: Array[Float] = null, aa: Boolean = false): Unit = {
    val hw = width / 2
    var i = 0
    while (i + 1 < pts.length) {
      val (ax, ay) = pts(i)
      val (bx, by) = pts(i + 1)
      val len = math.hypot(bx - ax, by - ay)
      if (len > 1e-9) {
        val nx = -(by - ay) / len * hw
        val ny = (bx - ax) / len * hw
        fillPolygons(bmp, Vector(Array(
          (ax + nx, ay + ny), (bx + nx, by + ny), (bx - nx, by - ny), (ax - nx, ay - ny))),
          evenOdd = false, argb, clip, alpha, blend, smask, aa)
      }
      i += 1
    }
  }

  // ---- PDF functions (for shadings) ---------------------------------------

  /** Evaluate a /Function object (1-D input, as shadings use them): all
    * four function types — 0 (sampled, linear interpolation), 2
    * (exponential), 3 (stitching), 4 (PostScript calculator subset);
    * arrays evaluate per component. */
  def evalFunction(doc: PdfDocument, fnObj: PdfObject): Double => Array[Double] =
    doc.resolve(fnObj) match {
      case d: PdfDict => evalFunctionDict(doc, d, None)
      case st @ PdfStream(sd, _) => evalFunctionDict(doc, sd, Some(st))
      case PdfArray(items) =>
        val fns = items.map(evalFunction(doc, _))
        (t: Double) => fns.flatMap(f => f(t)).toArray
      case _ => (_: Double) => Array(0.5)
    }

  private def evalFunctionDict(doc: PdfDocument, d: PdfDict,
                               stream: Option[PdfStream]): Double => Array[Double] = {
    def numsOf(o: PdfObject): Array[Double] = doc.resolve(o) match {
      case PdfArray(items) => items.map(doc.resolve).collect { case PdfNumber(v) => v }.toArray
      case _ => Array.emptyDoubleArray
    }
    doc.resolve(d("FunctionType")) match {
      case PdfNumber(ft) if ft.toInt == 2 =>
        val c0 = { val a = numsOf(d("C0")); if (a.nonEmpty) a else Array(0.0) }
        val c1 = { val a = numsOf(d("C1")); if (a.nonEmpty) a else Array(1.0) }
        val n = doc.resolve(d("N")) match { case PdfNumber(v) => v; case _ => 1.0 }
        (t: Double) => {
          val tn = math.pow(math.max(0.0, math.min(1.0, t)), n)
          Array.tabulate(math.min(c0.length, c1.length))(i => c0(i) + tn * (c1(i) - c0(i)))
        }
      case PdfNumber(ft) if ft.toInt == 3 =>
        val dom = { val a = numsOf(d("Domain")); if (a.length >= 2) a else Array(0.0, 1.0) }
        val bounds = numsOf(d("Bounds"))
        val encode = numsOf(d("Encode"))
        val subs: Vector[Double => Array[Double]] = doc.resolve(d("Functions")) match {
          case PdfArray(items) => items.map(evalFunction(doc, _))
          case _ => Vector.empty
        }
        (t0: Double) => {
          if (subs.isEmpty) Array(0.5)
          else {
            val t = math.max(dom(0), math.min(dom(1), t0))
            var k = 0
            while (k < bounds.length && t >= bounds(k)) k += 1
            val lo = if (k == 0) dom(0) else bounds(k - 1)
            val hi = if (k >= bounds.length) dom(1) else bounds(k)
            val e0 = if (encode.length > 2 * k) encode(2 * k) else 0.0
            val e1 = if (encode.length > 2 * k + 1) encode(2 * k + 1) else 1.0
            val u = if (hi - lo < 1e-12) e0 else e0 + (t - lo) / (hi - lo) * (e1 - e0)
            subs(math.min(k, subs.length - 1))(u)
          }
        }
      case PdfNumber(ft) if ft.toInt == 0 && stream.isDefined =>
        evalSampled(doc, d, doc.streamData(stream.get))
      case PdfNumber(ft) if ft.toInt == 4 && stream.isDefined =>
        evalPostScript(doc, d, doc.streamData(stream.get))
      case _ => (_: Double) => Array(0.5)
    }
  }

  /** Type 0 sampled function, 1-D input: bit-packed big-endian samples,
    * linear interpolation, Encode/Decode mapping (PDF §7.10.2). */
  private def evalSampled(doc: PdfDocument, d: PdfDict, data: Array[Byte]): Double => Array[Double] = {
    def numsOf(o: PdfObject): Array[Double] = doc.resolve(o) match {
      case PdfArray(items) => items.map(doc.resolve).collect { case PdfNumber(v) => v }.toArray
      case _ => Array.emptyDoubleArray
    }
    val dom = { val a = numsOf(d("Domain")); if (a.length >= 2) a else Array(0.0, 1.0) }
    val range = numsOf(d("Range"))
    val nOut = math.max(1, range.length / 2)
    val size = numsOf(d("Size")).headOption.getOrElse(2.0).toInt
    val bps = doc.resolve(d("BitsPerSample")) match { case PdfNumber(v) => v.toInt; case _ => 8 }
    val encode = { val a = numsOf(d("Encode")); if (a.length >= 2) a else Array(0.0, (size - 1).toDouble) }
    val decode = { val a = numsOf(d("Decode")); if (a.length >= range.length) a else range }
    val maxVal = (1L << bps) - 1
    def sampleAt(idx: Int, comp: Int): Double = {
      val bitPos = (idx.toLong * nOut + comp) * bps
      var v = 0L
      var b = 0L
      while (b < bps) {
        val p = bitPos + b
        val bit = if ((p >> 3) < data.length) (data((p >> 3).toInt) >> (7 - (p & 7))) & 1 else 0
        v = (v << 1) | bit
        b += 1
      }
      v.toDouble / maxVal
    }
    (t0: Double) => {
      val t = math.max(dom(0), math.min(dom(1), t0))
      val e0 = if (dom(1) - dom(0) < 1e-12) encode(0)
        else encode(0) + (t - dom(0)) / (dom(1) - dom(0)) * (encode(1) - encode(0))
      val e = math.max(0.0, math.min((size - 1).toDouble, e0))
      val i0 = math.floor(e).toInt
      val i1 = math.min(size - 1, i0 + 1)
      val frac = e - i0
      Array.tabulate(nOut) { c =>
        val raw = sampleAt(i0, c) * (1 - frac) + sampleAt(i1, c) * frac
        val dLo = if (decode.length > 2 * c) decode(2 * c) else 0.0
        val dHi = if (decode.length > 2 * c + 1) decode(2 * c + 1) else 1.0
        dLo + raw * (dHi - dLo)
      }
    }
  }

  /** Type 4 PostScript calculator subset (PDF §7.10.5): arithmetic,
    * comparison, stack and conditional operators over a 1-value input. */
  private def evalPostScript(doc: PdfDocument, d: PdfDict, program: Array[Byte]): Double => Array[Double] = {
    def numsOf(o: PdfObject): Array[Double] = doc.resolve(o) match {
      case PdfArray(items) => items.map(doc.resolve).collect { case PdfNumber(v) => v }.toArray
      case _ => Array.emptyDoubleArray
    }
    val range = numsOf(d("Range"))
    val nOut = math.max(1, range.length / 2)
    // tokenize into a nested procedure tree
    sealed trait Tok
    final case class TNum(v: Double) extends Tok
    final case class TOp(name: String) extends Tok
    final case class TProc(body: Vector[Tok]) extends Tok
    val text = new String(program, java.nio.charset.StandardCharsets.ISO_8859_1)
    var pos = 0
    def parseProc(): Vector[Tok] = {
      val out = Vector.newBuilder[Tok]
      while (pos < text.length) {
        while (pos < text.length && text(pos).isWhitespace) pos += 1
        if (pos >= text.length) return out.result()
        text(pos) match {
          case '{' => pos += 1; out += TProc(parseProc())
          case '}' => pos += 1; return out.result()
          case _ =>
            val start = pos
            while (pos < text.length && !text(pos).isWhitespace && text(pos) != '{' && text(pos) != '}') pos += 1
            val w = text.substring(start, pos)
            try out += TNum(w.toDouble)
            catch { case _: Exception => out += TOp(w.toLowerCase) }
        }
      }
      out.result()
    }
    val outer0 = parseProc()
    // the program is wrapped in one outer { } — unwrap it
    val body: Vector[Tok] = outer0 match {
      case Vector(TProc(b)) => b
      case other => other
    }
    def exec(toks: Vector[Tok], st: mutable.ArrayBuffer[Double]): Unit = {
      var i = 0
      def pop(): Double = if (st.nonEmpty) st.remove(st.length - 1) else 0.0
      def push(v: Double): Unit = st += v
      def bool(v: Boolean): Double = if (v) 1.0 else 0.0
      while (i < toks.length) {
        toks(i) match {
          case TNum(v) => push(v)
          case TProc(_) => () // consumed by if/ifelse lookahead below
          case TOp(op) => op match {
            case "add" => val b = pop(); val a = pop(); push(a + b)
            case "sub" => val b = pop(); val a = pop(); push(a - b)
            case "mul" => val b = pop(); val a = pop(); push(a * b)
            case "div" => val b = pop(); val a = pop(); push(if (b != 0) a / b else 0.0)
            case "idiv" => val b = pop(); val a = pop(); push(if (b != 0) (a.toLong / b.toLong).toDouble else 0.0)
            case "mod" => val b = pop(); val a = pop(); push(if (b != 0) (a.toLong % b.toLong).toDouble else 0.0)
            case "neg" => push(-pop())
            case "abs" => push(math.abs(pop()))
            case "sqrt" => push(math.sqrt(math.max(0, pop())))
            case "sin" => push(math.sin(math.toRadians(pop())))
            case "cos" => push(math.cos(math.toRadians(pop())))
            case "atan" =>
              val den = pop(); val num = pop()
              val deg = math.toDegrees(math.atan2(num, den))
              push(if (deg < 0) deg + 360 else deg)
            case "exp" => val b = pop(); val a = pop(); push(math.pow(a, b))
            case "ln" => push(math.log(math.max(1e-300, pop())))
            case "log" => push(math.log10(math.max(1e-300, pop())))
            case "cvi" | "truncate" => push(pop().toLong.toDouble)
            case "cvr" => () // already real
            case "floor" => push(math.floor(pop()))
            case "ceiling" => push(math.ceil(pop()))
            case "round" => push(math.round(pop()).toDouble)
            case "dup" => val a = pop(); push(a); push(a)
            case "pop" => pop()
            case "exch" => val b = pop(); val a = pop(); push(b); push(a)
            case "copy" =>
              val n = pop().toInt
              val base = st.length - n
              if (n > 0 && base >= 0) (0 until n).foreach(k => push(st(base + k)))
            case "index" =>
              val n = pop().toInt
              if (n >= 0 && n < st.length) push(st(st.length - 1 - n))
            case "roll" =>
              val j = pop().toInt; val n = pop().toInt
              if (n > 0 && n <= st.length) {
                val base = st.length - n
                val seg = st.slice(base, st.length).toVector
                val jj = ((j % n) + n) % n
                val rolled = seg.takeRight(jj) ++ seg.dropRight(jj)
                (0 until n).foreach(k => st(base + k) = rolled(k))
              }
            case "eq" => val b = pop(); val a = pop(); push(bool(a == b))
            case "ne" => val b = pop(); val a = pop(); push(bool(a != b))
            case "gt" => val b = pop(); val a = pop(); push(bool(a > b))
            case "ge" => val b = pop(); val a = pop(); push(bool(a >= b))
            case "lt" => val b = pop(); val a = pop(); push(bool(a < b))
            case "le" => val b = pop(); val a = pop(); push(bool(a <= b))
            case "and" => val b = pop(); val a = pop(); push(bool(a != 0 && b != 0))
            case "or" => val b = pop(); val a = pop(); push(bool(a != 0 || b != 0))
            case "xor" => val b = pop(); val a = pop(); push(bool((a != 0) ^ (b != 0)))
            case "not" => push(bool(pop() == 0))
            case "bitshift" =>
              val sh = pop().toInt; val a = pop().toLong
              push((if (sh >= 0) a << sh else a >> -sh).toDouble)
            case "true" => push(1.0)
            case "false" => push(0.0)
            case "if" =>
              // pattern: cond {proc} if — the proc token precedes this op
              (toks.lift(i - 1)) match {
                case Some(TProc(p)) => if (pop() != 0) exec(p, st)
                case _ => pop()
              }
            case "ifelse" =>
              (toks.lift(i - 2), toks.lift(i - 1)) match {
                case (Some(TProc(p1)), Some(TProc(p2))) =>
                  if (pop() != 0) exec(p1, st) else exec(p2, st)
                case _ => pop()
              }
            case _ => ()
          }
        }
        i += 1
      }
    }
    (t: Double) => {
      val st = new mutable.ArrayBuffer[Double](16)
      st += t
      try exec(body, st) catch { case _: Exception => () }
      val out = Array.tabulate(nOut) { c =>
        val v = if (st.length >= nOut) st(st.length - nOut + c) else 0.5
        val lo = if (range.length > 2 * c) range(2 * c) else 0.0
        val hi = if (range.length > 2 * c + 1) range(2 * c + 1) else 1.0
        math.max(lo, math.min(hi, v))
      }
      out
    }
  }

  // ---- image decode + blit ----------------------------------------------------

  /** Decoded image: ARGB pixels; `mask` non-null marks a 1-bpp stencil
    * (§8.9.6.2 ImageMask — argb is unused, mask(i)=1 means "paint the fill
    * color here", 0 means "leave the backdrop"); `alpha` non-null carries
    * per-pixel /SMask alpha 0-255. */
  final case class ImagePixels(w: Int, h: Int, argb: Array[Int],
                               mask: Array[Byte] = null, alpha: Array[Byte] = null)

  /** Decode an image XObject to ARGB pixels where the codec allows. */
  def decodeImagePixels(doc: PdfDocument, s: PdfStream): Option[ImagePixels] = {
    val xd = s.dict
    def int(key: String, dflt: Int): Int = doc.resolve(xd(key)) match {
      case PdfNumber(v) => v.toInt; case _ => dflt
    }
    val w = int("Width", 0)
    val h = int("Height", 0)
    if (w <= 0 || h <= 0) return None
    val isMask = doc.resolve(xd("ImageMask")) match { case PdfBool(b) => b; case _ => false }
    val bpc = if (isMask) 1 else int("BitsPerComponent", 8)
    val cs = doc.resolve(xd("ColorSpace")) match {
      case PdfName(n) => n
      case PdfArray(items) if items.nonEmpty => doc.resolve(items(0)) match { case PdfName(n) => n; case _ => "" }
      case _ => "DeviceGray"
    }
    val data = doc.streamData(s)
    if (isMask) {
      // stencil mask: sample 0 paints with default Decode [0 1]; [1 0] flips
      val paintWhenOne = doc.resolve(xd("Decode")) match {
        case PdfArray(items) if items.nonEmpty =>
          doc.resolve(items(0)) match { case PdfNumber(v) => v >= 0.5; case _ => false }
        case _ => false
      }
      val rowBytes = (w + 7) / 8
      val bits: Option[Array[Byte]] = Filters.terminalFilter(xd, doc.resolve).map(_._1) match {
        case Some("CCITTFaxDecode") | Some("CCF") =>
          try {
            val parms = Filters.terminalFilter(xd, doc.resolve).map(_._2).getOrElse(PdfDict.empty)
            Some(Ccitt.decodeFilter(data, parms, doc.resolve))
          } catch { case _: Exception => None }
        case Some("JBIG2Decode") =>
          try {
            val parms = Filters.terminalFilter(xd, doc.resolve).map(_._2).getOrElse(PdfDict.empty)
            val globals = doc.resolve(parms("JBIG2Globals")) match {
              case g: PdfStream => Some(doc.streamData(g))
              case _ => None
            }
            Some(Jbig2.decodeFilter(data, globals, w, h))
          } catch { case _: Exception => None }
        case None | Some("FlateDecode") | Some("LZWDecode") if data.length >= rowBytes * h =>
          Some(data)
        case _ => None
      }
      return bits.map { bs =>
        val m = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bit = (bs(y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
            m(y * w + x) = if ((bit == 1) == paintWhenOne) 1 else 0
            x += 1
          }
          y += 1
        }
        ImagePixels(w, h, null, mask = m)
      }
    }
    val base = Filters.terminalFilter(xd, doc.resolve).map(_._1) match {
      case Some("DCTDecode") | Some("DCT") =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
          if (img == null) return None
          val out = new Array[Int](img.getWidth * img.getHeight)
          img.getRGB(0, 0, img.getWidth, img.getHeight, out, 0, img.getWidth)
          Some(ImagePixels(img.getWidth, img.getHeight, out))
        } catch { case _: Exception => None }
      case Some("CCITTFaxDecode") | Some("CCF") =>
        try {
          val parms = Filters.terminalFilter(xd, doc.resolve).map(_._2).getOrElse(PdfDict.empty)
          val bits = Ccitt.decodeFilter(data, parms, doc.resolve)
          // decodeFilter output polarity follows BlackIs1 (spec raw output)
          val oneIsBlack = doc.resolve(parms("BlackIs1")) match {
            case PdfBool(b) => b
            case _ => false
          }
          Some(onebitToArgb(bits, w, h, oneIsBlack))
        } catch { case _: Exception => None }
      case Some("JBIG2Decode") =>
        // generic-region JBIG2 decode; filter output is 0=black (PDF
        // polarity), same as the CCITT default
        try {
          val parms = Filters.terminalFilter(xd, doc.resolve).map(_._2).getOrElse(PdfDict.empty)
          val globals = doc.resolve(parms("JBIG2Globals")) match {
            case g: PdfStream => Some(doc.streamData(g))
            case _ => None
          }
          Some(onebitToArgb(Jbig2.decodeFilter(data, globals, w, h), w, h, oneIsBlack = false))
        } catch { case _: Exception => None }
      case Some("JPXDecode") =>
        // JPEG 2000 baseline decode (core/JpxCodec); streams outside the
        // decoder's documented scope fall back to a mid-gray placeholder at
        // the true geometry so scanned pages keep their image footprint
        try {
          val dec = JpxCodec.decode(data)
          val dw = dec.width; val dh = dec.height
          val n = math.min(dw * dh, w * h)
          val argb = Array.fill(w * h)(0xFF808080)
          val shift = math.max(0, dec.bpc - 8)
          var i = 0
          if (dec.components >= 3) {
            val r = dec.samples(0); val g = dec.samples(1); val b = dec.samples(2)
            while (i < n) {
              argb(i) = 0xFF000000 | ((r(i) >> shift) << 16) | ((g(i) >> shift) << 8) | (b(i) >> shift)
              i += 1
            }
          } else {
            val g = dec.samples(0)
            while (i < n) {
              val v = g(i) >> shift
              argb(i) = 0xFF000000 | (v << 16) | (v << 8) | v
              i += 1
            }
          }
          Some(ImagePixels(w, h, argb))
        } catch {
          case _: Exception => Some(ImagePixels(w, h, Array.fill(w * h)(0xFF808080)))
        }
      case _ if cs == "Indexed" || cs == "I" =>
        // [/Indexed base hival lookup] — palette lookup per sample (§8.6.6.3)
        indexedPalette(doc, xd).flatMap { pal =>
          val out = new Array[Int](w * h)
          val rowBits = w * bpc
          val rowBytes = (rowBits + 7) / 8
          if (data.length < rowBytes * h || bpc > 8) None
          else {
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val bitPos = y * rowBytes * 8 + x * bpc
                var v = 0
                var b = 0
                while (b < bpc) {
                  val p = bitPos + b
                  v = (v << 1) | ((data(p >> 3) >> (7 - (p & 7))) & 1)
                  b += 1
                }
                out(y * w + x) = pal(math.min(pal.length - 1, v))
                x += 1
              }
              y += 1
            }
            Some(ImagePixels(w, h, out))
          }
        }
      case _ => // fully decoded buffer (Flate/LZW/raw)
        val out = new Array[Int](w * h)
        if (bpc == 8 && cs == "DeviceRGB" && data.length >= w * h * 3) {
          var i = 0
          while (i < w * h) {
            out(i) = 0xFF000000 | ((data(i * 3) & 0xff) << 16) | ((data(i * 3 + 1) & 0xff) << 8) | (data(i * 3 + 2) & 0xff)
            i += 1
          }
          Some(ImagePixels(w, h, out))
        } else if (bpc == 8 && data.length >= w * h) { // gray (or 1-comp approx)
          var i = 0
          while (i < w * h) {
            val v = data(i) & 0xff
            out(i) = 0xFF000000 | (v << 16) | (v << 8) | v
            i += 1
          }
          Some(ImagePixels(w, h, out))
        } else if (bpc == 1 && data.length >= ((w + 7) / 8) * h) {
          Some(onebitToArgb(data, w, h, oneIsBlack = false)) // DeviceGray: 0 = black
        } else None
    }
    // /SMask: an 8-bpc gray image whose samples are per-pixel alpha
    // (§11.6.5.2); nearest-neighbor resampled when dims differ.
    base.map { px =>
      doc.resolve(xd("SMask")) match {
        case sm @ PdfStream(_, _) =>
          decodeImagePixels(doc, sm) match {
            case Some(mp) if mp.argb != null =>
              val a = new Array[Byte](px.w * px.h)
              var y = 0
              while (y < px.h) {
                val sy = math.min(mp.h - 1, y * mp.h / px.h)
                var x = 0
                while (x < px.w) {
                  val sx = math.min(mp.w - 1, x * mp.w / px.w)
                  // smask decoded as gray ARGB — any channel is the sample
                  a(y * px.w + x) = (mp.argb(sy * mp.w + sx) & 0xff).toByte
                  x += 1
                }
                y += 1
              }
              px.copy(alpha = a)
            case _ => px
          }
        case _ => px
      }
    }
  }

  /** ARGB palette of an [/Indexed base hival lookup] image colorspace; the
    * lookup may be a literal string or a stream. Base DeviceRGB (3 comps)
    * and DeviceGray (1 comp) carried. */
  private def indexedPalette(doc: PdfDocument, xd: PdfDict): Option[Array[Int]] = {
    doc.resolve(xd("ColorSpace")) match {
      case PdfArray(items) if items.length >= 4 =>
        val baseComps = doc.resolve(items(1)) match {
          case PdfName("DeviceGray") => 1
          case PdfName("DeviceCMYK") => 4
          case _ => 3
        }
        val hival = doc.resolve(items(2)) match { case PdfNumber(v) => v.toInt; case _ => 0 }
        val lookup: Array[Byte] = doc.resolve(items(3)) match {
          case PdfString(bytes) => bytes
          case s: PdfStream => doc.streamData(s)
          case _ => Array.emptyByteArray
        }
        if (hival < 0 || lookup.isEmpty) None
        else Some(Array.tabulate(hival + 1) { i =>
          def ch(c: Int): Int = {
            val p = i * baseComps + c
            if (p < lookup.length) lookup(p) & 0xff else 0
          }
          baseComps match {
            case 1 => 0xFF000000 | (ch(0) << 16) | (ch(0) << 8) | ch(0)
            case 4 =>
              val k = ch(3)
              def conv(v: Int) = (255 - v) * (255 - k) / 255
              0xFF000000 | (conv(ch(0)) << 16) | (conv(ch(1)) << 8) | conv(ch(2))
            case _ => 0xFF000000 | (ch(0) << 16) | (ch(1) << 8) | ch(2)
          }
        })
      case _ => None
    }
  }

  private def onebitToArgb(bits: Array[Byte], w: Int, h: Int, oneIsBlack: Boolean): ImagePixels = {
    val rowBytes = (w + 7) / 8
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bit = (bits(y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
        val black = (bit == 1) == oneIsBlack
        out(y * w + x) = if (black) 0xFF000000 else 0xFFFFFFFF
        x += 1
      }
      y += 1
    }
    ImagePixels(w, h, out)
  }

  /** Draw decoded pixels through `ctm` (unit square → device), inverse-
    * mapped. Stencil masks paint `fillForMask` only where the mask bit is
    * set; /SMask alpha and the constant fill alpha composite src-over. */
  def blitImage(bmp: Bitmap, ctm: Mat, px: ImagePixels, fillForMask: Int,
                clip: Clip = None, constAlpha: Double = 1.0,
                blend: Int = BlendNormal, smask: Array[Float] = null): Unit = {
    val bounds = ctm.onRect(Rect(0, 0, 1, 1))
    var x0 = math.max(0, math.floor(math.min(bounds.left, bounds.right)).toInt)
    var x1 = math.min(bmp.width - 1, math.ceil(math.max(bounds.left, bounds.right)).toInt)
    var y0 = math.max(0, math.floor(math.min(bounds.bottom, bounds.top)).toInt)
    var y1 = math.min(bmp.height - 1, math.ceil(math.max(bounds.bottom, bounds.top)).toInt)
    clip.foreach { c =>
      x0 = math.max(x0, c.x0); x1 = math.min(x1, c.x1)
      y0 = math.max(y0, c.y0); y1 = math.min(y1, c.y1)
    }
    val cmask = clip.map(c => (c.mask, c.maskW)).filter(_._1 != null)
    // image smoothing (FPDF_RENDER_NO_SMOOTHIMAGE analog, inverted):
    // bilinear source sampling of the resolved ARGB (+ alpha channel);
    // stencil masks stay nearest-sampled — a 1-bit stencil has no
    // in-between value to interpolate toward
    val bilinear = optsTL.get.aaImage && px.mask == null
    ctm.invert match {
      case Some(inv) =>
        var y = y0
        while (y <= y1) {
          var x = x0
          while (x <= x1) {
            val (u, v) = inv.onPoint(x + 0.5, y + 0.5)
            if ((u >= 0 && u < 1 && v >= 0 && v < 1) &&
                cmask.forall { case (m, mw) => m(y * mw + x) != 0 }) {
              val sx = math.min(px.w - 1, (u * px.w).toInt)
              val sy = math.min(px.h - 1, ((1 - v) * px.h).toInt) // image rows top-down
              val i = sy * px.w + sx
              if (px.mask != null) {
                // stencil: painted bits take the fill color, others skip
                if (px.mask(i) == 1) composePixel(bmp, x, y, fillForMask, constAlpha, blend, smask)
              } else if (bilinear) {
                val fx = u * px.w - 0.5
                val fy = (1 - v) * px.h - 0.5
                val ix = math.floor(fx).toInt; val iy = math.floor(fy).toInt
                val tx = fx - ix; val ty = fy - iy
                @inline def cl(p: Int, lim: Int) = math.max(0, math.min(lim - 1, p))
                val i00 = cl(iy, px.h) * px.w + cl(ix, px.w)
                val i01 = cl(iy, px.h) * px.w + cl(ix + 1, px.w)
                val i10 = cl(iy + 1, px.h) * px.w + cl(ix, px.w)
                val i11 = cl(iy + 1, px.h) * px.w + cl(ix + 1, px.w)
                @inline def lerp2(c00: Int, c01: Int, c10: Int, c11: Int): Int =
                  math.round(((c00 * (1 - tx) + c01 * tx) * (1 - ty) +
                    (c10 * (1 - tx) + c11 * tx) * ty)).toInt
                @inline def ch(p: Int, sh: Int): Int = (p >> sh) & 0xff
                val p00 = px.argb(i00); val p01 = px.argb(i01)
                val p10 = px.argb(i10); val p11 = px.argb(i11)
                val argb = 0xFF000000 |
                  (lerp2(ch(p00, 16), ch(p01, 16), ch(p10, 16), ch(p11, 16)) << 16) |
                  (lerp2(ch(p00, 8), ch(p01, 8), ch(p10, 8), ch(p11, 8)) << 8) |
                  lerp2(ch(p00, 0), ch(p01, 0), ch(p10, 0), ch(p11, 0))
                val a =
                  if (px.alpha != null)
                    lerp2(px.alpha(i00) & 0xff, px.alpha(i01) & 0xff,
                      px.alpha(i10) & 0xff, px.alpha(i11) & 0xff) / 255.0 * constAlpha
                  else constAlpha
                composePixel(bmp, x, y, argb, a, blend, smask)
              } else {
                val a = if (px.alpha != null) (px.alpha(i) & 0xff) / 255.0 * constAlpha else constAlpha
                composePixel(bmp, x, y, px.argb(i), a, blend, smask)
              }
            }
            x += 1
          }
          y += 1
        }
      case None => ()
    }
  }
}

package graft.core

import scala.collection.mutable

/** Glyph-level metrics + unicode decoding for one PDF font resource.
  *
  * Re-implements (from PDF 32000-1 §9 + the sfnt spec) what PDFium's
  * CPDF_Font/CFX_Font do behind pypdfium2's text APIs: ToUnicode CMaps,
  * /Encoding /Differences with AGL + uniXXXX glyph names, Type0/Identity-H
  * two-byte codes, /Widths advances, and embedded-TrueType glyph bounding
  * boxes (needed for charboxes — reference textpage.py:196-221 — and for
  * PDFium's zero-width text-object skip that drops space-only show ops).
  */
final class PdfFontDecoder(
    val tag: String,                    // resource name, e.g. "F1"
    val subtype: String,
    val baseFont: String,
    val isType0: Boolean,
    codeBytes: Int,                     // 1 for simple fonts, 2 for Identity-H
    toUnicode: Map[Int, String],
    diffNames: Map[Int, String],        // code -> glyph name (simple fonts)
    baseEncoding: String,
    firstChar: Int,
    widths: Array[Double],              // advance per code-index, /1000 units
    defaultWidth: Double,
    cidWidths: Map[Int, Double],        // Type0 /W, /1000 units
    val truetype: Option[TrueTypeFont],
    cidToGid: Option[Array[Int]],
    val ascent: Double,                 // /1000 units
    val descent: Double,                // /1000 units (negative)
    val weight: Int,
    val isEmbedded: Boolean,
    fontMatrix: Option[Mat],            // Type3 only
    cmapEnc: Option[CMapEncoding],      // Type0 encoding CMap
    val type1: Option[Type1Font] = None,   // embedded /FontFile program
    val cff: Option[CffFont] = None,       // embedded /FontFile3 (Type1C/CID-CFF)
    val type3Procs: Map[String, PdfStream] = Map.empty, // Type3 CharProcs
    val type3Resources: PdfDict = PdfDict.empty,        // Type3 /Resources
    /** Platform face for unembedded non-Standard-14 fonts ([[SysFonts]]) —
      * metrics/outlines fallback only; does NOT make the font "embedded". */
    val substitute: Option[TrueTypeFont] = None) {

  /** Strip the 6-letter subset tag ("BAAAAA+Ubuntu" → "Ubuntu") like PDFium's
    * base-name helpers (reference test: tests/test_textpage.py:159-191). */
  def baseNameNoSubset: String =
    if (baseFont.length > 7 && baseFont.charAt(6) == '+' &&
      baseFont.take(6).forall(c => c >= 'A' && c <= 'Z')) baseFont.drop(7)
    else baseFont

  def familyName: String =
    truetype.flatMap(_.familyName).getOrElse(baseNameNoSubset)

  /** Split a show-string into charcodes. */
  def codes(bytes: Array[Byte]): Array[Int] = {
    cmapEnc match {
      case Some(e) if !e.isPlainTwoByte => return e.splitCodes(bytes)
      case _ => ()
    }
    if (codeBytes == 2) {
      val n = bytes.length / 2
      val out = new Array[Int](n)
      var i = 0
      while (i < n) { out(i) = ((bytes(2 * i) & 0xff) << 8) | (bytes(2 * i + 1) & 0xff); i += 1 }
      out
    } else {
      val out = new Array[Int](bytes.length)
      var i = 0
      while (i < bytes.length) { out(i) = bytes(i) & 0xff; i += 1 }
      out
    }
  }

  /** One code's per-font glyph metrics, computed once (PDFium's
    * CPDF_SimpleFont keeps the same per-font width and bbox tables). */
  private final class Glyph(val unicode: String, val advance: Double, val bbox: Option[Rect])
  // Codes 0-255 index an array; wider codes (Type0, CMap-split) a map,
  // capped at the 2-byte code space so a content stream of distinct 4-byte
  // codes cannot grow it without bound. The decoder is document-scoped, so
  // these tables are never shared across threads.
  private val lowGlyphs = new Array[Glyph](256)
  private val wideGlyphs = new java.util.HashMap[Int, Glyph]()
  private val MaxWideGlyphs = 1 << 16

  private def glyph(code: Int): Glyph =
    if (code >= 0 && code < 256) {
      var g = lowGlyphs(code)
      if (g == null) { g = computeGlyph(code); lowGlyphs(code) = g }
      g
    } else {
      var g = wideGlyphs.get(code)
      if (g == null) {
        g = computeGlyph(code)
        if (wideGlyphs.size < MaxWideGlyphs) wideGlyphs.put(code, g)
      }
      g
    }

  private def computeGlyph(code: Int): Glyph =
    new Glyph(computeUnicode(code), computeAdvance(code), computeGlyphBBox(code))

  /** Unicode string for a charcode — may be multi-char (ligatures: fixture
    * text.pdf maps <1D> → "ffi"); empty string if unmappable. Preference
    * order mirrors PDFium: ToUnicode, then encoding/glyph names, then the
    * code itself for simple fonts. */
  def unicode(code: Int): String = glyph(code).unicode

  /** Advance width in text-space units (em fraction, i.e. /1000 applied). */
  def advance(code: Int): Double = glyph(code).advance

  /** Tight glyph bbox in em fractions (glyph-space/unitsPerEm), or None when
    * the glyph has no outline (space) or no metrics source exists. */
  def glyphBBox(code: Int): Option[Rect] = glyph(code).bbox

  // The compute* bodies call each other, never the cached accessors above:
  // a table slot is filled only after all three are known.
  private def computeUnicode(code: Int): String = {
    toUnicode.get(code) match {
      case Some(s) => return s
      case None => ()
    }
    if (isType0) // no ToUnicode: fall back to the encoding CMap's unicode
      return cmapEnc.map(_.unicode(code)).getOrElse("")
    diffNames.get(code).flatMap(GlyphNames.toUnicode) match {
      case Some(s) => return s
      case None => ()
    }
    val viaBase = baseEncoding match {
      case "WinAnsiEncoding" => GlyphNames.winAnsi(code)
      case "MacRomanEncoding" => GlyphNames.macRoman(code)
      case _ => GlyphNames.standard(code)
    }
    viaBase match {
      case Some(s) => s
      case None => if (code >= 32 && code < 127) code.toChar.toString else ""
    }
  }

  private def computeAdvance(code: Int): Double = {
    if (isType0) {
      val c = cid(code)
      if (c >= 0) cidWidths.get(c) match {
        case Some(w) => return w / 1000.0
        case None => ()
      }
      return defaultWidth / 1000.0
    }
    // Type3 glyph space is scaled by /FontMatrix, not the fixed 1/1000
    val wScale = fontMatrix.map(_.a).getOrElse(0.001)
    val idx = code - firstChar
    if (idx >= 0 && idx < widths.length && widths(idx) > 0) widths(idx) * wScale
    else if (idx >= 0 && idx < widths.length) 0.0 // explicit zero width
    else truetype.flatMap(tt => glyphId(code).map(tt.advance))
      .orElse(type1.flatMap(t1 => glyphName(code).flatMap(t1.emAdvance)))
      .orElse(cff.flatMap(c => cffGid(code).flatMap(c.emAdvance)))
      .orElse {
        // Standard-14 base font without /Widths (older web PDFs)
        val u = computeUnicode(code)
        if (u.nonEmpty) Standard14.width(baseNameNoSubset, u.charAt(0)).map(_ / 1000.0) else None
      }
      .orElse(substitute.flatMap(st => subGlyphId(code).map(st.advance)))
      .getOrElse(defaultWidth / 1000.0)
  }

  /** Glyph id in the SUBSTITUTE face: pure unicode lookup (the platform
    * face's cmap is unicode-keyed; the PDF's own code→glyph rules only
    * apply to the embedded program it doesn't have). */
  private def subGlyphId(code: Int): Option[Int] = substitute.flatMap { st =>
    val u = computeUnicode(code)
    if (u.nonEmpty) st.cmapLookup(3, u.codePointAt(0)).filter(_ != 0) else None
  }

  /** CID for a charcode: identity for Identity-H/V, embedded-CMap lookup
    * otherwise; -1 (→ /DW width, glyph 0) for predefined non-identity CMaps
    * whose tables the engine does not carry. */
  def cid(code: Int): Int = cmapEnc match {
    case Some(e) => e.cid(code)
    case None => code
  }

  /** Glyph NAME for a simple-font charcode: /Differences first, then the
    * embedded Type1 program's builtin encoding, then Adobe StandardEncoding
    * (needed for CFF fonts, whose builtin encoding usually IS standard). */
  def glyphName(code: Int): Option[String] =
    diffNames.get(code)
      .orElse(type1.flatMap(_.encoding.get(code)))
      .orElse(if (cff.isDefined || type1.isDefined) CffFont.standardName(code) else None)

  /** CFF glyph id for a charcode: CID-keyed charset for Type0, glyph-name
    * charset for simple fonts. */
  private def cffGid(code: Int): Option[Int] = cff.flatMap { c =>
    if (isType0) { val cd = cid(code); if (cd >= 0) c.gidForCid(cd).orElse(Some(cd).filter(_ < c.numGlyphs)) else None }
    else glyphName(code).flatMap(c.gidForName)
  }

  /** Flattened glyph outline contours in em fractions (for rasterization):
    * TrueType glyf, Type1 charstrings, or CFF Type2 charstrings. */
  def glyphOutline(code: Int): Vector[Array[Double]] = truetype match {
    case Some(tt) => glyphId(code).map(tt.glyphContours).getOrElse(Vector.empty)
    case None => type1 match {
      case Some(t1) => glyphName(code).map(t1.emContours).getOrElse(Vector.empty)
      case None => cff match {
        case Some(c) => cffGid(code).map(c.emContours).getOrElse(Vector.empty)
        case None => substitute match { // platform face for unembedded fonts
          case Some(st) => subGlyphId(code).map(st.glyphContours).getOrElse(Vector.empty)
          case None => Vector.empty
        }
      }
    }
  }

  /** Glyph id in the embedded TrueType, per PDF §9.6.6.4 mapping rules. */
  def glyphId(code: Int): Option[Int] = truetype.flatMap { tt =>
    if (isType0) {
      val c = cid(code)
      if (c < 0) Some(0) // unresolvable CID (predefined non-identity CMap)
      else cidToGid match {
        case Some(mapArr) => if (c < mapArr.length) Some(mapArr(c)) else Some(0)
        case None => Some(c)
      }
    } else {
      def nonZero(g: Option[Int]): Option[Int] = g.filter(_ != 0)
      nonZero(tt.cmapLookup(1, code))
        .orElse(nonZero(tt.cmapLookup(3, 0xF000 | code)))
        .orElse(nonZero(tt.cmapLookup(3, code)))
        .orElse {
          val u = computeUnicode(code)
          if (u.nonEmpty) nonZero(tt.cmapLookup(3, u.codePointAt(0))) else None
        }
        .orElse(if (tt.hasCmap) None else Some(code))
    }
  }

  private def computeGlyphBBox(code: Int): Option[Rect] = {
    truetype match {
      case Some(tt) =>
        glyphId(code).flatMap(tt.glyphBBox)
      case None =>
        // Type1/CFF program: exact charstring control box; else the
        // substitute platform face's real glyph box (SysFonts)
        type1.flatMap(t1 => glyphName(code).flatMap(t1.emBBox))
          .orElse(cff.flatMap(c => cffGid(code).flatMap(c.emBBox)))
          .orElse(substitute.flatMap(st => subGlyphId(code).flatMap(st.glyphBBox))) match {
          case some @ Some(_) => return some
          case None => ()
        }
        // No embedded outline data: approximate with advance × (descent..ascent),
        // except spaces which stay outline-less (keeps PDFium's zero-width
        // object skip working for unembedded fonts).
        val u = computeUnicode(code)
        if (u == " " || u.isEmpty) None
        else {
          val adv = computeAdvance(code)
          if (adv <= 0) None
          else Some(Rect(0, math.min(descent / 1000.0, 0), adv, math.max(ascent / 1000.0, 0.7)))
        }
    }
  }

  def type3Matrix: Option[Mat] = fontMatrix
}

object PdfFontDecoder {

  /** Build a decoder from a /Font resource dict. */
  def fromDict(tag: String, fontDict: PdfDict, doc: PdfDocument): PdfFontDecoder = {
    def res(o: PdfObject): PdfObject = doc.resolve(o)
    def name(o: PdfObject): String = res(o) match { case PdfName(n) => n; case _ => "" }
    def num(o: PdfObject, dflt: Double): Double = res(o) match { case PdfNumber(v) => v; case _ => dflt }

    val subtype = name(fontDict("Subtype"))
    val isType0 = subtype == "Type0"
    val descFont: PdfDict =
      if (isType0) res(fontDict("DescendantFonts")) match {
        case PdfArray(items) if items.nonEmpty => res(items(0)) match { case d: PdfDict => d; case _ => PdfDict.empty }
        case _ => PdfDict.empty
      } else fontDict
    val baseFont = name(fontDict("BaseFont")) match { case "" => name(descFont("BaseFont")); case b => b }

    // ToUnicode
    val toUni: Map[Int, String] = res(fontDict("ToUnicode")) match {
      case s: PdfStream => FontCache.toUnicode(s.raw, () => doc.streamData(s))
      case _ => Map.empty
    }

    // Encoding (simple fonts)
    var baseEnc = ""
    val diffs = mutable.Map[Int, String]()
    if (!isType0) res(fontDict("Encoding")) match {
      case PdfName(n) => baseEnc = n
      case d: PdfDict =>
        baseEnc = name(d("BaseEncoding"))
        res(d("Differences")) match {
          case PdfArray(items) =>
            var cur = 0
            items.foreach { it =>
              res(it) match {
                case PdfNumber(v) => cur = v.toInt
                case PdfName(g) => diffs(cur) = g; cur += 1
                case _ => ()
              }
            }
          case _ => ()
        }
      case _ => ()
    }

    // Encoding (Type0): predefined CMaps by name (Identity-H/V, Uni*-UCS2/
    // UTF16, GBK-EUC, RKSJ, EUC, B5, UHC families) or an embedded CMap stream
    val cmapEnc: Option[CMapEncoding] = if (isType0) {
      res(fontDict("Encoding")) match {
        case PdfName(n) => Some(PredefCMaps.byName(n))
        case s: PdfStream =>
          try Some(CMapParser.parseCidCMap(doc.streamData(s)))
          catch { case _: Exception => Some(PredefCMaps.identityH) }
        case _ => Some(PredefCMaps.identityH)
      }
    } else None
    val codeBytes = if (isType0) 2 else 1

    val firstChar = num(fontDict("FirstChar"), 0).toInt
    val widths: Array[Double] = res(fontDict("Widths")) match {
      case PdfArray(items) => items.map(it => num(it, 0)).toArray
      case _ => Array.emptyDoubleArray
    }

    // Type0 /W array: [ cidStart [w1 w2 ...] | cidStart cidEnd w ]*
    val cidW = mutable.Map[Int, Double]()
    if (isType0) res(descFont("W")) match {
      case PdfArray(items) =>
        var i = 0
        val resolved = items.map(res)
        while (i < resolved.length) {
          resolved(i) match {
            case PdfNumber(start) =>
              if (i + 1 < resolved.length) resolved(i + 1) match {
                case PdfArray(ws) =>
                  var k = 0
                  ws.map(res).foreach { case PdfNumber(w) => cidW(start.toInt + k) = w; k += 1; case _ => () }
                  i += 2
                case PdfNumber(end) =>
                  if (i + 2 < resolved.length) resolved(i + 2) match {
                    case PdfNumber(w) =>
                      var c = start.toInt
                      while (c <= end.toInt) { cidW(c) = w; c += 1 }
                    case _ => ()
                  }
                  i += 3
                case _ => i += 1
              } else i += 1
            case _ => i += 1
          }
        }
      case _ => ()
    }
    val defaultW = if (isType0) num(descFont("DW"), 1000.0) else {
      res(descFont("FontDescriptor")) match {
        case fd: PdfDict => num(fd("MissingWidth"), 500.0)
        case _ => 500.0
      }
    }

    // descriptor + embedded font program
    val descriptor: PdfDict = res(descFont("FontDescriptor")) match { case d: PdfDict => d; case _ => PdfDict.empty }
    val fontFile2 = res(descriptor("FontFile2"))
    val embedded = descriptor.contains("FontFile2") || descriptor.contains("FontFile3") || descriptor.contains("FontFile")
    val tt: Option[TrueTypeFont] = fontFile2 match {
      case s: PdfStream => FontCache.trueType(s.raw, () => doc.streamData(s))
      case _ => None
    }

    // classic Type1 program (/FontFile): exact widths/boxes/outlines
    val t1: Option[Type1Font] = res(descriptor("FontFile")) match {
      case s: PdfStream =>
        val l1 = num(s.dict("Length1"), 0).toInt
        val l2 = num(s.dict("Length2"), 0).toInt
        FontCache.type1(s.raw, () => doc.streamData(s), l1, l2)
      case _ => None
    }
    // CFF program (/FontFile3: Type1C, CIDFontType0C, or OpenType wrapper)
    val cffFont: Option[CffFont] = res(descriptor("FontFile3")) match {
      case s: PdfStream => FontCache.cff(s.raw, () => doc.streamData(s))
      case _ => None
    }

    val cid2gid: Option[Array[Int]] = if (isType0) res(descFont("CIDToGIDMap")) match {
      case s: PdfStream =>
        val b = doc.streamData(s)
        val arr = new Array[Int](b.length / 2)
        var i = 0
        while (i < arr.length) { arr(i) = ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff); i += 1 }
        Some(arr)
      case _ => None // /Identity or absent
    } else None

    val ascent = num(descriptor("Ascent"), tt.map(_.ascent1000).getOrElse(750.0))
    val descent = num(descriptor("Descent"), tt.map(_.descent1000).getOrElse(-250.0))
    val weight = num(descriptor("FontWeight"), tt.flatMap(_.os2Weight).getOrElse(400).toDouble).toInt

    // Type3 glyph procedures (content streams keyed by glyph name) + the
    // font's own resource dict, for the rasterizer's charproc execution
    val t3Procs: Map[String, PdfStream] =
      if (subtype == "Type3") res(fontDict("CharProcs")) match {
        case cp: PdfDict => cp.entries.flatMap { case (n, v) =>
          res(v) match { case s: PdfStream => Some(n -> s); case _ => None }
        }
        case _ => Map.empty
      } else Map.empty
    val t3Res: PdfDict =
      if (subtype == "Type3") res(fontDict("Resources")) match {
        case d: PdfDict => d
        case _ => PdfDict.empty
      } else PdfDict.empty

    val fontMatrix: Option[Mat] = if (subtype == "Type3") res(fontDict("FontMatrix")) match {
      case PdfArray(items) if items.length == 6 =>
        val v = items.map(it => num(it, 0))
        Some(Mat(v(0), v(1), v(2), v(3), v(4), v(5)))
      case _ => Some(Mat(0.001, 0, 0, 0.001, 0, 0))
    } else None

    // substitute-font metrics (sysfontinfo.py / default_fonts.py analog):
    // unembedded NON-standard-14 fonts get a platform face so charboxes
    // and rendering stop relying on synthetic boxes; Standard-14 names
    // keep the AFM-width path (their goldens pin that behavior)
    val substitute: Option[TrueTypeFont] =
      if (!embedded && tt.isEmpty && t1.isEmpty && cffFont.isEmpty &&
          subtype != "Type3" && !SysFonts.isStandard14Name(baseFont))
        SysFonts.substituteFor(baseFont, num(descriptor("Flags"), 0).toInt)
      else None

    new PdfFontDecoder(tag, subtype, baseFont, isType0, codeBytes, toUni, diffs.toMap,
      baseEnc, firstChar, widths, defaultW, cidW.toMap, tt, cid2gid,
      ascent, descent, weight, embedded, fontMatrix, cmapEnc, t1, cffFont, t3Procs, t3Res,
      substitute)
  }
}

/** ToUnicode CMap parser (bfchar / bfrange / codespacerange subset of the CMap
  * grammar — enough for Tagged-PDF-era generators; PDF §9.10.3). */
object CMapParser {
  def parseToUnicode(data: Array[Byte]): Map[Int, String] = {
    val out = mutable.Map[Int, String]()
    val lx = new Lexer(data)
    val stack = mutable.ArrayBuffer[PdfObject]()
    var mode = 0 // 0 none, 1 bfchar, 2 bfrange
    while (!lx.atEnd) {
      lx.skipWs()
      if (lx.atEnd) ()
      else {
        val c = lx.peek
        if (c == '<' && lx.peekAt(1) != '<') stack += lx.readHexString()
        else if (c == '[') stack += lx.parseObject()
        else if (c == '<' || c == '(' || c == '/' || c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9'))
          stack += lx.parseObject()
        else {
          val kw = lx.readToken()
          if (kw.isEmpty) lx.pos += 1
          else kw match {
            case "beginbfchar" => mode = 1; stack.clear()
            case "beginbfrange" => mode = 2; stack.clear()
            case "endbfchar" | "endbfrange" | "begincodespacerange" | "endcodespacerange" =>
              mode = 0; stack.clear()
            case _ => ()
          }
        }
        // drain complete tuples
        if (mode == 1 && stack.length >= 2) {
          (stack(0), stack(1)) match {
            case (PdfString(src), PdfString(dst)) => out(beInt(src)) = utf16be(dst)
            case _ => ()
          }
          stack.remove(0, 2)
        } else if (mode == 2 && stack.length >= 3) {
          (stack(0), stack(1), stack(2)) match {
            case (PdfString(lo), PdfString(hi), PdfString(dst)) =>
              val l = beInt(lo); val h = beInt(hi)
              var code = l
              val base = dst.clone()
              while (code <= h && code - l < 65536) {
                val d = base.clone()
                // increment last 2 bytes (UTF-16BE code unit) by (code - l)
                if (d.length >= 2) {
                  val last = ((d(d.length - 2) & 0xff) << 8 | (d(d.length - 1) & 0xff)) + (code - l)
                  d(d.length - 2) = ((last >> 8) & 0xff).toByte
                  d(d.length - 1) = (last & 0xff).toByte
                }
                out(code) = utf16be(d)
                code += 1
              }
            case (PdfString(lo), PdfString(hi), PdfArray(items)) =>
              val l = beInt(lo)
              items.zipWithIndex.foreach {
                case (PdfString(d), k) if l + k <= beInt(hi) => out(l + k) = utf16be(d)
                case _ => ()
              }
            case _ => ()
          }
          stack.remove(0, 3)
        } else if (mode == 0 && stack.nonEmpty) stack.clear()
      }
    }
    out.toMap
  }

  private def beInt(b: Array[Byte]): Int = {
    var v = 0
    var i = 0
    while (i < b.length && i < 4) { v = (v << 8) | (b(i) & 0xff); i += 1 }
    v
  }
  private def utf16be(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_16BE)

  /** Embedded encoding-CMap stream (PDF §9.7.5.3): codespacerange +
    * cidchar/cidrange define code splitting and code→CID; `usecmap`
    * inherits from a predefined CMap (charset/UCS2 unicode mapping rides
    * along from that base). */
  def parseCidCMap(data: Array[Byte]): CMapEncoding = {
    val space = Vector.newBuilder[(Int, Long, Long)]
    val cidSingle = scala.collection.mutable.Map[Int, Int]()
    val cidRanges = Vector.newBuilder[(Int, Int, Int)]
    var useBase: Option[CMapEncoding] = None
    var lastName: String = ""

    val lx = new Lexer(data)
    val stack = scala.collection.mutable.ArrayBuffer[PdfObject]()
    var mode = 0 // 0 none, 1 codespacerange, 2 cidchar, 3 cidrange
    while (!lx.atEnd) {
      lx.skipWs()
      if (!lx.atEnd) {
        val c = lx.peek
        if (c == '<' && lx.peekAt(1) != '<') stack += lx.readHexString()
        else if (c == '<' || c == '(' || c == '/' || c == '+' || c == '-' || c == '.' ||
          (c >= '0' && c <= '9') || c == '[') {
          val o = lx.parseObject()
          o match { case PdfName(n) => lastName = n; case _ => () }
          stack += o
        } else {
          val kw = lx.readToken()
          if (kw.isEmpty) lx.pos += 1
          else kw match {
            case "begincodespacerange" => mode = 1; stack.clear()
            case "begincidchar" => mode = 2; stack.clear()
            case "begincidrange" => mode = 3; stack.clear()
            case "endcodespacerange" | "endcidchar" | "endcidrange" => mode = 0; stack.clear()
            case "usecmap" => useBase = Some(PredefCMaps.byName(lastName)); stack.clear()
            case _ => ()
          }
        }
        if (mode == 1 && stack.length >= 2) {
          (stack(0), stack(1)) match {
            case (PdfString(lo), PdfString(hi)) =>
              space += ((lo.length, beLong(lo), beLong(hi)))
            case _ => ()
          }
          stack.remove(0, 2)
        } else if (mode == 2 && stack.length >= 2) {
          (stack(0), stack(1)) match {
            case (PdfString(code), PdfNumber(cid)) => cidSingle(beInt(code)) = cid.toInt
            case _ => ()
          }
          stack.remove(0, 2)
        } else if (mode == 3 && stack.length >= 3) {
          (stack(0), stack(1), stack(2)) match {
            case (PdfString(lo), PdfString(hi), PdfNumber(cid)) =>
              cidRanges += ((beInt(lo), beInt(hi), cid.toInt))
            case _ => ()
          }
          stack.remove(0, 3)
        } else if (mode == 0 && stack.length > 8) stack.clear()
      }
    }
    val ownSpace = space.result()
    val (baseSpace, charsetName, ucs2) = useBase match {
      case Some(b) => (b.rawCodespace, b.rawCharsetName, b.isUcs2)
      case None => (Vector.empty[(Int, Long, Long)], None, false)
    }
    new CMapEncoding("embedded",
      if (ownSpace.nonEmpty) ownSpace ++ baseSpace
      else if (baseSpace.nonEmpty) baseSpace
      else Vector((2, 0x0000L, 0xffffL)),
      charsetName, ucs2, identityCid = false, cidSingle.toMap, cidRanges.result())
  }

  private def beLong(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < b.length && i < 8) { v = (v << 8) | (b(i) & 0xff); i += 1 }
    v
  }
}

package graft.core

import scala.collection.mutable

/** Compact Font Format (CFF / Type1C, /FontFile3) parser + Type2 charstring
  * interpreter — Adobe Tech Notes #5176/#5177 implemented from the spec.
  * Covers what extraction and rasterization need: per-glyph advance widths
  * (nominal/default WidthX deltas), control boxes, flattened contours, the
  * charset (glyph↔name for simple fonts, glyph↔CID for CID-keyed fonts) and
  * subr calls with count-dependent bias. Accepts bare CFF data or an OTTO
  * (OpenType) wrapper's `CFF ` table. Hints are skipped (hintmask operand
  * bytes consumed); rendering quality only. */
final class CffFont(
    charStrings: IndexedSeq[Array[Byte]],
    gsubrs: IndexedSeq[Array[Byte]],
    fdPrivates: Array[(Double, Double, IndexedSeq[Array[Byte]])], // (defaultWidthX, nominalWidthX, local subrs) per FD
    fdSelect: Array[Int],               // gid → FD index (all 0 for non-CID)
    val isCid: Boolean,
    gidToSid: Array[Int],               // charset: gid → SID (name) or CID
    sidName: Int => String,
    unitsScale: Double) {               // FontMatrix [0] — usually 0.001

  def numGlyphs: Int = charStrings.length

  /** gid for a CID (CID-keyed fonts): inverse charset lookup. */
  @transient private lazy val cidToGid: Map[Int, Int] =
    gidToSid.zipWithIndex.map { case (cid, gid) => cid -> gid }.toMap
  def gidForCid(cid: Int): Option[Int] = if (isCid) cidToGid.get(cid) else None

  /** gid for a glyph name (simple fonts): charset SID names. */
  @transient private lazy val nameToGid: Map[String, Int] =
    if (isCid) Map.empty
    else gidToSid.zipWithIndex.map { case (sid, gid) => sidName(sid) -> gid }.toMap
  def gidForName(name: String): Option[Int] = nameToGid.get(name)
  def glyphNames: Set[String] = nameToGid.keySet

  private val memo = new java.util.concurrent.ConcurrentHashMap[Integer, Option[Type1Glyph]]()

  /** Interpret a glyph (charstring units, usually 1000/em). */
  def glyph(gid: Int): Option[Type1Glyph] = {
    if (gid < 0 || gid >= charStrings.length) return None
    val cached = memo.get(Integer.valueOf(gid))
    if (cached != null) return cached
    val computed = try {
      val fd = if (gid < fdSelect.length) math.min(fdSelect(gid), fdPrivates.length - 1) else 0
      val (dW, nW, lsubrs) = fdPrivates(math.max(0, fd))
      Some(new Type2Interp(gsubrs, lsubrs, dW, nW).run(charStrings(gid)))
    } catch { case _: Exception => None }
    memo.put(Integer.valueOf(gid), computed)
    computed
  }

  def emAdvance(gid: Int): Option[Double] = glyph(gid).map(_.width * unitsScale)

  def emBBox(gid: Int): Option[Rect] = glyph(gid).flatMap { g =>
    if (g.contours.isEmpty) None
    else {
      var minX = Double.MaxValue; var minY = Double.MaxValue
      var maxX = Double.MinValue; var maxY = Double.MinValue
      g.contours.foreach { c =>
        var i = 0
        while (i + 1 < c.length) {
          if (c(i) < minX) minX = c(i)
          if (c(i) > maxX) maxX = c(i)
          if (c(i + 1) < minY) minY = c(i + 1)
          if (c(i + 1) > maxY) maxY = c(i + 1)
          i += 2
        }
      }
      Some(Rect(minX * unitsScale, minY * unitsScale, maxX * unitsScale, maxY * unitsScale))
    }
  }

  def emContours(gid: Int): Vector[Array[Double]] = glyph(gid) match {
    case Some(g) => g.contours.map { c =>
      val a = new Array[Double](c.length)
      var i = 0
      while (i < c.length) { a(i) = c(i) * unitsScale; i += 1 }
      a
    }
    case None => Vector.empty
  }
}

/** Type2 charstring interpreter (Tech Note #5177). */
private final class Type2Interp(gsubrs: IndexedSeq[Array[Byte]], lsubrs: IndexedSeq[Array[Byte]],
                                defaultWidthX: Double, nominalWidthX: Double) {
  private val stack = new mutable.ArrayBuffer[Double](48)
  private var x = 0.0
  private var y = 0.0
  private var width = defaultWidthX
  private var widthParsed = false
  private var nStems = 0
  private val contours = Vector.newBuilder[Array[Double]]
  private var cur = new mutable.ArrayBuffer[Double](64)
  private var done = false

  private def bias(n: Int): Int = if (n < 1240) 107 else if (n < 33900) 1131 else 32768

  private def takeWidth(evenArgs: Int): Unit = {
    if (!widthParsed) {
      widthParsed = true
      if (stack.length % 2 != evenArgs % 2) {
        width = nominalWidthX + stack.remove(0)
      }
    }
  }

  private def closeContour(): Unit = {
    if (cur.length >= 4) contours += cur.toArray
    cur = new mutable.ArrayBuffer[Double](64)
  }
  private def moveTo(nx: Double, ny: Double): Unit = { closeContour(); x = nx; y = ny; cur += x += y }
  private def lineTo(nx: Double, ny: Double): Unit = {
    if (cur.isEmpty) cur += x += y
    x = nx; y = ny; cur += x += y
  }
  private def curveTo(x1: Double, y1: Double, x2: Double, y2: Double, x3: Double, y3: Double): Unit = {
    if (cur.isEmpty) cur += x += y
    val (x0, y0) = (x, y)
    var i = 1
    val n = 8
    while (i <= n) {
      val t = i.toDouble / n
      val mt = 1 - t
      cur += mt * mt * mt * x0 + 3 * mt * mt * t * x1 + 3 * mt * t * t * x2 + t * t * t * x3
      cur += mt * mt * mt * y0 + 3 * mt * mt * t * y1 + 3 * mt * t * t * y2 + t * t * t * y3
      i += 1
    }
    x = x3; y = y3
  }

  def run(cs: Array[Byte]): Type1Glyph = {
    exec(cs, 0)
    closeContour()
    Type1Glyph(width, contours.result())
  }

  private def exec(cs: Array[Byte], depth: Int): Unit = {
    if (depth > 10) return
    var i = 0
    while (i < cs.length && !done) {
      val v = cs(i) & 0xff
      if (v >= 32 || v == 28) {
        if (v == 28) { stack += ((cs(i + 1) << 8) | (cs(i + 2) & 0xff)).toShort.toDouble; i += 3 }
        else if (v <= 246) { stack += (v - 139).toDouble; i += 1 }
        else if (v <= 250) { stack += ((v - 247) * 256 + (cs(i + 1) & 0xff) + 108).toDouble; i += 2 }
        else if (v <= 254) { stack += (-(v - 251) * 256 - (cs(i + 1) & 0xff) - 108).toDouble; i += 2 }
        else { // 255: 16.16 fixed
          val iv = ((cs(i + 1) & 0xff) << 24) | ((cs(i + 2) & 0xff) << 16) |
            ((cs(i + 3) & 0xff) << 8) | (cs(i + 4) & 0xff)
          stack += iv / 65536.0
          i += 5
        }
      } else {
        i += 1
        v match {
          case 1 | 3 | 18 | 23 => // stems: args are pairs; odd first arg = width
            takeWidth(0)
            nStems += stack.length / 2
            stack.clear()
          case 19 | 20 => // hintmask / cntrmask: implicit vstem, then mask bytes
            takeWidth(0)
            nStems += stack.length / 2
            stack.clear()
            i += (nStems + 7) / 8
          case 21 => takeWidth(2); if (stack.length >= 2) moveTo(x + stack(stack.length - 2), y + stack.last); stack.clear()
          case 22 => takeWidth(1); if (stack.nonEmpty) moveTo(x + stack.last, y); stack.clear()
          case 4 => takeWidth(1); if (stack.nonEmpty) moveTo(x, y + stack.last); stack.clear()
          case 5 => // rlineto: pairs
            var b = 0
            while (b + 1 < stack.length) { lineTo(x + stack(b), y + stack(b + 1)); b += 2 }
            stack.clear()
          case 6 | 7 => // hlineto/vlineto: alternating
            var horiz = v == 6
            var b = 0
            while (b < stack.length) {
              if (horiz) lineTo(x + stack(b), y) else lineTo(x, y + stack(b))
              horiz = !horiz
              b += 1
            }
            stack.clear()
          case 8 => // rrcurveto: 6-tuples
            var b = 0
            while (b + 5 < stack.length) {
              val x1 = x + stack(b); val y1 = y + stack(b + 1)
              val x2 = x1 + stack(b + 2); val y2 = y1 + stack(b + 3)
              curveTo(x1, y1, x2, y2, x2 + stack(b + 4), y2 + stack(b + 5))
              b += 6
            }
            stack.clear()
          case 24 => // rcurveline: curves then one line
            var b = 0
            while (stack.length - b >= 8) {
              val x1 = x + stack(b); val y1 = y + stack(b + 1)
              val x2 = x1 + stack(b + 2); val y2 = y1 + stack(b + 3)
              curveTo(x1, y1, x2, y2, x2 + stack(b + 4), y2 + stack(b + 5))
              b += 6
            }
            if (stack.length - b >= 2) lineTo(x + stack(b), y + stack(b + 1))
            stack.clear()
          case 25 => // rlinecurve: lines then one curve
            var b = 0
            while (stack.length - b >= 8) { lineTo(x + stack(b), y + stack(b + 1)); b += 2 }
            if (stack.length - b >= 6) {
              val x1 = x + stack(b); val y1 = y + stack(b + 1)
              val x2 = x1 + stack(b + 2); val y2 = y1 + stack(b + 3)
              curveTo(x1, y1, x2, y2, x2 + stack(b + 4), y2 + stack(b + 5))
            }
            stack.clear()
          case 26 => // vvcurveto: [dx1] {dya dxb dyb dyc}+
            var b = 0
            var dx1 = 0.0
            if (stack.length % 4 == 1) { dx1 = stack(0); b = 1 }
            while (b + 3 < stack.length) {
              val x1 = x + dx1; val y1 = y + stack(b)
              val x2 = x1 + stack(b + 1); val y2 = y1 + stack(b + 2)
              curveTo(x1, y1, x2, y2, x2, y2 + stack(b + 3))
              dx1 = 0.0
              b += 4
            }
            stack.clear()
          case 27 => // hhcurveto: [dy1] {dxa dxb dyb dxc}+
            var b = 0
            var dy1 = 0.0
            if (stack.length % 4 == 1) { dy1 = stack(0); b = 1 }
            while (b + 3 < stack.length) {
              val x1 = x + stack(b); val y1 = y + dy1
              val x2 = x1 + stack(b + 1); val y2 = y1 + stack(b + 2)
              curveTo(x1, y1, x2, y2, x2 + stack(b + 3), y2)
              dy1 = 0.0
              b += 4
            }
            stack.clear()
          case 30 | 31 => // vhcurveto / hvcurveto: alternating 4-tuples, optional 5th
            var horiz = v == 31
            var b = 0
            while (stack.length - b >= 4) {
              val last = stack.length - b == 5
              if (horiz) {
                val x1 = x + stack(b); val y1 = y
                val x2 = x1 + stack(b + 1); val y2 = y1 + stack(b + 2)
                val y3 = y2 + stack(b + 3)
                val x3 = if (last) x2 + stack(b + 4) else x2
                curveTo(x1, y1, x2, y2, x3, y3)
              } else {
                val x1 = x; val y1 = y + stack(b)
                val x2 = x1 + stack(b + 1); val y2 = y1 + stack(b + 2)
                val x3 = x2 + stack(b + 3)
                val y3 = if (last) y2 + stack(b + 4) else y2
                curveTo(x1, y1, x2, y2, x3, y3)
              }
              horiz = !horiz
              b += 4
            }
            stack.clear()
          case 10 => // callsubr
            if (stack.nonEmpty) {
              val idx = stack.remove(stack.length - 1).toInt + bias(lsubrs.length)
              if (idx >= 0 && idx < lsubrs.length) exec(lsubrs(idx), depth + 1)
            }
          case 29 => // callgsubr
            if (stack.nonEmpty) {
              val idx = stack.remove(stack.length - 1).toInt + bias(gsubrs.length)
              if (idx >= 0 && idx < gsubrs.length) exec(gsubrs(idx), depth + 1)
            }
          case 11 => return
          case 14 => takeWidth(0); done = true // endchar (seac-style args ignored)
          case 12 =>
            val v2 = cs(i) & 0xff
            i += 1
            v2 match {
              case 35 => // flex: 13 args + fd
                if (stack.length >= 13) {
                  val s = stack
                  val x1 = x + s(0); val y1 = y + s(1)
                  val x2 = x1 + s(2); val y2 = y1 + s(3)
                  val x3 = x2 + s(4); val y3 = y2 + s(5)
                  curveTo(x1, y1, x2, y2, x3, y3)
                  val x4 = x + s(6); val y4 = y + s(7)
                  val x5 = x4 + s(8); val y5 = y4 + s(9)
                  curveTo(x4, y4, x5, y5, x5 + s(10), y5 + s(11))
                }
                stack.clear()
              case 34 => // hflex: dx1 dx2 dy2 dx3 dx4 dx5 dx6
                if (stack.length >= 7) {
                  val s = stack
                  val y0 = y
                  val x1 = x + s(0); val y1 = y
                  val x2 = x1 + s(1); val y2 = y1 + s(2)
                  val x3 = x2 + s(3); val y3 = y2
                  curveTo(x1, y1, x2, y2, x3, y3)
                  val x4 = x + s(4); val y4 = y
                  val x5 = x4 + s(5); val y5 = y0
                  curveTo(x4, y4, x5, y5, x5 + s(6), y0)
                }
                stack.clear()
              case 36 => // hflex1
                if (stack.length >= 9) {
                  val s = stack
                  val y0 = y
                  val x1 = x + s(0); val y1 = y + s(1)
                  val x2 = x1 + s(2); val y2 = y1 + s(3)
                  val x3 = x2 + s(4); val y3 = y2
                  curveTo(x1, y1, x2, y2, x3, y3)
                  val x4 = x + s(5); val y4 = y
                  val x5 = x4 + s(6); val y5 = y4 + s(7)
                  curveTo(x4, y4, x5, y5, x5 + s(8), y0)
                }
                stack.clear()
              case 37 => // flex1
                if (stack.length >= 11) {
                  val s = stack
                  val sx = x; val sy = y
                  val dx = s(0) + s(2) + s(4) + s(6) + s(8)
                  val dy = s(1) + s(3) + s(5) + s(7) + s(9)
                  val x1 = x + s(0); val y1 = y + s(1)
                  val x2 = x1 + s(2); val y2 = y1 + s(3)
                  val x3 = x2 + s(4); val y3 = y2 + s(5)
                  curveTo(x1, y1, x2, y2, x3, y3)
                  val x4 = x + s(6); val y4 = y + s(7)
                  val x5 = x4 + s(8); val y5 = y4 + s(9)
                  val (x6, y6) =
                    if (math.abs(dx) > math.abs(dy)) (x5 + s(10), sy) else (sx, y5 + s(10))
                  curveTo(x4, y4, x5, y5, x6, y6)
                }
                stack.clear()
              case _ => stack.clear()
            }
          case _ => stack.clear()
        }
      }
    }
  }
}

object CffFont {

  /** The 391 standard strings of CFF (Appendix A, #5176) — only the glyph
    * names commonly hit matter; unknown SIDs fall back to "sidN". */
  private val StdStrings: Array[String] = (
    ".notdef space exclam quotedbl numbersign dollar percent ampersand quoteright parenleft parenright asterisk plus comma hyphen period slash " +
      "zero one two three four five six seven eight nine colon semicolon less equal greater question at " +
      "A B C D E F G H I J K L M N O P Q R S T U V W X Y Z bracketleft backslash bracketright asciicircum underscore quoteleft " +
      "a b c d e f g h i j k l m n o p q r s t u v w x y z braceleft bar braceright asciitilde").split(' ')

  /** Adobe StandardEncoding glyph name for an ASCII code (32..126): the
    * standard strings 1..95 are exactly that range in order. */
  def standardName(code: Int): Option[String] =
    if (code >= 32 && code <= 126) Some(StdStrings(code - 31)) else None

  def parse(raw: Array[Byte]): Option[CffFont] = {
    try {
      // OTTO wrapper → extract the CFF table
      val data: Array[Byte] =
        if (raw.length > 12 && raw(0) == 'O' && raw(1) == 'T' && raw(2) == 'T' && raw(3) == 'O') {
          def u16(i: Int) = ((raw(i) & 0xff) << 8) | (raw(i + 1) & 0xff)
          def u32(i: Int) = ((raw(i) & 0xffL) << 24) | ((raw(i + 1) & 0xffL) << 16) | ((raw(i + 2) & 0xffL) << 8) | (raw(i + 3) & 0xffL)
          val n = u16(4)
          (0 until n).collectFirst {
            case t if new String(raw, 12 + 16 * t, 4, java.nio.charset.StandardCharsets.ISO_8859_1) == "CFF " =>
              val off = u32(12 + 16 * t + 8).toInt
              val len = u32(12 + 16 * t + 12).toInt
              java.util.Arrays.copyOfRange(raw, off, math.min(raw.length, off + len))
          }.getOrElse(return None)
        } else raw

      def u8(i: Int) = data(i) & 0xff
      def u16(i: Int) = ((data(i) & 0xff) << 8) | (data(i + 1) & 0xff)

      // INDEX reader → (entries, endPos)
      def readIndex(at: Int): (IndexedSeq[Array[Byte]], Int) = {
        val count = u16(at)
        if (count == 0) return (IndexedSeq.empty, at + 2)
        val offSize = u8(at + 2)
        def off(k: Int): Int = {
          var v = 0
          var b = 0
          while (b < offSize) { v = (v << 8) | u8(at + 3 + k * offSize + b); b += 1 }
          v
        }
        val dataStart = at + 3 + (count + 1) * offSize - 1
        val entries = (0 until count).map { k =>
          java.util.Arrays.copyOfRange(data, dataStart + off(k), dataStart + off(k + 1))
        }
        (entries, dataStart + off(count))
      }

      // DICT parser → Map[op, operands]
      def parseDict(d: Array[Byte]): Map[Int, Vector[Double]] = {
        val out = mutable.Map[Int, Vector[Double]]()
        val operands = mutable.ArrayBuffer[Double]()
        var i = 0
        while (i < d.length) {
          val b0 = d(i) & 0xff
          if (b0 <= 21) { // operator
            val op = if (b0 == 12) { i += 1; 1200 + (d(i) & 0xff) } else b0
            out(op) = operands.toVector
            operands.clear()
            i += 1
          } else if (b0 == 28) { operands += ((d(i + 1) << 8) | (d(i + 2) & 0xff)).toShort.toDouble; i += 3 }
          else if (b0 == 29) {
            operands += (((d(i + 1) & 0xff) << 24) | ((d(i + 2) & 0xff) << 16) |
              ((d(i + 3) & 0xff) << 8) | (d(i + 4) & 0xff)).toDouble
            i += 5
          } else if (b0 == 30) { // real: BCD nibbles
            val sb = new StringBuilder
            i += 1
            var doneR = false
            while (!doneR && i < d.length) {
              val byte = d(i) & 0xff
              Seq(byte >> 4, byte & 0xf).foreach { nib =>
                if (!doneR) nib match {
                  case n if n <= 9 => sb.append(('0' + n).toChar)
                  case 0xa => sb.append('.')
                  case 0xb => sb.append('E')
                  case 0xc => sb.append("E-")
                  case 0xe => sb.append('-')
                  case 0xf => doneR = true
                  case _ => ()
                }
              }
              i += 1
            }
            operands += (try sb.toString.toDouble catch { case _: Exception => 0.0 })
          }
          else if (b0 >= 32 && b0 <= 246) { operands += (b0 - 139).toDouble; i += 1 }
          else if (b0 >= 247 && b0 <= 250) { operands += ((b0 - 247) * 256 + (d(i + 1) & 0xff) + 108).toDouble; i += 2 }
          else if (b0 >= 251 && b0 <= 254) { operands += (-(b0 - 251) * 256 - (d(i + 1) & 0xff) - 108).toDouble; i += 2 }
          else i += 1
        }
        out.toMap
      }

      val hdrSize = u8(2)
      val (_, afterNames) = readIndex(hdrSize)        // Name INDEX
      val (topDicts, afterTop) = readIndex(afterNames) // Top DICT INDEX
      val (strings, afterStrings) = readIndex(afterTop) // String INDEX
      val (gsubrs, _) = readIndex(afterStrings)        // Global Subr INDEX
      if (topDicts.isEmpty) return None
      val top = parseDict(topDicts.head)

      def sidName(sid: Int): String =
        if (sid < StdStrings.length) StdStrings(sid)
        else if (sid - 391 < strings.length)
          new String(strings(sid - 391), java.nio.charset.StandardCharsets.ISO_8859_1)
        else s"sid$sid"

      val csOff = top.get(17).flatMap(_.headOption).map(_.toInt).getOrElse(return None)
      val (charStrings, _) = readIndex(csOff)
      val nGlyphs = charStrings.length

      val isCid = top.contains(1230) // ROS

      // Private DICT (non-CID) or first FDArray private (CID, single-FD approx)
      def privateOf(dict: Map[Int, Vector[Double]]): (Double, Double, IndexedSeq[Array[Byte]]) =
        dict.get(18) match {
          case Some(Vector(size, off)) =>
            val p = parseDict(java.util.Arrays.copyOfRange(data, off.toInt, off.toInt + size.toInt))
            val dW = p.get(20).flatMap(_.headOption).getOrElse(0.0)
            val nW = p.get(21).flatMap(_.headOption).getOrElse(0.0)
            val subrs = p.get(19).flatMap(_.headOption) match {
              case Some(rel) => readIndex(off.toInt + rel.toInt)._1
              case None => IndexedSeq.empty
            }
            (dW, nW, subrs)
          case _ => (0.0, 0.0, IndexedSeq.empty)
        }
      // per-FD privates (CID-keyed fonts carry one private dict per font
      // dict, selected per glyph by FDSelect format 0/3)
      val fdPrivates: Array[(Double, Double, IndexedSeq[Array[Byte]])] =
        if (!isCid) Array(privateOf(top))
        else top.get(1236).flatMap(_.headOption) match { // FDArray
          case Some(fdaOff) =>
            val (fds, _) = readIndex(fdaOff.toInt)
            if (fds.nonEmpty) fds.map(fd => privateOf(parseDict(fd))).toArray
            else Array((0.0, 0.0, IndexedSeq.empty[Array[Byte]]))
          case None => Array((0.0, 0.0, IndexedSeq.empty[Array[Byte]]))
        }
      val fdSelect: Array[Int] = {
        val sel = new Array[Int](nGlyphs) // default 0
        if (isCid) top.get(1237).flatMap(_.headOption).map(_.toInt).foreach { at =>
          u8(at) match {
            case 0 =>
              var g = 0
              while (g < nGlyphs) { sel(g) = u8(at + 1 + g); g += 1 }
            case 3 =>
              val nRanges = u16(at + 1)
              var r = 0
              while (r < nRanges) {
                val first = u16(at + 3 + r * 3)
                val fd = u8(at + 3 + r * 3 + 2)
                val next = if (r + 1 < nRanges) u16(at + 3 + (r + 1) * 3) else u16(at + 3 + nRanges * 3)
                var g = first
                while (g < math.min(next, nGlyphs)) { sel(g) = fd; g += 1 }
                r += 1
              }
            case _ => ()
          }
        }
        sel
      }

      // charset: gid → SID/CID
      val gidToSid = new Array[Int](nGlyphs)
      top.get(15).flatMap(_.headOption).map(_.toInt) match {
        case None | Some(0) => // ISOAdobe: identity SIDs
          var g = 0
          while (g < nGlyphs) { gidToSid(g) = g; g += 1 }
        case Some(csAt) if csAt > 2 =>
          val fmt = u8(csAt)
          gidToSid(0) = 0
          fmt match {
            case 0 =>
              var g = 1
              while (g < nGlyphs) { gidToSid(g) = u16(csAt + 1 + 2 * (g - 1)); g += 1 }
            case 1 | 2 =>
              var g = 1
              var p = csAt + 1
              while (g < nGlyphs) {
                val first = u16(p)
                val nLeft = if (fmt == 1) u8(p + 2) else u16(p + 2)
                var k = 0
                while (k <= nLeft && g < nGlyphs) { gidToSid(g) = first + k; g += 1; k += 1 }
                p += (if (fmt == 1) 3 else 4)
              }
            case _ => ()
          }
        case Some(_) => // predefined Expert charsets — identity fallback
          var g = 0
          while (g < nGlyphs) { gidToSid(g) = g; g += 1 }
      }

      val scale = top.get(1207).filter(_.length >= 1).map(_.head)
        .filter(v => v > 0 && v < 1).getOrElse(0.001)

      Some(new CffFont(charStrings, gsubrs, fdPrivates, fdSelect, isCid, gidToSid, sidName, scale))
    } catch { case _: Exception => None }
  }
}

package graft.core

/** JPEG 2000 Part 1 (ITU-T T.800) codec for the PDF `JPXDecode` filter —
  * pixel DECODING of the baseline path plus a restricted ENCODER for
  * fixture synthesis (no external JPX exists in this offline sandbox).
  *
  * Decoder scope (documented; anything outside throws → the caller falls
  * back to payload passthrough, the reference's own shape for undecodable
  * payloads, pageobjects.py:598-630):
  *  - single tile covering the whole image, zero grid/tile offsets,
  *    XRsiz = YRsiz = 1 (no subsampling), unsigned samples, bpc ≤ 16
  *  - reversible 5/3 wavelet (lossless), any decomposition level count,
  *    with or without the reversible color transform (RCT)
  *  - irreversible 9/7 + ICT + scalar quantization (lossy baseline)
  *  - all five progression orders with the DEFAULT precinct partition
  *    (one precinct per resolution); multiple layers; multiple tile-parts
  *  - code-block styles 0 only (no bypass/reset/termall/vcausal/segsym —
  *    the OpenJPEG-default shape)
  *  - NOT decoded: multi-tile grids, RGN/ROI, POC, PPM/PPT packed headers,
  *    custom precincts that split a resolution
  *
  * The MQ arithmetic coder is shared with JBIG2 ([[Jbig2.MQDecoder]] /
  * [[Jbig2.MQEncoder]]) — T.88 and T.800 specify the identical coder.
  * Validation without external vectors (same protocol the JBIG2 module
  * uses): the 5/3 path must reconstruct encoder inputs EXACTLY (lossless
  * round trip exercises tag trees, packet headers, T1 passes and the DWT
  * jointly), the DWT satisfies perfect reconstruction on random signals,
  * and the T1 context tables are spot-pinned in JpxCodecSpec. Reference
  * behavior surface: pageobjects.py:473-498 (get_bitmap via PDFium /
  * OpenJPEG). */
object JpxCodec {

  final case class Decoded(width: Int, height: Int, components: Int, bpc: Int,
                           samples: Array[Array[Int]])

  private val MaxPixels = 1L << 27 // same adversarial cap as Jbig2.MaxPagePixels

  // =========================================================================
  // bit I/O with JPEG 2000 packet-header bit stuffing (B.10.1): a byte
  // following 0xFF carries only 7 bits
  // =========================================================================
  private final class HdrReader(d: Array[Byte], var pos: Int, end: Int) {
    private var cur = 0
    private var nBits = 0
    private var prevFF = false
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= end) throw new IllegalArgumentException("JPX: packet header exhausted")
        cur = d(pos) & 0xff
        pos += 1
        nBits = if (prevFF) 7 else 8
        prevFF = cur == 0xff
      }
      nBits -= 1
      (cur >> nBits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { v = (v << 1) | bit(); k += 1 }
      v
    }
    /** End-of-header alignment (B.10.1): discard partial byte; a stuffed
      * 0-bit after a 0xFF terminator is consumed with it. */
    def align(): Unit = {
      if (prevFF && nBits == 0) {
        // next byte is the stuffed one only if it exists and we are mid-
        // header; spec: if the header ends with 0xFF a single stuffing
        // byte follows
        if (pos < end) { pos += 1 }
      }
      nBits = 0
      prevFF = false
    }
  }

  private final class HdrWriter(out: java.io.ByteArrayOutputStream) {
    private var cur = 0
    private var nBits = 0
    private var prevFF = false
    def bit(b: Int): Unit = {
      val cap = if (prevFF) 7 else 8
      cur = (cur << 1) | (b & 1)
      nBits += 1
      if (nBits == cap) {
        out.write(cur)
        prevFF = cur == 0xff
        cur = 0
        nBits = 0
      }
    }
    def bits(v: Long, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) { bit(((v >>> k) & 1L).toInt); k -= 1 }
    }
    def align(): Unit = {
      while (nBits != 0) bit(0)
      if (prevFF) { out.write(0); prevFF = false } // stuffing byte after trailing FF
    }
  }

  // =========================================================================
  // tag trees (B.9) — decoder and encoder sides, round-trip tested
  // =========================================================================
  private final class TagTree(w: Int, h: Int) {
    private val dims: Array[(Int, Int)] = {
      val b = Array.newBuilder[(Int, Int)]
      var cw = w; var ch = h
      b += ((cw, ch))
      while (cw > 1 || ch > 1) { cw = (cw + 1) / 2; ch = (ch + 1) / 2; b += ((cw, ch)) }
      b.result() // dims(0) = leaves … dims(last) = 1×1 root
    }
    private val low = dims.map { case (cw, ch) => new Array[Int](cw * ch) }
    private val known = dims.map { case (cw, ch) => new Array[Boolean](cw * ch) }
    // encoder-side true values (leaf values set, internal = min of children)
    private val value = dims.map { case (cw, ch) => new Array[Int](cw * ch) }

    def reset(): Unit = {
      low.foreach(java.util.Arrays.fill(_, 0))
      known.foreach(java.util.Arrays.fill(_, false))
    }

    def setValue(x: Int, y: Int, v: Int): Unit = value(0)(y * w + x) = v

    /** Fold leaf values up (encoder): internal node = min of children. */
    def buildParents(): Unit = {
      var lvl = 1
      while (lvl < dims.length) {
        val (cw, ch) = dims(lvl)
        val (pw, ph) = dims(lvl - 1)
        var y = 0
        while (y < ch) {
          var x = 0
          while (x < cw) {
            var m = Int.MaxValue
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                val sx = 2 * x + dx; val sy = 2 * y + dy
                if (sx < pw && sy < ph) m = math.min(m, value(lvl - 1)(sy * pw + sx))
                dx += 1
              }
              dy += 1
            }
            value(lvl)(y * cw + x) = m
            x += 1
          }
          y += 1
        }
        lvl += 1
      }
    }

    private def path(x: Int, y: Int): Array[Int] = {
      // node index per level, root-first
      val p = new Array[Int](dims.length)
      var lvl = 0
      var cx = x; var cy = y
      while (lvl < dims.length) {
        p(lvl) = cy * dims(lvl)._1 + cx
        cx /= 2; cy /= 2
        lvl += 1
      }
      p.reverse // root (last level) first
    }

    /** Decode: is value(leaf) < threshold? Consumes exactly the bits the
      * matching encoder emitted. */
    def decode(r: HdrReader, x: Int, y: Int, threshold: Int): Boolean = {
      val p = path(x, y)
      var lo = 0
      var lvlIdx = 0
      while (lvlIdx < p.length) {
        val lvl = dims.length - 1 - lvlIdx
        val n = p(lvlIdx)
        if (low(lvl)(n) < lo) low(lvl)(n) = lo
        while (!known(lvl)(n) && low(lvl)(n) < threshold) {
          if (r.bit() == 1) known(lvl)(n) = true
          else low(lvl)(n) += 1
        }
        if (!known(lvl)(n)) return false // lower bound reached threshold
        lo = low(lvl)(n)
        lvlIdx += 1
      }
      true // leaf value fully decoded and < threshold
    }

    /** Leaf value after a successful decode (== its resolved low). */
    def decodedValue(x: Int, y: Int): Int = low(0)(y * w + x)

    /** Encoder counterpart of [[decode]]. */
    def encode(bw: HdrWriter, x: Int, y: Int, threshold: Int): Unit = {
      val p = path(x, y)
      var lo = 0
      var lvlIdx = 0
      var done = false
      while (lvlIdx < p.length && !done) {
        val lvl = dims.length - 1 - lvlIdx
        val n = p(lvlIdx)
        if (low(lvl)(n) < lo) low(lvl)(n) = lo
        var stop = false
        while (!stop && low(lvl)(n) < threshold) {
          if (low(lvl)(n) < value(lvl)(n)) { bw.bit(0); low(lvl)(n) += 1 }
          else {
            if (!known(lvl)(n)) { bw.bit(1); known(lvl)(n) = true }
            stop = true
          }
        }
        if (!known(lvl)(n)) done = true // threshold reached without resolution
        else lo = value(lvl)(n)
        lvlIdx += 1
      }
    }
  }

  // =========================================================================
  // codestream structures
  // =========================================================================
  private final case class CompInfo(bpc: Int, signed: Boolean)
  private final case class CodingParams(
      progression: Int, layers: Int, mct: Int,
      levels: Int, cbw: Int, cbh: Int, cbStyle: Int, transform: Int)
  private final case class QuantParams(style: Int, guardBits: Int,
                                       exps: Array[Int], mants: Array[Int])

  private final class Codestream(val width: Int, val height: Int,
                                 val comps: Array[CompInfo],
                                 val cod: CodingParams,
                                 val cocs: Map[Int, CodingParams],
                                 val qcd: QuantParams,
                                 val qccs: Map[Int, QuantParams],
                                 val tileData: Array[Byte]) {
    def codOf(c: Int): CodingParams = cocs.getOrElse(c, cod)
    def quantOf(c: Int): QuantParams = qccs.getOrElse(c, qcd)
  }

  @inline private def u16(d: Array[Byte], i: Int): Int =
    ((d(i) & 0xff) << 8) | (d(i + 1) & 0xff)
  @inline private def u32(d: Array[Byte], i: Int): Long =
    ((d(i) & 0xffL) << 24) | ((d(i + 1) & 0xffL) << 16) | ((d(i + 2) & 0xffL) << 8) | (d(i + 3) & 0xffL)

  /** Strip a JP2 container down to the raw codestream (or pass one through). */
  private def rawCodestream(data: Array[Byte]): Array[Byte] = {
    if (data.length >= 2 && (data(0) & 0xff) == 0xff && (data(1) & 0xff) == 0x4f) return data
    var i = 0
    while (i + 8 <= data.length) {
      var len = u32(data, i)
      val boxType = u32(data, i + 4)
      var payload = i + 8
      if (len == 1L && i + 16 <= data.length) {
        val hi = u32(data, i + 8)
        if (hi != 0L) throw new IllegalArgumentException("JPX: giant box")
        len = u32(data, i + 12); payload = i + 16
      } else if (len == 0L) len = data.length - i
      if (boxType == 0x6a703263L)
        return java.util.Arrays.copyOfRange(data, payload, math.min(data.length, i + len.toInt))
      i += math.max(8L, len).toInt
    }
    throw new IllegalArgumentException("JPX: no codestream found")
  }

  private def parseCodestream(cs: Array[Byte]): Codestream = {
    if (cs.length < 4 || (cs(0) & 0xff) != 0xff || (cs(1) & 0xff) != 0x4f)
      throw new IllegalArgumentException("JPX: missing SOC")
    var i = 2
    var width = 0; var height = 0
    var comps: Array[CompInfo] = null
    var cod: CodingParams = null
    var qcd: QuantParams = null
    val cocs = Map.newBuilder[Int, CodingParams]
    val qccs = Map.newBuilder[Int, QuantParams]
    val tileData = new java.io.ByteArrayOutputStream()

    def parseCod(d: Array[Byte], o: Int): CodingParams = {
      val scod = d(o) & 0xff
      val prog = d(o + 1) & 0xff
      val layers = u16(d, o + 2)
      val mct = d(o + 4) & 0xff
      val levels = d(o + 5) & 0xff
      val cbw = (d(o + 6) & 0x0f) + 2
      val cbh = (d(o + 7) & 0x0f) + 2
      val cbStyle = d(o + 8) & 0xff
      val transform = d(o + 9) & 0xff
      if ((scod & 0x01) != 0) {
        // custom precinct sizes: accept only if every precinct covers its
        // whole resolution (so the single-precinct packet walk stays valid)
        var r = 0
        while (r <= levels) {
          val pp = d(o + 10 + r) & 0xff
          val ppx = pp & 0xf; val ppy = (pp >> 4) & 0xf
          val rw = ceilDiv(width, 1 << (levels - r))
          val rh = ceilDiv(height, 1 << (levels - r))
          if ((1 << ppx) < rw || (1 << ppy) < rh)
            throw new IllegalArgumentException("JPX: sub-resolution precincts unsupported")
          r += 1
        }
      }
      if (cbStyle != 0)
        throw new IllegalArgumentException(s"JPX: code-block style $cbStyle unsupported")
      if (prog > 4) throw new IllegalArgumentException("JPX: bad progression order")
      if (layers < 1 || layers > 1000) throw new IllegalArgumentException("JPX: bad layer count")
      if (levels > 32) throw new IllegalArgumentException("JPX: bad level count")
      if (cbw > 10 || cbh > 10 || cbw + cbh > 12)
        throw new IllegalArgumentException("JPX: bad code-block size")
      CodingParams(prog, layers, mct, levels, cbw, cbh, cbStyle, transform)
    }
    def parseQcd(d: Array[Byte], o: Int, len: Int): QuantParams = {
      val s = d(o) & 0xff
      val style = s & 0x1f
      val guard = (s >> 5) & 7
      style match {
        case 0 => // no quantization: one exponent byte per band
          val n = len - 1
          val exps = Array.tabulate(n)(k => (d(o + 1 + k) & 0xff) >> 3)
          QuantParams(0, guard, exps, Array.fill(n)(0))
        case 1 => // scalar derived: single (exp, mant)
          val v = u16(d, o + 1)
          QuantParams(1, guard, Array(v >> 11), Array(v & 0x7ff))
        case 2 => // scalar expounded: (exp, mant) per band
          val n = (len - 1) / 2
          val exps = new Array[Int](n); val mants = new Array[Int](n)
          var k = 0
          while (k < n) {
            val v = u16(d, o + 1 + 2 * k)
            exps(k) = v >> 11; mants(k) = v & 0x7ff
            k += 1
          }
          QuantParams(2, guard, exps, mants)
        case _ => throw new IllegalArgumentException("JPX: bad quantization style")
      }
    }

    var sawEoc = false
    while (i + 2 <= cs.length && !sawEoc) {
      if ((cs(i) & 0xff) != 0xff) throw new IllegalArgumentException("JPX: marker expected")
      val marker = cs(i + 1) & 0xff
      marker match {
        case 0xd9 => sawEoc = true; i += 2 // EOC
        case 0x90 => // SOT: tile-part
          val lsot = u16(cs, i + 2)
          val isot = u16(cs, i + 4)
          val psot = u32(cs, i + 6).toInt
          if (isot != 0) throw new IllegalArgumentException("JPX: multi-tile unsupported")
          val partEnd = if (psot == 0) cs.length else i + psot
          if (partEnd > cs.length) throw new IllegalArgumentException("JPX: tile-part overruns")
          // scan tile-part headers until SOD, then append the data
          var j = i + 2 + lsot
          var sod = -1
          while (sod < 0 && j + 2 <= cs.length) {
            if ((cs(j) & 0xff) != 0xff) throw new IllegalArgumentException("JPX: marker expected in tile header")
            val m2 = cs(j + 1) & 0xff
            if (m2 == 0x93) sod = j + 2 // SOD
            else {
              val l2 = u16(cs, j + 2)
              m2 match {
                case 0x52 => cod = parseCod(cs, j + 4) // COD in tile header
                case 0x5c => qcd = parseQcd(cs, j + 4, l2 - 2)
                case 0x5e | 0x5f => throw new IllegalArgumentException("JPX: RGN/POC unsupported")
                case 0x61 => throw new IllegalArgumentException("JPX: PPT unsupported")
                case _ => ()
              }
              j += 2 + l2
            }
          }
          if (sod < 0) throw new IllegalArgumentException("JPX: missing SOD")
          tileData.write(cs, sod, partEnd - sod)
          i = partEnd
        case _ =>
          if (i + 4 > cs.length) throw new IllegalArgumentException("JPX: truncated marker")
          val len = u16(cs, i + 2)
          val o = i + 4
          marker match {
            case 0x51 => // SIZ
              val xsiz = u32(cs, o + 2); val ysiz = u32(cs, o + 6)
              val xo = u32(cs, o + 10); val yo = u32(cs, o + 14)
              val xt = u32(cs, o + 18); val yt = u32(cs, o + 22)
              val xto = u32(cs, o + 26); val yto = u32(cs, o + 30)
              if (xo != 0 || yo != 0 || xto != 0 || yto != 0)
                throw new IllegalArgumentException("JPX: nonzero grid offsets unsupported")
              if (xt < xsiz || yt < ysiz)
                throw new IllegalArgumentException("JPX: multi-tile unsupported")
              width = xsiz.toInt; height = ysiz.toInt
              if (width <= 0 || height <= 0 || width.toLong * height > MaxPixels)
                throw new IllegalArgumentException("JPX: image size out of bounds")
              val n = u16(cs, o + 34)
              if (n < 1 || n > 4) throw new IllegalArgumentException(s"JPX: $n components unsupported")
              comps = Array.tabulate(n) { c =>
                val ss = cs(o + 36 + 3 * c) & 0xff
                val xr = cs(o + 37 + 3 * c) & 0xff
                val yr = cs(o + 38 + 3 * c) & 0xff
                if (xr != 1 || yr != 1)
                  throw new IllegalArgumentException("JPX: component subsampling unsupported")
                val bpc = (ss & 0x7f) + 1
                if (bpc > 16) throw new IllegalArgumentException("JPX: bpc > 16")
                CompInfo(bpc, (ss & 0x80) != 0)
              }
            case 0x52 => cod = parseCod(cs, o)
            case 0x53 => // COC
              val c = cs(o) & 0xff
              // Scoc has no layer/mct fields; re-shape into CodingParams
              val scoc = cs(o + 1) & 0xff
              val levels = cs(o + 2) & 0xff
              val cbw = (cs(o + 3) & 0x0f) + 2
              val cbh = (cs(o + 4) & 0x0f) + 2
              val cbStyle = cs(o + 5) & 0xff
              val transform = cs(o + 6) & 0xff
              if (cbStyle != 0) throw new IllegalArgumentException("JPX: COC code-block style unsupported")
              if ((scoc & 1) != 0) throw new IllegalArgumentException("JPX: COC custom precincts unsupported")
              if (cod == null) throw new IllegalArgumentException("JPX: COC before COD")
              cocs += c -> cod.copy(levels = levels, cbw = cbw, cbh = cbh,
                cbStyle = cbStyle, transform = transform)
            case 0x5c => qcd = parseQcd(cs, o, len - 2)
            case 0x5d => // QCC
              val c = cs(o) & 0xff
              qccs += c -> parseQcd(cs, o + 1, len - 3)
            case 0x5e => throw new IllegalArgumentException("JPX: RGN/ROI unsupported")
            case 0x5f => throw new IllegalArgumentException("JPX: POC unsupported")
            case 0x60 => throw new IllegalArgumentException("JPX: PPM unsupported")
            case _ => () // COM, TLM, PLM, CRG, … skipped
          }
          i += 2 + len
      }
    }
    if (comps == null || cod == null || qcd == null)
      throw new IllegalArgumentException("JPX: missing SIZ/COD/QCD")
    new Codestream(width, height, comps, cod, cocs.result(), qcd, qccs.result(),
      tileData.toByteArray)
  }

  @inline private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  // =========================================================================
  // band / code-block geometry (B.5): tile origin 0 → every band starts at 0
  // =========================================================================
  /** orientation: 0 = LL, 1 = HL (x high), 2 = LH (y high), 3 = HH.
    * `res` is the resolution whose packet carries the band; `nb` the
    * decomposition level the band belongs to. `qIdx` indexes QCD entries. */
  private final class Band(val res: Int, val orientation: Int, val nb: Int,
                           val qIdx: Int, val w: Int, val h: Int,
                           cbwExp: Int, cbhExp: Int) {
    val coeffs: Array[Int] = new Array[Int](math.max(0, w * h)) // sign-magnitude → value
    val cbW = 1 << cbwExp
    val cbH = 1 << cbhExp
    val gridW: Int = if (w <= 0) 0 else ceilDiv(w, cbW)
    val gridH: Int = if (h <= 0) 0 else ceilDiv(h, cbH)
    val blocks: Array[CodeBlock] = Array.tabulate(gridW * gridH) { k =>
      val gx = k % gridW; val gy = k / gridW
      val x0 = gx * cbW; val y0 = gy * cbH
      new CodeBlock(x0, y0, math.min(cbW, w - x0), math.min(cbH, h - y0))
    }
    val inclTree = new TagTree(math.max(1, gridW), math.max(1, gridH))
    val imsbTree = new TagTree(math.max(1, gridW), math.max(1, gridH))
  }

  private final class CodeBlock(val x0: Int, val y0: Int, val w: Int, val h: Int) {
    var included = false
    var missingMsbs = 0
    var passes = 0
    var lblock = 3
    val data = new java.io.ByteArrayOutputStream()
  }

  private def bandW(imgW: Int, nb: Int, xob: Int): Int = {
    val num = imgW.toLong - (xob.toLong << (nb - 1))
    if (num <= 0) 0 else (((num + (1L << nb) - 1) >> nb)).toInt
  }

  private def bandsFor(width: Int, height: Int, cp: CodingParams): Array[Band] = {
    val out = Array.newBuilder[Band]
    val nl = cp.levels
    out += new Band(0, 0, nl, 0,
      ceilDiv(width, 1 << nl), ceilDiv(height, 1 << nl), cp.cbw, cp.cbh)
    var r = 1
    while (r <= nl) {
      val nb = nl - r + 1
      // code-block partition inside a resolution is bounded by the precinct
      // subdivision: with one precinct per resolution the effective block
      // size at resolution r > 0 is unchanged (PPx-1 ≥ cbw by construction)
      out += new Band(r, 1, nb, 3 * (r - 1) + 1,
        bandW(width, nb, 1), bandW(height, nb, 0), cp.cbw, cp.cbh)
      out += new Band(r, 2, nb, 3 * (r - 1) + 2,
        bandW(width, nb, 0), bandW(height, nb, 1), cp.cbw, cp.cbh)
      out += new Band(r, 3, nb, 3 * (r - 1) + 3,
        bandW(width, nb, 1), bandW(height, nb, 1), cp.cbw, cp.cbh)
      r += 1
    }
    out.result()
  }

  // =========================================================================
  // packet decoding (B.10)
  // =========================================================================
  private def decodeNumPasses(r: HdrReader): Int = {
    if (r.bit() == 0) return 1
    if (r.bit() == 0) return 2
    val v = r.bits(2)
    if (v < 3) return 3 + v
    val v5 = r.bits(5)
    if (v5 < 31) return 6 + v5
    37 + r.bits(7)
  }

  private def floorLog2(n: Int): Int = 31 - Integer.numberOfLeadingZeros(n)

  /** Decode all packets of the tile into per-(comp, band, code-block)
    * segment buffers. Returns nothing; state lives in `bands`. */
  private def decodePackets(csm: Codestream, bands: Array[Array[Band]]): Unit = {
    val d = csm.tileData
    var pos = 0
    val nComps = csm.comps.length
    val maxLevels = (0 until nComps).map(c => csm.codOf(c).levels).max
    val layers = csm.cod.layers
    val sop = false // Scod SOP/EPH bits are tolerated below by sniffing markers

    def onePacket(l: Int, r: Int, c: Int): Unit = {
      if (r > csm.codOf(c).levels) return
      // tolerate SOP marker segments (FF91, Lsop=4, Nsop)
      if (pos + 6 <= d.length && (d(pos) & 0xff) == 0xff && (d(pos + 1) & 0xff) == 0x91)
        pos += 6
      val hr = new HdrReader(d, pos, d.length)
      val contributions = Vector.newBuilder[(CodeBlock, Int, Int)] // cb, passes, bytes
      if (hr.bit() == 1) {
        bands(c).foreach { band =>
          if (band.res == r && band.w > 0 && band.h > 0) {
            var k = 0
            while (k < band.blocks.length) {
              val cb = band.blocks(k)
              val gx = k % band.gridW; val gy = k / band.gridW
              val incl =
                if (!cb.included) band.inclTree.decode(hr, gx, gy, l + 1)
                else hr.bit() == 1
              if (incl) {
                if (!cb.included) {
                  cb.included = true
                  var t = 1
                  while (!band.imsbTree.decode(hr, gx, gy, t)) t += 1
                  cb.missingMsbs = band.imsbTree.decodedValue(gx, gy)
                }
                val newPasses = decodeNumPasses(hr)
                var inc = 0
                while (hr.bit() == 1) inc += 1
                cb.lblock += inc
                val bits = cb.lblock + floorLog2(newPasses)
                if (bits > 28) throw new IllegalArgumentException("JPX: packet length overflow")
                val len = hr.bits(bits)
                cb.passes += newPasses
                contributions += ((cb, newPasses, len))
              }
              k += 1
            }
          }
        }
      }
      hr.align()
      pos = hr.pos
      // tolerate EPH marker (FF92)
      if (pos + 2 <= d.length && (d(pos) & 0xff) == 0xff && (d(pos + 1) & 0xff) == 0x92)
        pos += 2
      contributions.result().foreach { case (cb, _, len) =>
        if (pos + len > d.length) throw new IllegalArgumentException("JPX: packet body overruns")
        cb.data.write(d, pos, len)
        pos += len
      }
    }

    csm.cod.progression match {
      case 0 => // LRCP
        for (l <- 0 until layers; r <- 0 to maxLevels; c <- 0 until nComps) onePacket(l, r, c)
      case 1 => // RLCP
        for (r <- 0 to maxLevels; l <- 0 until layers; c <- 0 until nComps) onePacket(l, r, c)
      case 2 => // RPCL (single precinct → position loop degenerate)
        for (r <- 0 to maxLevels; c <- 0 until nComps; l <- 0 until layers) onePacket(l, r, c)
      case 3 => // PCRL
        for (c <- 0 until nComps; r <- 0 to maxLevels; l <- 0 until layers) onePacket(l, r, c)
      case _ => // CPRL
        for (c <- 0 until nComps; r <- 0 to maxLevels; l <- 0 until layers) onePacket(l, r, c)
    }
    val _ = sop
  }

  // =========================================================================
  // Tier-1: code-block bit-plane MQ decoding (Annex D)
  // =========================================================================
  // context indices: 0-8 significance, 9-13 sign, 14-16 refinement,
  // 17 run-length, 18 uniform
  private val CtxRl = 17
  private val CtxUni = 18

  /** Significance context from neighbor counts (Table D.1). */
  private[core] def sigCtx(orientation: Int, h0: Int, v0: Int, d: Int): Int = {
    // HL swaps the roles of horizontal and vertical neighbors
    val (h, v) = if (orientation == 1) (v0, h0) else (h0, v0)
    if (orientation == 3) { // HH: diagonal-driven
      if (d >= 3) 8
      else if (d == 2) { if (h + v >= 1) 7 else 6 }
      else if (d == 1) { if (h + v >= 2) 5 else if (h + v == 1) 4 else 3 }
      else { if (h + v >= 2) 2 else if (h + v == 1) 1 else 0 }
    } else {
      if (h == 2) 8
      else if (h == 1) { if (v >= 1) 7 else if (d >= 1) 6 else 5 }
      else { // h == 0
        if (v == 2) 4 else if (v == 1) 3
        else if (d >= 2) 2 else if (d == 1) 1 else 0
      }
    }
  }

  /** Sign context and XOR bit from clamped neighbor contributions
    * (Table D.3). */
  private[core] def signCtx(hc: Int, vc: Int): (Int, Int) = (hc, vc) match {
    case (1, 1) => (13, 0)
    case (1, 0) => (12, 0)
    case (1, -1) => (11, 0)
    case (0, 1) => (10, 0)
    case (0, 0) => (9, 0)
    case (0, -1) => (10, 1)
    case (-1, 1) => (11, 1)
    case (-1, 0) => (12, 1)
    case _ => (13, 1)
  }

  /** Shared per-coefficient state for the T1 coder (decode and encode). */
  private final class T1State(val w: Int, val h: Int) {
    val mag = new Array[Int](w * h)
    val sgn = new Array[Byte](w * h) // 1 = negative
    val sig = new Array[Boolean](w * h)
    val visited = new Array[Boolean](w * h)
    val refined = new Array[Boolean](w * h)
    @inline def sigAt(x: Int, y: Int): Boolean =
      x >= 0 && x < w && y >= 0 && y < h && sig(y * w + x)
    def neighborCounts(x: Int, y: Int): (Int, Int, Int) = {
      val hN = (if (sigAt(x - 1, y)) 1 else 0) + (if (sigAt(x + 1, y)) 1 else 0)
      val vN = (if (sigAt(x, y - 1)) 1 else 0) + (if (sigAt(x, y + 1)) 1 else 0)
      val dN = (if (sigAt(x - 1, y - 1)) 1 else 0) + (if (sigAt(x + 1, y - 1)) 1 else 0) +
        (if (sigAt(x - 1, y + 1)) 1 else 0) + (if (sigAt(x + 1, y + 1)) 1 else 0)
      (hN, vN, dN)
    }
    def signContribs(x: Int, y: Int): (Int, Int) = {
      @inline def contrib(cx: Int, cy: Int): Int =
        if (!sigAt(cx, cy)) 0 else if (sgn(cy * w + cx) == 1) -1 else 1
      val hc = math.max(-1, math.min(1, contrib(x - 1, y) + contrib(x + 1, y)))
      val vc = math.max(-1, math.min(1, contrib(x, y - 1) + contrib(x, y + 1)))
      (hc, vc)
    }
  }

  private def initCx(): Array[Short] = {
    val cx = new Array[Short](19)
    cx(0) = (4 << 1).toShort // significance context 0 starts in state 4
    cx(CtxRl) = (3 << 1).toShort // run-length starts in state 3
    cx(CtxUni) = (46 << 1).toShort // uniform starts in state 46
    cx
  }

  /** Decode one code block's passes into sign-magnitude coefficients. */
  private def t1Decode(cb: CodeBlock, orientation: Int, numbps: Int): T1State = {
    val st = new T1State(cb.w, cb.h)
    if (cb.passes == 0 || numbps <= 0) return st
    val data = cb.data.toByteArray
    val mq = new Jbig2.MQDecoder(data, 0, data.length)
    val cx = initCx()
    val w = cb.w; val h = cb.h
    var passIdx = 0
    var plane = numbps - 1
    var passType = 2 // first pass is cleanup
    while (passIdx < cb.passes && plane >= 0) {
      passType match {
        case 0 => // significance propagation
          var y0 = 0
          while (y0 < h) {
            var x = 0
            while (x < w) {
              var y = y0
              val yMax = math.min(y0 + 4, h)
              while (y < yMax) {
                val idx = y * w + x
                if (!st.sig(idx)) {
                  val (hN, vN, dN) = st.neighborCounts(x, y)
                  if (hN + vN + dN > 0) {
                    val ctx = sigCtx(orientation, hN, vN, dN)
                    if (mq.readBit(cx, ctx) == 1) {
                      val (sc, xorBit) = signCtx(st.signContribs(x, y)._1, st.signContribs(x, y)._2)
                      val s = mq.readBit(cx, sc) ^ xorBit
                      st.sig(idx) = true
                      st.sgn(idx) = s.toByte
                      st.mag(idx) |= 1 << plane
                    }
                    st.visited(idx) = true
                  }
                }
                y += 1
              }
              x += 1
            }
            y0 += 4
          }
        case 1 => // magnitude refinement
          var y0 = 0
          while (y0 < h) {
            var x = 0
            while (x < w) {
              var y = y0
              val yMax = math.min(y0 + 4, h)
              while (y < yMax) {
                val idx = y * w + x
                if (st.sig(idx) && !st.visited(idx)) {
                  val ctx =
                    if (st.refined(idx)) 16
                    else {
                      val (hN, vN, dN) = st.neighborCounts(x, y)
                      if (hN + vN + dN > 0) 15 else 14
                    }
                  val bit = mq.readBit(cx, ctx)
                  st.mag(idx) |= bit << plane
                  st.refined(idx) = true
                }
                y += 1
              }
              x += 1
            }
            y0 += 4
          }
        case _ => // cleanup
          var y0 = 0
          while (y0 < h) {
            var x = 0
            while (x < w) {
              var y = y0
              val yMax = math.min(y0 + 4, h)
              // run-length mode: full stripe column, all four unvisited,
              // insignificant, zero-context
              var rlSkip = false
              if (y0 + 4 <= h) {
                var all = true
                var k = 0
                while (all && k < 4) {
                  val idx = (y0 + k) * w + x
                  if (st.sig(idx) || st.visited(idx)) all = false
                  else {
                    val (hN, vN, dN) = st.neighborCounts(x, y0 + k)
                    if (hN + vN + dN > 0) all = false
                  }
                  k += 1
                }
                if (all) {
                  if (mq.readBit(cx, CtxRl) == 0) rlSkip = true
                  else {
                    val k2 = (mq.readBit(cx, CtxUni) << 1) | mq.readBit(cx, CtxUni)
                    // coefficients above the first significant one stay 0
                    val idx = (y0 + k2) * w + x
                    val (sc, xorBit) = signCtx(st.signContribs(x, y0 + k2)._1, st.signContribs(x, y0 + k2)._2)
                    val s = mq.readBit(cx, sc) ^ xorBit
                    st.sig(idx) = true
                    st.sgn(idx) = s.toByte
                    st.mag(idx) |= 1 << plane
                    y = y0 + k2 + 1
                  }
                }
              }
              if (!rlSkip) {
                while (y < yMax) {
                  val idx = y * w + x
                  if (!st.sig(idx) && !st.visited(idx)) {
                    val (hN, vN, dN) = st.neighborCounts(x, y)
                    val ctx = sigCtx(orientation, hN, vN, dN)
                    if (mq.readBit(cx, ctx) == 1) {
                      val (sc, xorBit) = signCtx(st.signContribs(x, y)._1, st.signContribs(x, y)._2)
                      val s = mq.readBit(cx, sc) ^ xorBit
                      st.sig(idx) = true
                      st.sgn(idx) = s.toByte
                      st.mag(idx) |= 1 << plane
                    }
                  }
                  y += 1
                }
              }
              x += 1
            }
            y0 += 4
          }
          java.util.Arrays.fill(st.visited, false)
      }
      passIdx += 1
      if (passType == 2) { passType = 0; plane -= 1 }
      else passType += 1
    }
    st
  }

  // =========================================================================
  // inverse DWT (Annex F) — 5/3 integer lifting, 9/7 double lifting
  // =========================================================================
  /** In-place 1D 5/3 synthesis on `a(off + i*stride)`, i in [0, n), even
    * start (all our signals start at 0). Symmetric (whole-point) extension. */
  private[core] def sr53(a: Array[Int], off: Int, stride: Int, n: Int): Unit = {
    if (n <= 1) return
    @inline def refl(i: Int): Int = if (i < 0) -i else if (i >= n) 2 * (n - 1) - i else i
    @inline def g(i: Int): Int = a(off + refl(i) * stride)
    var i = 0
    while (i < n) { // even samples first (read original odd values)
      a(off + i * stride) = g(i) - ((g(i - 1) + g(i + 1) + 2) >> 2)
      i += 2
    }
    i = 1
    while (i < n) { // odd samples (read updated even values)
      a(off + i * stride) = g(i) + ((g(i - 1) + g(i + 1)) >> 1)
      i += 2
    }
  }

  /** Forward (analysis) counterpart — encoder + perfect-reconstruction
    * tests. */
  private[core] def fd53(a: Array[Int], off: Int, stride: Int, n: Int): Unit = {
    if (n <= 1) return
    @inline def refl(i: Int): Int = if (i < 0) -i else if (i >= n) 2 * (n - 1) - i else i
    @inline def g(i: Int): Int = a(off + refl(i) * stride)
    var i = 1
    while (i < n) { // odd (high) first, reads original evens
      a(off + i * stride) = g(i) - ((g(i - 1) + g(i + 1)) >> 1)
      i += 2
    }
    i = 0
    while (i < n) { // even (low), reads updated odds
      a(off + i * stride) = g(i) + ((g(i - 1) + g(i + 1) + 2) >> 2)
      i += 2
    }
  }

  // 9/7 irreversible constants (T.800 F.4.8.2 / the standard factorization)
  private val A97 = -1.586134342059924
  private val B97 = -0.052980118572961
  private val G97 = 0.882911075530934
  private val D97 = 0.443506852043971
  private val K97 = 1.230174104914001

  private def sr97(a: Array[Double], off: Int, stride: Int, n: Int): Unit = {
    if (n <= 1) return
    @inline def refl(i: Int): Int = if (i < 0) -i else if (i >= n) 2 * (n - 1) - i else i
    @inline def g(i: Int): Double = a(off + refl(i) * stride)
    var i = 0
    while (i < n) { a(off + i * stride) = g(i) * K97; i += 2 } // scale low
    i = 1
    while (i < n) { a(off + i * stride) = g(i) * (2.0 / K97); i += 2 } // scale high
    i = 0
    while (i < n) { a(off + i * stride) = g(i) - D97 * (g(i - 1) + g(i + 1)); i += 2 }
    i = 1
    while (i < n) { a(off + i * stride) = g(i) - G97 * (g(i - 1) + g(i + 1)); i += 2 }
    i = 0
    while (i < n) { a(off + i * stride) = g(i) - B97 * (g(i - 1) + g(i + 1)); i += 2 }
    i = 1
    while (i < n) { a(off + i * stride) = g(i) - A97 * (g(i - 1) + g(i + 1)); i += 2 }
  }

  // =========================================================================
  // public decode
  // =========================================================================
  def decode(payload: Array[Byte]): Decoded = {
    val csm = parseCodestream(rawCodestream(payload))
    val nComps = csm.comps.length
    val bands: Array[Array[Band]] =
      Array.tabulate(nComps)(c => bandsFor(csm.width, csm.height, csm.codOf(c)))
    decodePackets(csm, bands)
    val w = csm.width; val h = csm.height
    val reversible = csm.cod.transform == 1

    val planes: Array[Array[Int]] = Array.tabulate(nComps) { c =>
      val cp = csm.codOf(c)
      val qp = csm.quantOf(c)
      if ((cp.transform == 1) != reversible)
        throw new IllegalArgumentException("JPX: mixed transforms unsupported")
      // T1-decode every code block, assemble band coefficient arrays
      val fPlanes: Array[Array[Double]] = if (reversible) null else new Array(bands(c).length)
      bands(c).zipWithIndex.foreach { case (band, bi) =>
        val gain = band.orientation match {
          case 0 => 0
          case 3 => 2
          case _ => 1
        }
        val exp =
          if (qp.style == 1) { // scalar derived from LL
            qp.exps(0) - cp.levels + band.nb
          } else if (band.qIdx < qp.exps.length) qp.exps(band.qIdx)
          else throw new IllegalArgumentException("JPX: missing quantization band")
        val mant =
          if (qp.style == 1) qp.mants(0)
          else qp.mants(band.qIdx)
        val mb = qp.guardBits + exp - 1
        val fArr = if (reversible) null else new Array[Double](math.max(0, band.w * band.h))
        band.blocks.foreach { cb =>
          if (cb.included && cb.passes > 0) {
            val numbps = mb - cb.missingMsbs
            val st = t1Decode(cb, band.orientation, numbps)
            var y = 0
            while (y < cb.h) {
              var x = 0
              while (x < cb.w) {
                val m = st.mag(y * cb.w + x)
                if (m != 0) {
                  val sign = if (st.sgn(y * cb.w + x) == 1) -1 else 1
                  val o = (cb.y0 + y) * band.w + (cb.x0 + x)
                  if (reversible) band.coeffs(o) = sign * m
                  else {
                    // Δb = 2^(Rb − εb) (1 + μb/2^11), Rb = comp depth + gain
                    val rb = csm.comps(c).bpc + gain
                    val delta = math.pow(2.0, rb - exp) * (1.0 + mant / 2048.0)
                    fArr(o) = sign * m * delta
                  }
                }
                x += 1
              }
              y += 1
            }
          }
        }
        if (!reversible) fPlanes(bi) = fArr
      }
      // multi-level synthesis: start from LL, fold in HL/LH/HH per level
      val nl = cp.levels
      def bandAt(r: Int, o: Int): Band = bands(c).find(b => b.res == r && b.orientation == o).get
      def fOf(b: Band): Array[Double] = fPlanes(bands(c).indexOf(b))
      if (reversible) {
        var cur = bandAt(0, 0).coeffs
        var curW = bandAt(0, 0).w
        var curH = bandAt(0, 0).h
        var r = 1
        while (r <= nl) {
          val hl = bandAt(r, 1); val lh = bandAt(r, 2); val hh = bandAt(r, 3)
          val ow = curW + hl.w
          val oh = curH + lh.h
          val a = new Array[Int](ow * oh)
          interleave(cur, curW, hl.coeffs, hl.w, lh.coeffs, hh.coeffs, a, ow, oh)
          var y = 0
          while (y < oh) { sr53(a, y * ow, 1, ow); y += 1 }
          var x = 0
          while (x < ow) { sr53(a, x, ow, oh); x += 1 }
          cur = a; curW = ow; curH = oh
          r += 1
        }
        require(curW == w && curH == h, "JPX: reconstruction size mismatch")
        cur
      } else {
        var cur = fOf(bandAt(0, 0))
        var curW = bandAt(0, 0).w
        var curH = bandAt(0, 0).h
        var r = 1
        while (r <= nl) {
          val hl = bandAt(r, 1); val lh = bandAt(r, 2); val hh = bandAt(r, 3)
          val ow = curW + hl.w
          val oh = curH + lh.h
          val a = new Array[Double](ow * oh)
          interleaveD(cur, curW, fOf(hl), hl.w, fOf(lh), fOf(hh), a, ow, oh)
          var y = 0
          while (y < oh) { sr97(a, y * ow, 1, ow); y += 1 }
          var x = 0
          while (x < ow) { sr97(a, x, ow, oh); x += 1 }
          cur = a; curW = ow; curH = oh
          r += 1
        }
        require(curW == w && curH == h, "JPX: reconstruction size mismatch")
        cur.map(v => math.round(v).toInt)
      }
    }

    // inverse component transform + DC level shift + clamp
    if (csm.cod.mct == 1 && nComps >= 3) {
      if (reversible) { // RCT inverse
        var i = 0
        val y = planes(0); val u = planes(1); val v = planes(2)
        while (i < w * h) {
          val g = y(i) - ((u(i) + v(i)) >> 2)
          val r0 = v(i) + g
          val b0 = u(i) + g
          y(i) = r0; u(i) = g; v(i) = b0
          i += 1
        }
      } else { // ICT inverse (YCbCr)
        var i = 0
        val y = planes(0); val u = planes(1); val v = planes(2)
        while (i < w * h) {
          val yy = y(i).toDouble; val cb = u(i).toDouble; val cr = v(i).toDouble
          val r0 = yy + 1.402 * cr
          val g0 = yy - 0.344136 * cb - 0.714136 * cr
          val b0 = yy + 1.772 * cb
          y(i) = math.round(r0).toInt; u(i) = math.round(g0).toInt; v(i) = math.round(b0).toInt
          i += 1
        }
      }
    }
    var c = 0
    while (c < nComps) {
      val bpc = csm.comps(c).bpc
      val shift = 1 << (bpc - 1)
      val maxV = (1 << bpc) - 1
      val p = planes(c)
      var i = 0
      while (i < p.length) {
        val v = p(i) + shift
        p(i) = if (v < 0) 0 else if (v > maxV) maxV else v
        i += 1
      }
      c += 1
    }
    Decoded(w, h, nComps, csm.comps(0).bpc, planes)
  }

  private def interleave(ll: Array[Int], llw: Int,
                         hl: Array[Int], hlw: Int,
                         lh: Array[Int],
                         hh: Array[Int], out: Array[Int], ow: Int, oh: Int): Unit = {
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val v =
          if (x % 2 == 0 && y % 2 == 0) ll((y / 2) * llw + (x / 2))
          else if (x % 2 == 1 && y % 2 == 0) hl((y / 2) * hlw + (x / 2))
          else if (x % 2 == 0 && y % 2 == 1) lh((y / 2) * llw + (x / 2))
          else hh((y / 2) * hlw + (x / 2))
        out(y * ow + x) = v
        x += 1
      }
      y += 1
    }
  }

  // =========================================================================
  // restricted ENCODER (fixtures/specs): lossless 5/3, single tile, single
  // layer, LRCP, default precincts, optional RCT. The lossless round trip
  // is the strongest in-sandbox validation of the decoder: tag trees,
  // packet headers, T1 passes and the DWT must all be exactly inverse.
  // =========================================================================
  def encodeLossless(compsIn: Array[Array[Int]], w: Int, h: Int, bpc: Int,
                     levels: Int = 2, useRct: Boolean = true, cbExp: Int = 5): Array[Byte] = {
    require(compsIn.nonEmpty && compsIn.forall(_.length == w * h))
    val nComps = compsIn.length
    val rct = useRct && nComps >= 3
    val guard = 2
    // DC level shift then optional RCT
    val planes = compsIn.map { p =>
      val a = new Array[Int](w * h)
      var i = 0
      val shift = 1 << (bpc - 1)
      while (i < p.length) { a(i) = p(i) - shift; i += 1 }
      a
    }
    if (rct) {
      val r = planes(0); val g = planes(1); val b = planes(2)
      var i = 0
      while (i < w * h) {
        val y = (r(i) + 2 * g(i) + b(i)) >> 2
        val u = b(i) - g(i)
        val v = r(i) - g(i)
        r(i) = y; g(i) = u; b(i) = v
        i += 1
      }
    }
    // forward DWT per component → band arrays keyed (res, orientation)
    final case class EncBand(res: Int, orientation: Int, w: Int, h: Int, coeffs: Array[Int])
    def fdwt(plane: Array[Int]): Vector[EncBand] = {
      val out = Vector.newBuilder[EncBand]
      var cur = plane
      var cw = w; var ch = h
      var lvl = 1
      while (lvl <= levels) {
        // forward per level: vertical analysis then horizontal (exact
        // inverse of the decoder's horizontal-then-vertical synthesis)
        var x = 0
        while (x < cw) { fd53(cur, x, cw, ch); x += 1 }
        var y = 0
        while (y < ch) { fd53(cur, y * cw, 1, cw); y += 1 }
        val llw = ceilDiv(cw, 2); val llh = ceilDiv(ch, 2)
        val hlw = cw - llw; val lhh = ch - llh
        val ll = new Array[Int](llw * llh)
        val hl = new Array[Int](hlw * llh)
        val lh = new Array[Int](llw * lhh)
        val hh = new Array[Int](hlw * lhh)
        y = 0
        while (y < ch) {
          x = 0
          while (x < cw) {
            val v = cur(y * cw + x)
            if (x % 2 == 0 && y % 2 == 0) ll((y / 2) * llw + (x / 2)) = v
            else if (x % 2 == 1 && y % 2 == 0) hl((y / 2) * hlw + (x / 2)) = v
            else if (x % 2 == 0 && y % 2 == 1) lh((y / 2) * llw + (x / 2)) = v
            else hh((y / 2) * hlw + (x / 2)) = v
            x += 1
          }
          y += 1
        }
        val res = levels - lvl + 1
        out += EncBand(res, 1, hlw, llh, hl)
        out += EncBand(res, 2, llw, lhh, lh)
        out += EncBand(res, 3, hlw, lhh, hh)
        cur = ll; cw = llw; ch = llh
        lvl += 1
      }
      out += EncBand(0, 0, cw, ch, cur)
      out.result()
    }
    val encBands: Array[Vector[EncBand]] = planes.map(fdwt)

    // per-band max bit count → QCD exponents such that Mb == max numbps
    def numbpsOf(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    val bandOrder: Vector[(Int, Int)] = // QCD order: LL, then (HL, LH, HH) per res
      (0, 0) +: (1 to levels).flatMap(r => Vector((r, 1), (r, 2), (r, 3))).toVector
    val exps: Array[Int] = bandOrder.toArray.map { case (r, o) =>
      var mx = 1
      encBands.foreach { bs =>
        val b = bs.find(eb => eb.res == r && eb.orientation == o).get
        b.coeffs.foreach(v => mx = math.max(mx, numbpsOf(v)))
      }
      math.max(1, mx + 1 - guard) // Mb = guard + ε − 1 == max numbps
    }

    // T1-encode a code block; returns (missingMsbs, passes, data) or None
    // if the block is entirely zero (left un-included)
    def t1Encode(mag: Array[Int], sgn: Array[Byte], bw0: Int, bh0: Int,
                 orientation: Int, mb: Int): Option[(Int, Int, Array[Byte])] = {
      var mx = 0
      mag.foreach(m => mx = math.max(mx, m))
      if (mx == 0) return None
      val numbps = 32 - Integer.numberOfLeadingZeros(mx)
      if (numbps > mb) throw new IllegalStateException("JPX encoder: Mb too small")
      val st = new T1State(bw0, bh0)
      val enc = new Jbig2.MQEncoder
      val cx = initCx()
      val passes = 3 * numbps - 2
      var passIdx = 0
      var plane = numbps - 1
      var passType = 2
      while (passIdx < passes && plane >= 0) {
        passType match {
          case 0 => // significance propagation
            var y0 = 0
            while (y0 < bh0) {
              var x = 0
              while (x < bw0) {
                var y = y0
                val yMax = math.min(y0 + 4, bh0)
                while (y < yMax) {
                  val idx = y * bw0 + x
                  if (!st.sig(idx)) {
                    val (hN, vN, dN) = st.neighborCounts(x, y)
                    if (hN + vN + dN > 0) {
                      val bit = (mag(idx) >> plane) & 1
                      enc.encodeBit(cx, sigCtx(orientation, hN, vN, dN), bit)
                      if (bit == 1) {
                        val (hc, vc) = st.signContribs(x, y)
                        val (sc, xorBit) = signCtx(hc, vc)
                        enc.encodeBit(cx, sc, (sgn(idx) & 1) ^ xorBit)
                        st.sig(idx) = true
                        st.sgn(idx) = sgn(idx)
                      }
                      st.visited(idx) = true
                    }
                  }
                  y += 1
                }
                x += 1
              }
              y0 += 4
            }
          case 1 => // magnitude refinement
            var y0 = 0
            while (y0 < bh0) {
              var x = 0
              while (x < bw0) {
                var y = y0
                val yMax = math.min(y0 + 4, bh0)
                while (y < yMax) {
                  val idx = y * bw0 + x
                  if (st.sig(idx) && !st.visited(idx)) {
                    val ctx =
                      if (st.refined(idx)) 16
                      else {
                        val (hN, vN, dN) = st.neighborCounts(x, y)
                        if (hN + vN + dN > 0) 15 else 14
                      }
                    enc.encodeBit(cx, ctx, (mag(idx) >> plane) & 1)
                    st.refined(idx) = true
                  }
                  y += 1
                }
                x += 1
              }
              y0 += 4
            }
          case _ => // cleanup
            var y0 = 0
            while (y0 < bh0) {
              var x = 0
              while (x < bw0) {
                var y = y0
                val yMax = math.min(y0 + 4, bh0)
                var rlSkip = false
                if (y0 + 4 <= bh0) {
                  var all = true
                  var k = 0
                  while (all && k < 4) {
                    val idx = (y0 + k) * bw0 + x
                    if (st.sig(idx) || st.visited(idx)) all = false
                    else {
                      val (hN, vN, dN) = st.neighborCounts(x, y0 + k)
                      if (hN + vN + dN > 0) all = false
                    }
                    k += 1
                  }
                  if (all) {
                    var first = -1
                    k = 0
                    while (first < 0 && k < 4) {
                      if (((mag((y0 + k) * bw0 + x) >> plane) & 1) == 1) first = k
                      k += 1
                    }
                    if (first < 0) { enc.encodeBit(cx, CtxRl, 0); rlSkip = true }
                    else {
                      enc.encodeBit(cx, CtxRl, 1)
                      enc.encodeBit(cx, CtxUni, (first >> 1) & 1)
                      enc.encodeBit(cx, CtxUni, first & 1)
                      val idx = (y0 + first) * bw0 + x
                      val (hc, vc) = st.signContribs(x, y0 + first)
                      val (sc, xorBit) = signCtx(hc, vc)
                      enc.encodeBit(cx, sc, (sgn(idx) & 1) ^ xorBit)
                      st.sig(idx) = true
                      st.sgn(idx) = sgn(idx)
                      y = y0 + first + 1
                    }
                  }
                }
                if (!rlSkip) {
                  while (y < yMax) {
                    val idx = y * bw0 + x
                    if (!st.sig(idx) && !st.visited(idx)) {
                      val (hN, vN, dN) = st.neighborCounts(x, y)
                      val bit = (mag(idx) >> plane) & 1
                      enc.encodeBit(cx, sigCtx(orientation, hN, vN, dN), bit)
                      if (bit == 1) {
                        val (hc, vc) = st.signContribs(x, y)
                        val (sc, xorBit) = signCtx(hc, vc)
                        enc.encodeBit(cx, sc, (sgn(idx) & 1) ^ xorBit)
                        st.sig(idx) = true
                        st.sgn(idx) = sgn(idx)
                      }
                    }
                    y += 1
                  }
                }
                x += 1
              }
              y0 += 4
            }
            java.util.Arrays.fill(st.visited, false)
        }
        passIdx += 1
        if (passType == 2) { passType = 0; plane -= 1 }
        else passType += 1
      }
      Some((mb - numbps, passes, enc.flush()))
    }

    // build packets: LRCP, one layer → packet per (res, comp)
    val body = new java.io.ByteArrayOutputStream()
    for (r <- 0 to levels; c <- 0 until nComps) {
      final case class Contribution(missing: Int, passes: Int, data: Array[Byte],
                                    gx: Int, gy: Int)
      // per band of this resolution: grid + contributions
      val resBands = bandOrder.zipWithIndex.filter(_._1._1 == r)
      val perBand = resBands.map { case ((_, o), qIdx) =>
        val eb = encBands(c).find(b => b.res == r && b.orientation == o).get
        val cbSz = 1 << cbExp
        val gw = if (eb.w <= 0) 0 else ceilDiv(eb.w, cbSz)
        val gh = if (eb.h <= 0) 0 else ceilDiv(eb.h, cbSz)
        val mb = guard + exps(qIdx) - 1
        val contribs = for (gy <- 0 until gh; gx <- 0 until gw) yield {
          val x0 = gx * cbSz; val y0 = gy * cbSz
          val bw0 = math.min(cbSz, eb.w - x0); val bh0 = math.min(cbSz, eb.h - y0)
          val mag = new Array[Int](bw0 * bh0)
          val sgn = new Array[Byte](bw0 * bh0)
          var y = 0
          while (y < bh0) {
            var x = 0
            while (x < bw0) {
              val v = eb.coeffs((y0 + y) * eb.w + (x0 + x))
              mag(y * bw0 + x) = math.abs(v)
              sgn(y * bw0 + x) = (if (v < 0) 1 else 0).toByte
              x += 1
            }
            y += 1
          }
          t1Encode(mag, sgn, bw0, bh0, o, mb).map { case (missing, passes, data) =>
            Contribution(missing, passes, data, gx, gy)
          }
        }
        (gw, gh, contribs)
      }
      val any = perBand.exists(_._3.exists(_.isDefined))
      val hw = new HdrWriter(body)
      if (!any) hw.bit(0)
      else {
        hw.bit(1)
        perBand.foreach { case (gw, gh, contribs) =>
          if (gw > 0 && gh > 0) {
            val incl = new TagTree(gw, gh)
            val imsb = new TagTree(gw, gh)
            contribs.zipWithIndex.foreach { case (cOpt, k) =>
              val gx = k % gw; val gy = k / gw
              incl.setValue(gx, gy, if (cOpt.isDefined) 0 else 1)
              imsb.setValue(gx, gy, cOpt.map(_.missing).getOrElse(0))
            }
            incl.buildParents(); imsb.buildParents()
            contribs.zipWithIndex.foreach { case (cOpt, k) =>
              val gx = k % gw; val gy = k / gw
              incl.encode(hw, gx, gy, 1)
              cOpt.foreach { cb =>
                var t = 1
                while (t <= cb.missing + 1) { imsb.encode(hw, gx, gy, t); t += 1 }
                // numPasses code (inverse of decodeNumPasses)
                val np = cb.passes
                if (np == 1) hw.bit(0)
                else if (np == 2) { hw.bit(1); hw.bit(0) }
                else if (np <= 5) { hw.bits(3L, 2); hw.bits((np - 3).toLong, 2) }
                else if (np <= 36) { hw.bits(3L, 2); hw.bits(3L, 2); hw.bits((np - 6).toLong, 5) }
                else { hw.bits(3L, 2); hw.bits(3L, 2); hw.bits(31L, 5); hw.bits((np - 37).toLong, 7) }
                // Lblock/length
                var lblock = 3
                val len = cb.data.length
                val needed = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, len)))
                while (lblock + floorLog2(np) < needed) { hw.bit(1); lblock += 1 }
                hw.bit(0)
                hw.bits(len.toLong, lblock + floorLog2(np))
              }
            }
          }
        }
      }
      hw.align()
      perBand.foreach(_._3.foreach(_.foreach(cb => body.write(cb.data))))
    }

    // markers
    val out = new java.io.ByteArrayOutputStream()
    def u8o(v: Int): Unit = out.write(v & 0xff)
    def u16o(v: Int): Unit = { u8o(v >> 8); u8o(v) }
    def u32o(v: Long): Unit = { u16o((v >> 16).toInt); u16o(v.toInt) }
    u8o(0xff); u8o(0x4f) // SOC
    u8o(0xff); u8o(0x51) // SIZ
    u16o(38 + 3 * nComps)
    u16o(0) // Rsiz
    u32o(w.toLong); u32o(h.toLong); u32o(0); u32o(0)
    u32o(w.toLong); u32o(h.toLong); u32o(0); u32o(0)
    u16o(nComps)
    (0 until nComps).foreach { _ => u8o(bpc - 1); u8o(1); u8o(1) }
    u8o(0xff); u8o(0x52) // COD
    u16o(12)
    u8o(0) // Scod: default precincts, no SOP/EPH
    u8o(0) // LRCP
    u16o(1) // layers
    u8o(if (rct) 1 else 0)
    u8o(levels)
    u8o(cbExp - 2); u8o(cbExp - 2)
    u8o(0) // code-block style
    u8o(1) // 5/3 reversible
    u8o(0xff); u8o(0x5c) // QCD
    u16o(3 + exps.length)
    u8o((guard << 5) | 0) // style 0 (no quantization)
    exps.foreach(e => u8o(e << 3))
    val data = body.toByteArray
    u8o(0xff); u8o(0x90) // SOT
    u16o(10); u16o(0); u32o((12 + 2 + data.length).toLong); u8o(0); u8o(1)
    u8o(0xff); u8o(0x93) // SOD
    out.write(data)
    u8o(0xff); u8o(0xd9) // EOC
    out.toByteArray
  }

  private def interleaveD(ll: Array[Double], llw: Int,
                          hl: Array[Double], hlw: Int,
                          lh: Array[Double],
                          hh: Array[Double], out: Array[Double], ow: Int, oh: Int): Unit = {
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val v =
          if (x % 2 == 0 && y % 2 == 0) ll((y / 2) * llw + (x / 2))
          else if (x % 2 == 1 && y % 2 == 0) hl((y / 2) * hlw + (x / 2))
          else if (x % 2 == 0 && y % 2 == 1) lh((y / 2) * llw + (x / 2))
          else hh((y / 2) * hlw + (x / 2))
        out(y * ow + x) = v
        x += 1
      }
      y += 1
    }
  }
}

package graft.core.render

/** In-memory ARGB raster — the PdfBitmap analog (reference
  * src/pypdfium2/_helpers/bitmap.py:17-325): owned buffer, explicit
  * width/height/stride, fill helpers, deterministic pixel access. One
  * 4-byte ARGB int per pixel; row-major, top-down. */
final class Bitmap(val width: Int, val height: Int, background: Int = 0xFFFFFFFF) {
  require(width > 0 && height > 0, s"bad bitmap dims ${width}x$height")
  val buf: Array[Int] = Array.fill(width * height)(background)

  /** Knockout-group backdrop (§11.4.7 /K): when set, READS (what a
    * compositing op blends against) come from this frozen initial backdrop
    * while WRITES accumulate into `buf` — so every mark inside the group
    * composites against the group's initial backdrop and later marks
    * replace, not stack on, earlier overlapping ones. Null = normal. */
  var knockoutBase: Array[Int] = null

  @inline def inBounds(x: Int, y: Int): Boolean = x >= 0 && x < width && y >= 0 && y < height
  @inline def get(x: Int, y: Int): Int =
    if (knockoutBase != null) knockoutBase(y * width + x) else buf(y * width + x)
  @inline def set(x: Int, y: Int, argb: Int): Unit =
    if (inBounds(x, y)) buf(y * width + x) = argb

  /** fill_rect analog (bitmap.py fill_rect). Coordinates clipped. */
  def fillRect(x0: Int, y0: Int, w: Int, h: Int, argb: Int): Unit = {
    var y = math.max(0, y0)
    val yEnd = math.min(height, y0 + h)
    val xs = math.max(0, x0)
    val xEnd = math.min(width, x0 + w)
    while (y < yEnd) {
      var x = xs
      while (x < xEnd) { buf(y * width + x) = argb; x += 1 }
      y += 1
    }
  }

  /** Fraction of non-background pixels (probe helper). */
  def inkFraction: Double =
    buf.count(_ != 0xFFFFFFFF).toDouble / buf.length

  /** PNG encoding via javax.imageio (JDK built-in) — the `to_pil`/save
    * analog (bitmap.py:249-325) for page-image training-data columns. */
  def toPng: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, buf, 0, width)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Raw pixel bytes in one of the reference's bitmap formats
    * (bitmap.py:36-67 FPDFBitmap_Gray/BGR/BGRx/BGRA, with the
    * `rev_byteorder` variants RGB/RGBx/RGBA). Gray is the ITU-R BT.601
    * luma of the opaque composite. Row-major, top-down, no row padding
    * (stride = width × bytes-per-pixel). */
  def toBytes(format: String): Array[Byte] = format match {
    case "BGRA" | "BGRx" | "RGBA" | "RGBx" =>
      val rev = format.startsWith("RGB")
      val opaque = format.endsWith("x")
      val out = new Array[Byte](buf.length * 4)
      var i = 0
      while (i < buf.length) {
        val p = buf(i)
        val r = ((p >> 16) & 0xff).toByte; val g = ((p >> 8) & 0xff).toByte
        val b = (p & 0xff).toByte
        out(i * 4) = if (rev) r else b
        out(i * 4 + 1) = g
        out(i * 4 + 2) = if (rev) b else r
        out(i * 4 + 3) = if (opaque) 0xff.toByte else ((p >>> 24) & 0xff).toByte
        i += 1
      }
      out
    case "BGR" | "RGB" =>
      val rev = format == "RGB"
      val out = new Array[Byte](buf.length * 3)
      var i = 0
      while (i < buf.length) {
        val p = buf(i)
        val r = ((p >> 16) & 0xff).toByte; val g = ((p >> 8) & 0xff).toByte
        val b = (p & 0xff).toByte
        out(i * 3) = if (rev) r else b
        out(i * 3 + 1) = g
        out(i * 3 + 2) = if (rev) b else r
        i += 1
      }
      out
    case "Gray" | "L" =>
      val out = new Array[Byte](buf.length)
      var i = 0
      while (i < buf.length) {
        val p = buf(i)
        // BT.601 integer luma: (77R + 150G + 29B) >> 8
        out(i) = ((77 * ((p >> 16) & 0xff) + 150 * ((p >> 8) & 0xff) + 29 * (p & 0xff)) >> 8).toByte
        i += 1
      }
      out
    case other => throw new IllegalArgumentException(s"unknown bitmap format: $other")
  }
}

object Bitmap {
  /** color_tohex analog (reference src/pypdfium2/internal/utils.py:9-24,
    * tested tests/test_misc.py:14-32): pack an (r,g,b,a) color into the
    * 32-bit int PDFium takes — A:R:G:B normally, A:B:G:R under
    * rev_byteorder (matching the reference's undocumented swap). */
  def colorToHex(r: Int, g: Int, b: Int, a: Int, revByteorder: Boolean = false): Int = {
    require(Seq(r, g, b, a).forall(c => c >= 0 && c <= 255), "Color value exceeds boundaries.")
    if (revByteorder) (a << 24) | (b << 16) | (g << 8) | r
    else (a << 24) | (r << 16) | (g << 8) | b
  }
}

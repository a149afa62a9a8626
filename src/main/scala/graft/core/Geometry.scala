package graft.core

/** Immutable 2D affine transform, row-vector convention like the reference's
  * PdfMatrix (src/pypdfium2/_helpers/matrix.py:13-181):
  * (x', y') = (a*x + c*y + e, b*x + d*y + f). */
final case class Mat(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {
  /** this ∘ other — apply `this` first, then `other` (matrix.py:76-87 multiply). */
  def multiply(o: Mat): Mat = Mat(
    a * o.a + b * o.c,
    a * o.b + b * o.d,
    c * o.a + d * o.c,
    c * o.b + d * o.d,
    e * o.a + f * o.c + o.e,
    e * o.b + f * o.d + o.f)
  def translate(dx: Double, dy: Double): Mat = multiply(Mat(1, 0, 0, 1, dx, dy))
  def scale(sx: Double, sy: Double): Mat = multiply(Mat(sx, 0, 0, sy, 0, 0))
  def rotate(deg: Double): Mat = {
    val r = math.toRadians(deg)
    // reference matrix.py rotate: clockwise for positive angles (ccw=False default)
    multiply(Mat(math.cos(r), -math.sin(r), math.sin(r), math.cos(r), 0, 0))
  }
  def mirror(vertical: Boolean, horizontal: Boolean): Mat =
    multiply(Mat(if (vertical) -1 else 1, 0, 0, if (horizontal) -1 else 1, 0, 0))
  def skew(xDeg: Double, yDeg: Double): Mat =
    multiply(Mat(1, math.tan(math.toRadians(yDeg)), math.tan(math.toRadians(xDeg)), 1, 0, 0))
  def onPoint(x: Double, y: Double): (Double, Double) = (onX(x, y), onY(x, y))
  @inline def onX(x: Double, y: Double): Double = a * x + c * y + e
  @inline def onY(x: Double, y: Double): Double = b * x + d * y + f
  /** Transform a rect: transform 4 corners, take min/max (matrix.py on_rect). */
  def onRect(r: Rect): Rect = {
    val out = new Array[Double](4)
    onRectInto(r.left, r.bottom, r.right, r.top, out, 0)
    Rect(out(0), out(1), out(2), out(3))
  }
  /** [[onRect]] of (left, bottom, right, top), written as a quadruple into
    * `out` at `at` — the form the per-glyph box stores take. */
  def onRectInto(left: Double, bottom: Double, right: Double, top: Double,
                 out: Array[Double], at: Int): Unit = {
    val x1 = onX(left, bottom); val y1 = onY(left, bottom)
    val x2 = onX(right, bottom); val y2 = onY(right, bottom)
    val x3 = onX(left, top); val y3 = onY(left, top)
    val x4 = onX(right, top); val y4 = onY(right, top)
    out(at) = math.min(math.min(x1, x2), math.min(x3, x4))
    out(at + 1) = math.min(math.min(y1, y2), math.min(y3, y4))
    out(at + 2) = math.max(math.max(x1, x2), math.max(x3, x4))
    out(at + 3) = math.max(math.max(y1, y2), math.max(y3, y4))
  }
  def invert: Option[Mat] = {
    val det = a * d - b * c
    if (math.abs(det) < 1e-12) None
    else {
      val ia = d / det; val ib = -b / det; val ic = -c / det; val id = a / det
      Some(Mat(ia, ib, ic, id, -(e * ia + f * ic), -(e * ib + f * id)))
    }
  }
}
object Mat {
  val identity: Mat = Mat(1, 0, 0, 1, 0, 0)
}

/** Rectangle (left, bottom, right, top) in PDF canvas units (1pt = 1/72in) —
  * the reference's universal geometry value (SURVEY.md §1.2). */
final case class Rect(left: Double, bottom: Double, right: Double, top: Double) {
  def width: Double = right - left
  def height: Double = top - bottom
  def isEmpty: Boolean = width <= 0 || height <= 0
  def union(o: Rect): Rect =
    Rect(math.min(left, o.left), math.min(bottom, o.bottom), math.max(right, o.right), math.max(top, o.top))
  def intersect(o: Rect): Rect =
    Rect(math.max(left, o.left), math.max(bottom, o.bottom), math.min(right, o.right), math.min(top, o.top))
  def intersects(o: Rect): Boolean =
    left < o.right && o.left < right && bottom < o.top && o.bottom < top
  def contains(x: Double, y: Double): Boolean =
    x >= left && x <= right && y >= bottom && y <= top
}
object Rect {
  val empty: Rect = Rect(0, 0, 0, 0)
  /** ANSI-A fallback page size (reference page.py:115). */
  val ansiA: Rect = Rect(0, 0, 612, 792)
}

package graft.core

/** One page, with attribute inheritance resolved at tree-walk time.
  * Box getters implement the reference's fallback chain (page.py:95-185):
  * cropbox→mediabox, mediabox→ANSI-A, bbox = media ∩ crop. */
final class PdfPage private[core] (
    val doc: PdfDocument,
    val dict: PdfDict,
    inherited: Map[String, PdfObject],
    val ref: Option[Int]) {

  private def attr(key: String): PdfObject =
    dict.get(key).orElse(inherited.get(key)).map(doc.resolve).getOrElse(PdfNull)

  private def boxOf(key: String): Option[Rect] = attr(key) match {
    case PdfArray(items) if items.length == 4 =>
      // NaN marks a non-number (the lexer never reads a NaN number)
      def v(i: Int): Double = doc.resolve(items(i)) match { case PdfNumber(n) => n; case _ => Double.NaN }
      val x0 = v(0); val y0 = v(1); val x1 = v(2); val y1 = v(3)
      if (x0.isNaN || y0.isNaN || x1.isNaN || y1.isNaN) None
      else Some(Rect(math.min(x0, x1), math.min(y0, y1), math.max(x0, x1), math.max(y0, y1)))
    case _ => None
  }

  /** MediaBox with ANSI-A fallback (page.py:104-115, fixture box_fallback.pdf). */
  def mediaBox: Rect = boxOf("MediaBox").getOrElse(Rect.ansiA)
  /** CropBox falls back to MediaBox (page.py:118-124). */
  def cropBox: Rect = boxOf("CropBox").getOrElse(mediaBox)
  def bleedBox: Rect = boxOf("BleedBox").getOrElse(cropBox)
  def trimBox: Rect = boxOf("TrimBox").getOrElse(cropBox)
  def artBox: Rect = boxOf("ArtBox").getOrElse(cropBox)
  /** bbox = media ∩ crop (page.py:176-185). */
  def bbox: Rect = mediaBox.intersect(cropBox)

  /** Box without fallback chain (reference get_*box(fallback_ok=False)):
    * None when the key is absent (inheritance still applies). */
  def boxExplicit(key: String): Option[Rect] = boxOf(key)

  /** Rotation ∈ {0,90,180,270} (page.py:78-92). */
  def rotation: Int = attr("Rotate") match {
    case PdfNumber(v) =>
      val r = ((v.toInt % 360) + 360) % 360
      if (r == 90 || r == 180 || r == 270) r else 0
    case _ => 0
  }

  def size: (Double, Double) = {
    val b = bbox
    if (rotation == 90 || rotation == 270) (b.height, b.width) else (b.width, b.height)
  }
  def width: Double = size._1
  def height: Double = size._2

  def resources: PdfDict = attr("Resources") match { case d: PdfDict => d; case _ => PdfDict.empty }

  /** The page dict with inheritable attributes (§7.7.3.4) materialized —
    * what a flat rebuilt page tree must carry when intermediate /Pages
    * nodes (which held the inherited values) are dropped. */
  def effectiveDict: PdfDict = {
    val inheritable = Seq("Resources", "MediaBox", "CropBox", "Rotate")
    val pulled = inheritable.flatMap(k =>
      if (dict.contains(k)) None else inherited.get(k).map(k -> _))
    PdfDict(dict.entries ++ pulled)
  }

  /** Concatenated decoded content streams (a page may split content into an
    * array of streams — they form one token stream). */
  def contentBytes: Array[Byte] = doc.resolve(dict("Contents")) match {
    case s: PdfStream => doc.streamData(s)
    case PdfArray(items) =>
      val out = new java.io.ByteArrayOutputStream()
      items.foreach { it =>
        out.write(doc.streamData(it))
        out.write('\n')
      }
      out.toByteArray
    case _ => Array.emptyByteArray
  }

  def annotations: Vector[PdfDict] = doc.resolve(dict("Annots")) match {
    case PdfArray(items) => items.map(doc.resolve).collect { case d: PdfDict => d }
    case _ => Vector.empty
  }

  /** Typed annotation view: (subtype, rect, uri) — link harvesting is a core
    * web-corpus operation (the reference exposes annots via the raw API;
    * fixture text.pdf page 2 carries 4 URI links). */
  def annotationInfos: Vector[(String, Rect, String)] = annotations.map { a =>
    val subtype = doc.get(a, "Subtype") match { case PdfName(n) => n; case _ => "" }
    val rect = doc.get(a, "Rect") match {
      case PdfArray(items) if items.length == 4 =>
        val v = items.map(doc.resolve).collect { case PdfNumber(n) => n }
        if (v.length == 4) Rect(math.min(v(0), v(2)), math.min(v(1), v(3)), math.max(v(0), v(2)), math.max(v(1), v(3)))
        else Rect.empty
      case _ => Rect.empty
    }
    val uri = doc.get(a, "A") match {
      case act: PdfDict if doc.get(act, "S") == PdfName("URI") =>
        doc.get(act, "URI") match { case s: PdfString => s.asText; case _ => "" }
      case _ => ""
    }
    (subtype, rect, uri)
  }

  private var cachedTextPage: TextPage = null
  /** Text page (content-stream tokenize + font decode + PDFium-order text-run
    * assembly — the FPDFText_LoadPage analog, reference page.py:191-201). */
  def textPage: TextPage = {
    if (cachedTextPage == null) cachedTextPage = TextPage.build(this)
    cachedTextPage
  }

  /** Flattened page objects incl. form-XObject descent (page.py:274-325). */
  def objects(filter: Set[String] = Set.empty, maxDepth: Int = 15): Vector[PageObjectInfo] =
    ContentInterpreter.enumerate(this, filter, maxDepth)
}

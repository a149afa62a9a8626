package graft.core

/** Redaction — the PII-removal step a training pipeline applies to crawled
  * PDFs before text leaves quarantine. Two precision modes, both built on
  * this engine's own primitives:
  *
  *  - extraction-side (char-precise): drop every char whose tight charbox
  *    intersects a redaction rect from the text view. Nothing is written;
  *    this is the "redact the training text, keep the artifact" mode.
  *  - writer-side (object-precise, over-redacting by design): remove every
  *    text object whose bounds intersect a rect via [[ObjectEdit]] and
  *    paint an opaque fill over the area, then save. Over-redaction (the
  *    whole show-block goes, not just the overlapping glyphs) is the SAFE
  *    direction for redaction — partial glyph survival is a leak, partial
  *    removal of innocent text is not.
  *
  * The reference exposes the object-removal primitive (pageobjects.py
  * remove_obj / page.gen_content); applying it as redaction is this
  * engine's composition.
  */
object Redact {

  /** Char-precise extraction-side redaction: the page text with every
    * rect-intersecting char dropped. The LOOSE box (full advance width)
    * decides, so in-line space chars vanish with their words; generated
    * chars (CRLF) carry no box and always survive — line structure stays
    * intact, a fully-redacted line reads as an empty line. */
  def redactedText(tp: TextPage, rects: Seq[Rect]): String = {
    val sb = new java.lang.StringBuilder(tp.countChars)
    for (i <- 0 until tp.countChars if !tp.isExcluded(i)) {
      val hit = !tp.isGenerated(i) && tp.loose(i).exists(b => rects.exists(_.intersects(b)))
      if (!hit) sb.append(tp.unicodeAt(i))
    }
    sb.toString
  }

  /** Writer-side redaction of one page: remove intersecting text objects,
    * paint an opaque black fill over each rect. Returns the rewritten
    * document bytes. */
  def applyRedactions(doc: PdfDocument, pageIdx: Int, rects: Seq[Rect]): Array[Byte] = {
    val page = doc.page(pageIdx)
    val objs = page.objects()
    val victims = objs.zipWithIndex.collect {
      case (o, i) if o.objType == "text" && o.span.isDefined &&
        rects.exists(_.intersects(o.bounds)) => i
    }
    val fills = rects.map { r =>
      f"q 0 g ${r.left}%.2f ${r.bottom}%.2f ${r.width}%.2f ${r.height}%.2f re f Q"
    }.mkString(" ")
    PdfWriter.writeEdited(doc, EditSpec(pageEdits = Map(pageIdx -> PageEditSpec(
      appendContent = Some(fills),
      objectEdits = victims.map(i => ObjectEdit(i, remove = true))))))
  }
}

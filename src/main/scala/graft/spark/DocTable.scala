package graft.spark

import graft.core.PdfDocument

/** Typed rows of the distributed full-document carrier ([[ExtractPipeline.extractDoc]]).
  *
  * One `DocRow` per input document, with the whole non-text operator surface
  * of the reference API as columns: metadata map (document.py:308-337), TOC
  * (document.py:520-559), page boxes (page.py:70-120), page objects incl.
  * image metadata (pageobjects.py), annotations (page.py:274-325),
  * attachments with typed params (attachment.py:96-145), AcroForm fields,
  * per-page fonts, page labels and identifier/version scalars. Everything a
  * driver-side `PdfDocument.load` loop used to produce now rides on rows
  * inside tasks — selects/explodes over this Dataset express the individual
  * reports declaratively, and column pruning at the *parts* level is done by
  * the `parts` parameter (Catalyst cannot prune inside a mapPartitions, so
  * callers say up front which sections to materialize; unselected sections
  * are empty arrays at near-zero cost). */
final case class TocEntry(
    ord: Int, level: Int, title: String, count: Int,
    page_index: Int, view: String, px: Option[Double], py: Option[Double])

final case class PageBoxes(
    page: Int, width: Double, height: Double, rotation: Int,
    media_l: Double, media_b: Double, media_r: Double, media_t: Double,
    crop_l: Double, crop_b: Double, crop_r: Double, crop_t: Double,
    bbox_l: Double, bbox_b: Double, bbox_r: Double, bbox_t: Double)

final case class PageObjectRow(
    page: Int, ord: Int, obj_type: String,
    img_width: Int, img_height: Int, img_bpc: Int,
    img_colorspace: String, img_filters: Seq[String],
    l: Double, b: Double, r: Double, t: Double)

final case class AnnotationRow(
    page: Int, ord: Int, subtype: String,
    l: Double, b: Double, r: Double, t: Double, uri: String)

final case class AttachmentRow(
    ord: Int, name: String, n_bytes: Long, params: Map[String, String])

final case class FormFieldRow(ord: Int, name: String, field_type: String,
                              value: String, flags: Long)

final case class FontRow(
    page: Int, font: String, family: String, embedded: Boolean, weight: Int)

final case class DocRow(
    url: String,
    ok: Boolean,
    err_code: String,
    n_pages: Int,
    version: Int,
    id_permanent: String,
    id_changing: String,
    tagged: Boolean,
    page_mode: String,
    form_type: String,
    metadata: Map[String, String],
    toc: Seq[TocEntry],
    boxes: Seq[PageBoxes],
    objects: Seq[PageObjectRow],
    annotations: Seq[AnnotationRow],
    attachments: Seq[AttachmentRow],
    form_fields: Seq[FormFieldRow],
    fonts: Seq[FontRow],
    page_labels: Seq[String],
    unsupported: Seq[String])

/** Section names for [[ExtractPipeline.extractDoc]]'s parts selector. */
object DocParts {
  val Meta = "meta" // metadata map + version/id/tagged/page_mode/form_type
  val Toc = "toc"
  val Boxes = "boxes"
  val Objects = "objects" // forces content-stream interpretation per page
  val Annotations = "annotations"
  val Attachments = "attachments"
  val Forms = "forms"
  val Fonts = "fonts" // forces font-dict resolution per page
  val Labels = "labels"
  val Unsupported = "unsupported" // PdfUnspHandler analog (unsupported.py:15)
  val All: Set[String] =
    Set(Meta, Toc, Boxes, Objects, Annotations, Attachments, Forms, Fonts, Labels,
      Unsupported)
}

private[spark] object DocTable {

  /** Build one DocRow from a loaded document (runs inside a task). */
  def build(url: String, doc: PdfDocument, parts: Set[String]): DocRow = {
    def when[T](part: String)(f: => Seq[T]): Seq[T] =
      if (parts.contains(part)) try f catch { case _: Exception => Seq.empty } else Seq.empty

    val meta = parts.contains(DocParts.Meta)
    val (idp, idc) =
      if (meta) doc.identifiers else (Array.emptyByteArray, Array.emptyByteArray)
    // reference get_identifier slices [:n_bytes-2] of the hex-ish repr,
    // observably dropping the ID's last byte (document.py:278-292) — the
    // carrier exposes the reference-visible value
    def hexId(bs: Array[Byte]): String = bs.dropRight(1).map(x => f"$x%02X").mkString

    DocRow(
      url = url,
      ok = true,
      err_code = "",
      n_pages = doc.pageCount,
      version = if (meta) doc.version else 0,
      id_permanent = hexId(idp),
      id_changing = hexId(idc),
      tagged = meta && doc.isTagged,
      page_mode = if (meta) doc.pageMode else "",
      form_type = if (meta) doc.formType else "",
      metadata = if (meta) doc.metadata() else Map.empty,
      toc = when(DocParts.Toc) {
        doc.toc().zipWithIndex.map { case (bm, i) =>
          TocEntry(i, bm.level, bm.title, bm.count,
            bm.dest.map(_.pageIndex).getOrElse(-1),
            bm.dest.map(_.viewMode).getOrElse(""),
            bm.dest.flatMap(_.params.lift(0).flatten),
            bm.dest.flatMap(_.params.lift(1).flatten))
        }
      },
      boxes = when(DocParts.Boxes) {
        doc.pages.zipWithIndex.map { case (p, i) =>
          PageBoxes(i, p.width, p.height, p.rotation,
            p.mediaBox.left, p.mediaBox.bottom, p.mediaBox.right, p.mediaBox.top,
            p.cropBox.left, p.cropBox.bottom, p.cropBox.right, p.cropBox.top,
            p.bbox.left, p.bbox.bottom, p.bbox.right, p.bbox.top)
        }
      },
      objects = when(DocParts.Objects) {
        doc.pages.zipWithIndex.flatMap { case (p, pi) =>
          p.objects().zipWithIndex.map { case (o, oi) =>
            PageObjectRow(pi, oi, o.objType,
              o.imgWidth, o.imgHeight, o.imgBpc, o.imgColorspace, o.imgFilters,
              o.bounds.left, o.bounds.bottom, o.bounds.right, o.bounds.top)
          }
        }
      },
      annotations = when(DocParts.Annotations) {
        doc.pages.zipWithIndex.flatMap { case (p, pi) =>
          p.annotationInfos.zipWithIndex.map { case ((sub, r, uri), ai) =>
            AnnotationRow(pi, ai, sub, r.left, r.bottom, r.right, r.top, uri)
          }
        }
      },
      attachments = when(DocParts.Attachments) {
        doc.attachments.zipWithIndex.map { case (a, i) =>
          AttachmentRow(i + 1, a.name, a.data.length.toLong, a.params)
        }
      },
      form_fields = when(DocParts.Forms) {
        doc.formFieldsDetailed.zipWithIndex.map { case (f, i) =>
          FormFieldRow(i, f.name, f.fieldType, f.value, f.flags) }
      },
      fonts = when(DocParts.Fonts) {
        doc.pages.zipWithIndex.flatMap { case (p, pi) =>
          graft.core.Reports.pageFonts(p).map { case (bn, fam, emb, w) =>
            FontRow(pi + 1, bn, fam, emb, w)
          }
        }
      },
      page_labels = when(DocParts.Labels) {
        (0 until doc.pageCount).map(doc.pageLabel)
      },
      unsupported = when(DocParts.Unsupported) { doc.unsupportedFeatures })
  }

  def error(url: String, code: String): DocRow =
    DocRow(url, ok = false, err_code = code, n_pages = 0, version = 0,
      id_permanent = "", id_changing = "", tagged = false, page_mode = "",
      form_type = "", metadata = Map.empty, toc = Seq.empty, boxes = Seq.empty,
      objects = Seq.empty, annotations = Seq.empty, attachments = Seq.empty,
      form_fields = Seq.empty, fonts = Seq.empty, page_labels = Seq.empty,
      // PDFium raises FPDF_UNSP_DOC_SECURITY when the load itself fails on
      // an unsupported security handler (distinct from a wrong password)
      unsupported = if (code == graft.core.ErrCodes.Security) Seq("Security") else Seq.empty)
}

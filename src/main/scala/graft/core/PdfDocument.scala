package graft.core

import scala.collection.mutable

/** Error model mirroring the reference's PdfiumError + err_code
  * (src/pypdfium2/_helpers/misc.py:7-21). Parsing never throws out of
  * [[PdfDocument.load]]; failures surface as Left(PdfError) so Spark tasks
  * convert them into per-row status columns, not task kills. */
final case class PdfError(code: String, msg: String)
object ErrCodes {
  val Format = "FORMAT"     // FPDF_ERR_FORMAT analog
  val Password = "PASSWORD" // FPDF_ERR_PASSWORD analog
  val Security = "SECURITY"
  val Unknown = "UNKNOWN"
}

private final case class XrefEntry(offset: Long, gen: Int, kind: Int, objStmNum: Int, idxInStm: Int)

/** In-memory parsed PDF document.
  *
  * Pure JVM re-implementation of what PDFium does behind
  * `pypdfium2.PdfDocument` (reference: src/pypdfium2/_helpers/document.py):
  * startxref scan from EOF, classic xref tables + trailer chains, xref
  * streams, object streams (ObjStm), standard-security decryption, page tree
  * with attribute inheritance, metadata, TOC, attachments, page labels.
  * A linear object scan recovers malformed web PDFs whose xref is broken.
  */
final class PdfDocument private (
    val data: Array[Byte],
    xref: Map[Int, XrefEntry],
    val trailer: PdfDict,
    decryptor: Option[Crypto.Decryptor],
    encryptRefNum: Int) {

  private val cache = new java.util.HashMap[Int, PdfObject]()
  private val objStmCache = new java.util.HashMap[Int, Map[Int, PdfObject]]()
  /** Font decoders are document-scoped (pages share font objects). */
  private[core] val fontDecoderCache = new java.util.HashMap[AnyRef, PdfFontDecoder]()

  // ---- object resolution -------------------------------------------------

  def resolve(obj: PdfObject): PdfObject = obj match {
    case PdfRef(num, _) => getObject(num)
    case o => o
  }

  /** Deep resolve for dict lookups: resolve(dict(key)). */
  def get(dict: PdfDict, key: String): PdfObject = resolve(dict(key))

  def getObject(num: Int): PdfObject = {
    val cached = cache.get(num)
    if (cached != null) return cached
    cache.put(num, PdfNull) // cycle guard
    val result = xref.get(num) match {
      case Some(e) if e.kind == 1 => parseAt(e.offset, num, e.gen)
      case Some(e) if e.kind == 2 => fromObjStm(e.objStmNum, num)
      case _ => PdfNull
    }
    cache.put(num, result)
    result
  }

  private def parseAt(offset: Long, num: Int, gen: Int): PdfObject = {
    if (offset < 0 || offset >= data.length) return PdfNull
    val lx = new Lexer(data, offset.toInt)
    lx.skipWs()
    // expect "num gen obj"
    val t1 = lx.readToken(); val t2 = lx.readToken()
    if (!lx.tryKeyword("obj")) return PdfNull
    val declaredNum = try t1.toInt catch { case _: Exception => -1 }
    if (declaredNum != num) return PdfNull
    val _ = t2
    val obj = lx.parseObject(r => r match {
      case ref: PdfRef => resolve(ref) match { case PdfNumber(v) => Some(v.toLong); case _ => None }
      case _ => None
    })
    decryptObject(obj, num, gen)
  }

  /** Apply document decryption to strings/streams of a freshly-parsed object.
    * The /Encrypt dict itself and the XRef stream are never encrypted. */
  private def decryptObject(obj: PdfObject, num: Int, gen: Int): PdfObject = decryptor match {
    case None => obj
    case Some(dec) =>
      if (num == encryptRefNum) return obj
      def walk(o: PdfObject): PdfObject = o match {
        case PdfString(b) => PdfString(dec.decryptString(b, num, gen))
        case PdfArray(items) => PdfArray(items.map(walk))
        case PdfDict(m) => PdfDict(m.map { case (k, v) => k -> walk(v) })
        case PdfStream(d, raw) =>
          // XRef streams are never encrypted; Metadata streams stay
          // plaintext when the encrypt dict says EncryptMetadata=false.
          val skipDecrypt = d.get("Type").contains(PdfName("XRef")) ||
            (!dec.encryptMetadata && d.get("Type").contains(PdfName("Metadata")))
          val walkedDict = PdfDict(d.entries.map { case (k, v) => k -> walk(v) })
          if (skipDecrypt) PdfStream(walkedDict, raw)
          else PdfStream(walkedDict, dec.decrypt(raw, num, gen))
        case other => other
      }
      walk(obj)
  }

  private def fromObjStm(stmNum: Int, wantNum: Int): PdfObject = {
    var table = objStmCache.get(stmNum)
    if (table == null) {
      table = getObject(stmNum) match {
        case PdfStream(dict, raw) =>
          try {
            val decoded = Filters.decode(dict, raw, resolve)
            val n = resolve(dict("N")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
            val first = resolve(dict("First")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
            val hdr = new Lexer(decoded)
            val pairs = (0 until n).map { _ =>
              val on = hdr.readToken().toInt
              val off = hdr.readToken().toInt
              (on, off)
            }
            pairs.map { case (on, off) =>
              val lx = new Lexer(decoded, first + off)
              on -> lx.parseObject()
            }.toMap
          } catch { case _: Exception => Map.empty[Int, PdfObject] }
        case _ => Map.empty[Int, PdfObject]
      }
      objStmCache.put(stmNum, table)
    }
    table.getOrElse(wantNum, PdfNull) // note: objects inside ObjStm are never encrypted
  }

  /** Decoded stream content (after decryption + filters). */
  def streamData(obj: PdfObject): Array[Byte] = resolve(obj) match {
    case PdfStream(dict, raw) =>
      try Filters.decode(dict, raw, resolve)
      catch { case _: Exception => Array.emptyByteArray }
    case _ => Array.emptyByteArray
  }

  // ---- document structure ------------------------------------------------

  def catalog: PdfDict = get(trailer, "Root") match { case d: PdfDict => d; case _ => PdfDict.empty }

  /** PDF version as int (14 = 1.4) — reference document.py:295-305. Catalog
    * /Version overrides the header. */
  lazy val version: Int = {
    val headerV = {
      val head = new String(data, 0, math.min(16, data.length), java.nio.charset.StandardCharsets.ISO_8859_1)
      val m = "%PDF-(\\d)\\.(\\d)".r.findFirstMatchIn(head)
      m.map(g => g.group(1).toInt * 10 + g.group(2).toInt).getOrElse(0)
    }
    get(catalog, "Version") match {
      case PdfName(v) =>
        val m = "(\\d)\\.(\\d)".r.findFirstMatchIn(v)
        m.map(g => g.group(1).toInt * 10 + g.group(2).toInt).getOrElse(headerV)
      case _ => headerV
    }
  }

  /** File identifiers (permanent, changing) as raw bytes — document.py:278-292. */
  lazy val identifiers: (Array[Byte], Array[Byte]) = get(trailer, "ID") match {
    case PdfArray(items) if items.length >= 2 =>
      val a = resolve(items(0)) match { case PdfString(b) => b; case _ => Array.emptyByteArray }
      val b = resolve(items(1)) match { case PdfString(s) => s; case _ => Array.emptyByteArray }
      (a, b)
    case _ => (Array.emptyByteArray, Array.emptyByteArray)
  }

  /** Metadata over the 8 fixed keys — document.py:321-337. */
  def metadata(skipEmpty: Boolean = false): Map[String, String] = {
    val info = get(trailer, "Info") match { case d: PdfDict => d; case _ => PdfDict.empty }
    val keys = Seq("Title", "Author", "Subject", "Keywords", "Creator", "Producer", "CreationDate", "ModDate")
    val all = keys.map { k =>
      k -> (get(info, k) match { case s: PdfString => s.asText; case _ => "" })
    }
    (if (skipEmpty) all.filter(_._2.nonEmpty) else all).toMap
  }

  // page tree --------------------------------------------------------------

  /** Flattened page dicts in document order, with inheritance context. */
  lazy val pages: Vector[PdfPage] = {
    val out = Vector.newBuilder[PdfPage]
    val seen = mutable.Set[PdfObject]()
    def walk(node: PdfObject, inherited: Map[String, PdfObject], depth: Int): Unit = {
      if (depth > 64) return
      val refNum = node match { case PdfRef(n, _) => Some(n); case _ => None }
      resolve(node) match {
        case d: PdfDict if !seen.contains(node) =>
          seen += node
          val inh = inherited ++
            Seq("Resources", "MediaBox", "CropBox", "Rotate").flatMap(k => d.get(k).map(k -> _))
          get(d, "Type") match {
            case PdfName("Pages") =>
              get(d, "Kids") match {
                case PdfArray(kids) => kids.foreach(walk(_, inh, depth + 1))
                case _ => ()
              }
            case _ => // Page (or missing type: treat as page if it has no Kids)
              if (d.contains("Kids")) get(d, "Kids") match {
                case PdfArray(kids) => kids.foreach(walk(_, inh, depth + 1))
                case _ => ()
              }
              else out += new PdfPage(this, d, inh, refNum)
          }
        case _ => ()
      }
    }
    walk(catalog("Pages"), Map.empty, 0)
    out.result()
  }

  def pageCount: Int = pages.length
  def page(i: Int): PdfPage = pages(i)

  // TOC ---------------------------------------------------------------------

  /** Flattened bookmark tree with level, cycle detection and max_depth bound
    * (reference document.py:520-559). */
  def toc(maxDepth: Int = 15): Vector[Bookmark] =
    tocEvents(maxDepth).collect { case TocBookmark(bm) => bm }

  /** TOC traversal as an event stream: bookmarks interleaved with the
    * reference's warnings (circular chain cut, depth-bound subtree skip) in
    * emission order — needed for byte-identical toc reports
    * (tests/expectations/toc_maxdepth.txt, toc_circular.txt). */
  def tocEvents(maxDepth: Int = 15): Vector[TocEvent] = {
    val out = Vector.newBuilder[TocEvent]
    val seen = mutable.Set[(Int, Int)]()
    def walkLevel(first: PdfObject, level: Int): Unit = {
      var cur = first
      var guard = 0
      var done = false
      while (cur != PdfNull && guard < 4096 && !done) {
        guard += 1
        val key = cur match { case PdfRef(n, g) => (n, g); case _ => (-guard - level * 8192, -1) }
        if (seen.contains(key)) {
          out += TocWarning("A circular bookmark reference was detected while traversing the table of contents.")
          done = true
        } else {
          seen += key
          resolve(cur) match {
            case d: PdfDict =>
              val title = get(d, "Title") match { case s: PdfString => s.asText; case _ => "" }
              val count = get(d, "Count") match { case PdfNumber(v) => v.toInt; case _ => 0 }
              val dest = resolveDest(d)
              val color = get(d, "C") match {
                case PdfArray(items) if items.length == 3 =>
                  val v = items.map(resolve).collect { case PdfNumber(n) => n }
                  if (v.length == 3) Some((v(0), v(1), v(2))) else None
                case _ => None
              }
              out += TocBookmark(Bookmark(level, title, count, dest, color))
              if (level < maxDepth - 1) d.get("First").foreach(f => walkLevel(f, level + 1))
              else if (d.contains("First"))
                out += TocWarning(s"Maximum recursion depth $maxDepth reached (subtree skipped).")
              cur = d.get("Next").getOrElse(PdfNull)
            case _ => cur = PdfNull
          }
        }
      }
    }
    get(catalog, "Outlines") match {
      case d: PdfDict => d.get("First").foreach(f => walkLevel(f, 0))
      case _ => ()
    }
    out.result()
  }

  /** Resolve a destination (direct array, named dest via /Dests or name tree,
    * or via /A action GoTo) to (pageIndex, viewMode, params). */
  private def resolveDest(bm: PdfDict): Option[Dest] = {
    def fromArray(a: PdfArray): Option[Dest] = {
      if (a.length == 0) return None
      val pageIdx = resolve(a(0)) match {
        case pd: PdfDict => pages.indexWhere(_.dict eq pd)
        case PdfNumber(v) => v.toInt
        case _ => a(0) match {
          case r: PdfRef => pages.indexWhere(_.ref.contains(r.num))
          case _ => -1
        }
      }
      val mode = if (a.length > 1) resolve(a(1)) match { case PdfName(n) => n; case _ => "?" } else "?"
      val params = a.items.drop(2).map(resolve).collect { case PdfNumber(v) => Some(v); case PdfNull => None }
      Some(Dest(pageIdx, mode, params))
    }
    def fromObj(o: PdfObject): Option[Dest] = resolve(o) match {
      case a: PdfArray => fromArray(a)
      case s: PdfString => lookupNamedDest(s.asText)
      case PdfName(n) => lookupNamedDest(n)
      case d: PdfDict => d.get("D").flatMap(x => fromObj(x))
      case _ => None
    }
    bm.get("Dest").flatMap(fromObj).orElse {
      get(bm, "A") match {
        case a: PdfDict if get(a, "S") == PdfName("GoTo") => a.get("D").flatMap(fromObj)
        case _ => None
      }
    }
  }

  private lazy val namedDests: Map[String, PdfObject] = {
    val out = mutable.Map[String, PdfObject]()
    get(catalog, "Dests") match {
      case d: PdfDict => d.entries.foreach { case (k, v) => out(k) = v }
      case _ => ()
    }
    get(catalog, "Names") match {
      case n: PdfDict =>
        treeLeaves(n("Dests"), "Names").foreach { case (k, v) =>
          resolve(k) match { case s: PdfString => out(s.asText) = v; case _ => () }
        }
      case _ => ()
    }
    out.toMap
  }

  /** The (key, value) leaf pairs of a name or number tree (`leafKey` is
    * "Names" or "Nums"), in document order. A node reached twice, through
    * a `/Kids` cycle or a kid shared by two parents, is read once, so a
    * hostile tree costs one visit per object; depth is capped at 32. */
  private[core] def treeLeaves(root: PdfObject, leafKey: String): Vector[(PdfObject, PdfObject)] = {
    val out = Vector.newBuilder[(PdfObject, PdfObject)]
    val seen = mutable.HashSet[PdfRef]()
    def walk(node: PdfObject, depth: Int): Unit = node match {
      case _ if depth >= 32 => ()
      case r: PdfRef if !seen.add(r) => ()
      case _ => resolve(node) match {
        case d: PdfDict =>
          get(d, leafKey) match {
            case PdfArray(items) => items.grouped(2).foreach {
              case Vector(k, v) => out += ((k, v))
              case _ => ()
            }
            case _ => ()
          }
          get(d, "Kids") match {
            case PdfArray(kids) => kids.foreach(walk(_, depth + 1))
            case _ => ()
          }
        case _ => ()
      }
    }
    walk(root, 0)
    out.result()
  }

  private def lookupNamedDest(name: String): Option[Dest] =
    namedDests.get(name).flatMap { o =>
      resolve(o) match {
        case a: PdfArray => resolveDestArray(a)
        case d: PdfDict => d.get("D").flatMap(x => resolve(x) match { case a: PdfArray => resolveDestArray(a); case _ => None })
        case _ => None
      }
    }

  private def resolveDestArray(a: PdfArray): Option[Dest] = {
    if (a.length == 0) return None
    val pageIdx = a(0) match {
      case r: PdfRef => pages.indexWhere(_.ref.contains(r.num))
      case PdfNumber(v) => v.toInt
      case _ => -1
    }
    val mode = if (a.length > 1) resolve(a(1)) match { case PdfName(n) => n; case _ => "?" } else "?"
    val params = a.items.drop(2).map(resolve).collect { case PdfNumber(v) => Some(v); case PdfNull => None }
    Some(Dest(pageIdx, mode, params))
  }

  // attachments --------------------------------------------------------------

  /** Embedded files from the /Names/EmbeddedFiles name tree — reference
    * document.py:340-388, attachment.py. */
  lazy val attachments: Vector[Attachment] = {
    val out = Vector.newBuilder[Attachment]
    get(catalog, "Names") match {
      case n: PdfDict => treeLeaves(n("EmbeddedFiles"), "Names").foreach { case (k, v) =>
        val name = resolve(k) match { case s: PdfString => s.asText; case _ => "" }
        resolve(v) match {
          case fs: PdfDict =>
            val ef = get(fs, "EF") match { case e: PdfDict => e; case _ => PdfDict.empty }
            val fileStream = ef.get("F").orElse(ef.get("UF")).getOrElse(PdfNull)
            val bytes = streamData(fileStream)
            // params follow FPDFAttachment_GetStringValue semantics
            // (attachment.py:96-145 get_str_value): only string
            // values render ("" otherwise), and CheckSum renders as
            // an uppercase hex string in angle brackets
            // (tests/test_attachments.py:33-36).
            val params = resolve(fileStream) match {
              case PdfStream(sd, _) => get(sd, "Params") match {
                case p: PdfDict => p.entries.map { case (pk, pv) =>
                  pk -> (resolve(pv) match {
                    case PdfString(b) if pk == "CheckSum" =>
                      "<" + b.map(x => f"${x & 0xff}%02X").mkString + ">"
                    case s: PdfString => s.asText
                    case _ => ""
                  })
                }
                case _ => Map.empty[String, String]
              }
              case _ => Map.empty[String, String]
            }
            out += Attachment(name, bytes, params)
          case _ => ()
        }
      }
      case _ => ()
    }
    out.result()
  }

  // page labels ---------------------------------------------------------------

  /** Page label for 0-based index (reference document.py get_page_label +
    * fixture toc_viewmodes.pdf labels). */
  def pageLabel(index: Int): String = {
    val ranges = mutable.ArrayBuffer[(Int, PdfDict)]()
    treeLeaves(catalog("PageLabels"), "Nums").foreach { case (k, v) =>
      (resolve(k), resolve(v)) match {
        case (PdfNumber(n), vd: PdfDict) => ranges += ((n.toInt, vd))
        case _ => ()
      }
    }
    if (ranges.isEmpty) return (index + 1).toString
    val sorted = ranges.sortBy(_._1)
    val appl = sorted.takeWhile(_._1 <= index).lastOption
    appl match {
      case None => (index + 1).toString
      case Some((start, d)) =>
        val style = get(d, "S") match { case PdfName(s) => s; case _ => "" }
        val prefix = get(d, "P") match { case s: PdfString => s.asText; case _ => "" }
        val st = get(d, "St") match { case PdfNumber(v) => v.toInt; case _ => 1 }
        val n = st + (index - start)
        val numStr = style match {
          case "D" => n.toString
          case "R" => roman(n).toUpperCase
          case "r" => roman(n)
          case "A" => letters(n).toUpperCase
          case "a" => letters(n)
          case _ => ""
        }
        prefix + numStr
    }
  }

  private def roman(n: Int): String = {
    val vals = Seq(1000 -> "m", 900 -> "cm", 500 -> "d", 400 -> "cd", 100 -> "c", 90 -> "xc",
      50 -> "l", 40 -> "xl", 10 -> "x", 9 -> "ix", 5 -> "v", 4 -> "iv", 1 -> "i")
    var x = n
    val sb = new StringBuilder
    vals.foreach { case (v, s) => while (x >= v) { sb.append(s); x -= v } }
    sb.toString
  }
  private def letters(n: Int): String = {
    val reps = (n - 1) / 26 + 1
    val ch = ('a' + (n - 1) % 26).toChar
    ch.toString * reps
  }

  /** One terminal AcroForm field: qualified name, /FT, current /V rendered
    * as text (names and strings; arrays joined with ','), and /Ff flag bits
    * — the form-env field-state surface (document.py:598-632 formenv;
    * PDFium FPDFAnnot_GetFormField* family). Values and flags inherit down
    * the field tree like /FT does (§12.7.3.1). */
  final case class FormField(name: String, fieldType: String, value: String, flags: Long)

  def formFieldsDetailed: Vector[FormField] = {
    val out = Vector.newBuilder[FormField]
    def valText(v: PdfObject): String = resolve(v) match {
      case s: PdfString => s.asText
      case PdfName(n) => n
      case PdfNumber(n) => if (n == n.toLong.toDouble) n.toLong.toString else n.toString
      case PdfArray(items) => items.map(valText).mkString(",")
      case _ => ""
    }
    def walk(node: PdfObject, prefix: String, inheritedFt: String,
             inheritedV: String, inheritedFf: Long, depth: Int): Unit = {
      if (depth > 16) return
      resolve(node) match {
        case d: PdfDict =>
          val t = get(d, "T") match { case s: PdfString => s.asText; case _ => "" }
          val ft = get(d, "FT") match { case PdfName(n) => n; case _ => inheritedFt }
          val v = if (d.contains("V")) valText(d("V")) else inheritedV
          val ff = get(d, "Ff") match { case PdfNumber(n) => n.toLong; case _ => inheritedFf }
          val qualified = if (prefix.isEmpty) t else if (t.isEmpty) prefix else s"$prefix.$t"
          get(d, "Kids") match {
            case PdfArray(kids) => kids.foreach(walk(_, qualified, ft, v, ff, depth + 1))
            case _ => if (t.nonEmpty || ft.nonEmpty) out += FormField(qualified, ft, v, ff)
          }
        case _ => ()
      }
    }
    get(catalog, "AcroForm") match {
      case af: PdfDict => get(af, "Fields") match {
        case PdfArray(fields) => fields.foreach(walk(_, "", "", "", 0L, 0))
        case _ => ()
      }
      case _ => ()
    }
    out.result()
  }

  /** Form type following PDFium's FORMTYPE_* classification (reference
    * document.py get_formtype): XFA present → dynamic ("XFAFull") when the
    * catalog flags /NeedsRendering, static foreground ("XFAForeground")
    * otherwise; plain "AcroForm" without /XFA; "None" without /AcroForm. */
  def formType: String = get(catalog, "AcroForm") match {
    case d: PdfDict =>
      if (d.contains("XFA")) {
        val dynamic = get(catalog, "NeedsRendering") == PdfBool(true)
        if (dynamic) "XFAFull" else "XFAForeground"
      } else "AcroForm"
    case _ => "None"
  }

  def isTagged: Boolean = get(catalog, "MarkInfo") match {
    case d: PdfDict => get(d, "Marked") == PdfBool(true)
    case _ => false
  }

  def pageMode: String = get(catalog, "PageMode") match {
    case PdfName(n) => n
    case _ => "UseNone"
  }

  /** Unsupported-feature inventory — the engine's analog of the reference's
    * `PdfUnspHandler` callback surface (unsupported.py:15-70; feature names
    * from internal/consts.py:149-166, PDFium's public FPDF_UNSP_* codes).
    * Where PDFium raises a process-wide callback as it encounters each
    * structure, a distributed scan wants the same facts as a per-document
    * column, so a 100-TB corpus can inventory unsupported features with a
    * plain explode+groupBy. Detected here: XFA forms, portable collections
    * (catalog /Collection), embedded-files presence, shared-form XMP
    * workflow tags (AcrobatAdhocWorkflow namespace, workflowType 0/1/2),
    * and the unsupported annotation subtypes (3D, Movie, Sound, Screen
    * with /IT != Img, RichMedia, FileAttachment, Sig widgets).
    * "Security" is surfaced by the Spark carrier from the load error code
    * instead (an undecryptable document never reaches this method), and
    * shared-review detection is out of scope (PDFium ties it to its
    * review-UI layer, not to document structure alone). */
  def unsupportedFeatures: Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    get(catalog, "AcroForm") match {
      case d: PdfDict if d.contains("XFA") => out += "XFA form"
      case _ => ()
    }
    if (catalog.contains("Collection")) out += "Portable collection"
    if (attachments.nonEmpty) out += "Attachment (incomplete support)"
    get(catalog, "Metadata") match {
      case s: PdfStream =>
        val xml = new String(streamData(s), java.nio.charset.StandardCharsets.UTF_8)
        if (xml.contains("http://ns.adobe.com/AcrobatAdhocWorkflow/1.0/"))
          "workflowType>\\s*([012])".r.findFirstMatchIn(xml).map(_.group(1)).foreach {
            case "0" => out += "Shared form (email)"
            case "1" => out += "Shared form (acrobat)"
            case _   => out += "Shared form (filesystem)"
          }
      case _ => ()
    }
    pages.foreach(_.annotations.foreach { a =>
      val sub = get(a, "Subtype") match { case PdfName(n) => n; case _ => "" }
      sub match {
        case "3D"    => out += "3D annotation"
        case "Movie" => out += "Movie annotation"
        case "Sound" => out += "Sound annotation"
        case "Screen" =>
          val it = get(a, "IT") match { case PdfName(n) => n; case _ => "" }
          if (it != "Img") out += "Screen media annotation"
        case "RichMedia"      => out += "Screen rich media annotation"
        case "FileAttachment" => out += "Attachment annotation"
        case "Widget" =>
          if (get(a, "FT") == PdfName("Sig")) out += "Signature annotation"
        case _ => ()
      }
    })
    out.toVector
  }
}

final case class Bookmark(level: Int, title: String, count: Int, dest: Option[Dest],
                          color: Option[(Double, Double, Double)] = None)
sealed trait TocEvent
final case class TocBookmark(bm: Bookmark) extends TocEvent
final case class TocWarning(msg: String) extends TocEvent
final case class Dest(pageIndex: Int, viewMode: String, params: Vector[Option[Double]])
final case class Attachment(name: String, data: Array[Byte], params: Map[String, String])

object PdfDocument {

  /** Load from bytes — the engine's primary path (`html: BINARY` column per
    * BASELINE.json input_hint; reference FPDF_LoadMemDocument64,
    * document.py:572-574). */
  def load(bytes: Array[Byte], password: String = ""): Either[PdfError, PdfDocument] = {
    try loadImpl(bytes, password)
    catch { case e: Exception => Left(PdfError(ErrCodes.Format, s"parse failure: ${e.getClass.getSimpleName}: ${e.getMessage}")) }
  }

  private def loadImpl(data: Array[Byte], password: String): Either[PdfError, PdfDocument] = {
    if (data.length < 8) return Left(PdfError(ErrCodes.Format, "too short"))
    // startxref scan from EOF (PDF §7.5.5)
    val tailStart = math.max(0, data.length - 2048)
    val tail = new String(data, tailStart, data.length - tailStart, java.nio.charset.StandardCharsets.ISO_8859_1)
    val sxIdx = tail.lastIndexOf("startxref")
    val xrefAcc = mutable.Map[Int, XrefEntry]()
    var trailerAcc: PdfDict = PdfDict.empty
    var ok = false

    if (sxIdx >= 0) {
      val lx = new Lexer(data, tailStart + sxIdx + "startxref".length)
      val offTok = lx.readToken()
      val firstOff = try offTok.toLong catch { case _: Exception => -1L }
      if (firstOff >= 0 && firstOff < data.length) {
        ok = parseXrefChain(data, firstOff, xrefAcc, trailerD => {
          // first-seen trailer keys win (newest section first)
          trailerAcc = PdfDict(trailerD.entries ++ trailerAcc.entries)
        })
      }
    }
    def runReconstruction(): Option[PdfError] = {
      // xref reconstruction: linear scan for "N G obj" (SURVEY.md §7.4 item 3)
      reconstruct(data, xrefAcc)
      val doc0 = new PdfDocument(data, xrefAcc.toMap, PdfDict.empty, None, -1)
      // re-resolve Root if missing or dangling
      val rootOk = trailerAcc.get("Root").exists(r => doc0.resolve(r) match {
        case d: PdfDict => d.contains("Pages") || d.get("Type").contains(PdfName("Catalog"))
        case _ => false
      })
      if (!rootOk) {
        val rootNum = xrefAcc.keys.toSeq.sorted.find { n =>
          doc0.getObject(n) match {
            case d: PdfDict => d.get("Type").contains(PdfName("Catalog"))
            case _ => false
          }
        }
        rootNum match {
          case Some(n) => trailerAcc = PdfDict(trailerAcc.entries + ("Root" -> PdfRef(n, 0)))
          case None => return Some(PdfError(ErrCodes.Format, "no catalog found"))
        }
      }
      // find an info object for metadata completeness
      if (!trailerAcc.contains("Info")) {
        val infoNum = xrefAcc.keys.toSeq.sorted.find { n =>
          doc0.getObject(n) match {
            case d: PdfDict => d.contains("Producer") || d.contains("Creator") || d.contains("CreationDate")
            case _ => false
          }
        }
        infoNum.foreach(n => trailerAcc = PdfDict(trailerAcc.entries + ("Info" -> PdfRef(n, 0))))
      }
      None
    }

    // The probe that validated the xref chain as written, if it did.
    var validated: Option[PdfDocument] = None
    if (!ok || !trailerAcc.contains("Root")) {
      runReconstruction() match {
        case Some(err) => return Left(err)
        case None => ()
      }
    } else {
      // xref chain parsed, but verify it actually resolves to a page tree —
      // stale/shifted offsets (incremental saves through byte-mangling
      // proxies are a classic web-PDF failure) otherwise yield silent
      // zero-page docs. PDFium rebuilds in this case; so do we.
      val probe = new PdfDocument(data, xrefAcc.toMap, trailerAcc, None, -1)
      val resolvable =
        probe.resolve(probe.trailer("Root")).isInstanceOf[PdfDict] && probe.pages.nonEmpty
      if (resolvable) validated = Some(probe)
      else runReconstruction() match {
        case Some(err) => return Left(err)
        case None => ()
      }
    }
    if (xrefAcc.isEmpty) return Left(PdfError(ErrCodes.Format, "no xref"))

    // encryption
    val encRef = trailerAcc.get("Encrypt")
    encRef match {
      case Some(er) =>
        val plainDoc = validated.getOrElse(new PdfDocument(data, xrefAcc.toMap, trailerAcc, None, -1))
        val encDict = plainDoc.resolve(er) match { case d: PdfDict => d; case _ => PdfDict.empty }
        val firstId = plainDoc.identifiers._1
        val tryPwds: Seq[String] = if (password.nonEmpty) Seq(password, "") else Seq("")
        val auth = tryPwds.iterator
          .map(p => Crypto.authenticate(encDict, firstId, p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), plainDoc.resolve))
          .collectFirst { case Crypto.AuthOk(d) => d }
        auth match {
          case Some(dec) =>
            val encNum = er match { case PdfRef(n, _) => n; case _ => -1 }
            Right(new PdfDocument(data, xrefAcc.toMap, trailerAcc, Some(dec), encNum))
          case None => Left(PdfError(ErrCodes.Password, "password authentication failed"))
        }
      case None =>
        // the probe was built from these same arguments: return it, so its
        // page-tree walk and object cache are not redone
        Right(validated.getOrElse(new PdfDocument(data, xrefAcc.toMap, trailerAcc, None, -1)))
    }
  }

  /** Walk the xref chain (classic tables and xref streams, /Prev and /XRefStm
    * links). Entries already present (newer) are not overwritten. Returns true
    * if at least one section parsed. */
  private def parseXrefChain(data: Array[Byte], firstOff: Long,
                             acc: mutable.Map[Int, XrefEntry],
                             onTrailer: PdfDict => Unit): Boolean = {
    var any = false
    val pending = mutable.Queue[Long](firstOff)
    val visited = mutable.Set[Long]()
    while (pending.nonEmpty) {
      val off = pending.dequeue()
      if (!visited.contains(off) && off >= 0 && off < data.length) {
        visited += off
        val lx = new Lexer(data, off.toInt)
        lx.skipWs()
        if (lx.tryKeyword("xref")) {
          // classic table
          var sectionDone = false
          while (!sectionDone) {
            lx.skipWs()
            if (lx.tryKeyword("trailer")) {
              lx.parseObject() match {
                case d: PdfDict =>
                  any = true
                  onTrailer(d)
                  d.get("XRefStm").foreach { case PdfNumber(v) => pending.enqueue(v.toLong); case _ => () }
                  d.get("Prev").foreach { case PdfNumber(v) => pending.enqueue(v.toLong); case _ => () }
                case _ => ()
              }
              sectionDone = true
            } else {
              val startTok = lx.readToken()
              val countTok = lx.readToken()
              val start = try startTok.toInt catch { case _: Exception => sectionDone = true; -1 }
              val count = try countTok.toInt catch { case _: Exception => sectionDone = true; -1 }
              if (!sectionDone && start >= 0 && count >= 0) {
                var i = 0
                while (i < count) {
                  lx.skipWs()
                  val offTok = lx.readToken()
                  val genTok = lx.readToken()
                  val kindTok = lx.readToken()
                  // 'f' entries are recorded as kind-0 tombstones: an object
                  // freed in a newer incremental section must shadow an older
                  // section's in-use offset, not resurrect it (§7.5.4).
                  val num = start + i
                  if (!acc.contains(num)) {
                    if (kindTok == "n") {
                      try acc(num) = XrefEntry(offTok.toLong, genTok.toInt, 1, -1, -1)
                      catch { case _: Exception => () }
                    } else if (kindTok == "f" && num != 0) {
                      acc(num) = XrefEntry(-1, 0, 0, -1, -1)
                    }
                  }
                  i += 1
                }
              }
            }
          }
        } else {
          // try xref stream: "num gen obj <<...>> stream"
          lx.pos = off.toInt
          lx.skipWs()
          lx.readToken(); lx.readToken()
          if (lx.tryKeyword("obj")) {
            lx.parseObject() match {
              case PdfStream(dict, raw) if dict.get("Type").contains(PdfName("XRef")) =>
                try {
                  // XRef streams are never encrypted and /Length is direct
                  val decoded = Filters.decode(dict, raw, identity)
                  val wArr = dict("W") match {
                    case PdfArray(items) => items.collect { case PdfNumber(v) => v.toInt }
                    case _ => Vector(1, 2, 1)
                  }
                  val size = dict("Size") match { case PdfNumber(v) => v.toInt; case _ => 0 }
                  val index: Vector[(Int, Int)] = dict("Index") match {
                    case PdfArray(items) =>
                      items.collect { case PdfNumber(v) => v.toInt }.grouped(2).collect { case Vector(a, b) => (a, b) }.toVector
                    case _ => Vector((0, size))
                  }
                  val w = wArr.padTo(3, 0)
                  val entryLen = w.sum
                  var p = 0
                  index.foreach { case (start, count) =>
                    var i = 0
                    while (i < count && p + entryLen <= decoded.length) {
                      def field(k: Int): Long = {
                        var v = 0L
                        var b = 0
                        val base = p + w.take(k).sum
                        while (b < w(k)) { v = (v << 8) | (decoded(base + b) & 0xff); b += 1 }
                        v
                      }
                      val t = if (w(0) == 0) 1L else field(0)
                      val f2 = field(1)
                      val f3 = field(2)
                      val num = start + i
                      if (!acc.contains(num)) {
                        t match {
                          case 1 => acc(num) = XrefEntry(f2, f3.toInt, 1, -1, -1)
                          case 2 => acc(num) = XrefEntry(-1, 0, 2, f2.toInt, f3.toInt)
                          // type-0 = free: tombstone so newer free entries
                          // shadow older in-use offsets (see classic path)
                          case 0 if num != 0 => acc(num) = XrefEntry(-1, 0, 0, -1, -1)
                          case _ => ()
                        }
                      }
                      p += entryLen
                      i += 1
                    }
                  }
                  any = true
                  onTrailer(dict)
                  dict.get("Prev").foreach { case PdfNumber(v) => pending.enqueue(v.toLong); case _ => () }
                } catch { case _: Exception => () }
              case _ => ()
            }
          }
        }
      }
    }
    any
  }

  /** Linear "N G obj" scan fallback for malformed xref (web PDFs). Later
    * definitions win (incremental-update order). */
  private def reconstruct(data: Array[Byte], acc: mutable.Map[Int, XrefEntry]): Unit = {
    acc.clear()
    var i = 0
    val n = data.length
    while (i < n - 3) {
      if (data(i) == 'o' && data(i + 1) == 'b' && data(i + 2) == 'j' &&
        (i + 3 >= n || !isRegularByte(data(i + 3)))) {
        // walk back: ws, gen, ws, num
        var j = i - 1
        while (j >= 0 && isWsByte(data(j))) j -= 1
        val genEnd = j + 1
        while (j >= 0 && isDigit(data(j))) j -= 1
        val genStart = j + 1
        if (genEnd > genStart) {
          while (j >= 0 && isWsByte(data(j))) j -= 1
          val numEnd = j + 1
          while (j >= 0 && isDigit(data(j))) j -= 1
          val numStart = j + 1
          if (numEnd > numStart && (j < 0 || !isRegularByte(data(j)))) {
            try {
              val num = new String(data, numStart, numEnd - numStart, java.nio.charset.StandardCharsets.ISO_8859_1).toInt
              val gen = new String(data, genStart, genEnd - genStart, java.nio.charset.StandardCharsets.ISO_8859_1).toInt
              acc(num) = XrefEntry(numStart.toLong, gen, 1, -1, -1)
            } catch { case _: Exception => () }
          }
        }
      }
      i += 1
    }
    // also surface ObjStm members
    val direct = acc.toMap
    val doc0 = new PdfDocument(data, direct, PdfDict.empty, None, -1)
    direct.keys.foreach { num =>
      doc0.getObject(num) match {
        case PdfStream(d, _) if d.get("Type").contains(PdfName("ObjStm")) =>
          try {
            val decoded = Filters.decode(d, doc0.getObject(num).asInstanceOf[PdfStream].raw, doc0.resolve)
            val cnt = doc0.resolve(d("N")) match { case PdfNumber(v) => v.toInt; case _ => 0 }
            val hdr = new Lexer(decoded)
            var k = 0
            while (k < cnt) {
              val on = hdr.readToken().toInt
              hdr.readToken()
              if (!acc.contains(on)) acc(on) = XrefEntry(-1, 0, 2, num, k)
              k += 1
            }
          } catch { case _: Exception => () }
        case _ => ()
      }
    }
  }

  @inline private def isWsByte(b: Byte): Boolean = {
    val c = b & 0xff
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  }
  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isRegularByte(b: Byte): Boolean = {
    val c = b & 0xff
    !(c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0 ||
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%')
  }
}

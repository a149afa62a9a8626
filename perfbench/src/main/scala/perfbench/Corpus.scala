package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import graft.core.{Filters, SynthPdf}

/** One generated input document with the text the engine must produce for
  * it, by construction: `truth` is the expected `ExtractedDoc.text` (the
  * CLI report: "# Page N" headers, LF line breaks). */
final case class GenDoc(url: String, bytes: Array[Byte], truth: String, feature: String,
                        fontProgram: Int)

/** Seeded generator of web-like PDFs and HTML pages. Every document is a
  * pure function of (seed, index), built from `SynthPdf.build`/`onePage`/
  * `multiPage`, `Filters.deflate` and the host's DejaVu TrueType faces. */
object Corpus {

  val FontDir = "/usr/share/fonts/truetype/dejavu"

  /** PDF features of the mix; each document exercises exactly one.
    * `embedded_ttf` comes last: it is drawn apart from the others. */
  val PdfFeatures: Vector[String] =
    Vector("std14", "flate", "xref_stream", "multi_page", "ruled_table", "type0_tounicode", "embedded_ttf")

  private val Words: Vector[String] = (
    "data table query page text font stream object filter index scan merge join sort group " +
    "crawl web archive record header body title section paragraph line column row cell value " +
    "spark task stage shuffle partition executor driver memory disk network cache block batch " +
    "report result metric count sum mean median window frame field schema type string number " +
    "alpha beta gamma delta omega river mountain forest ocean city market garden library school " +
    "north south east west summer winter morning evening simple quick quiet bright early late").split(' ').toVector

  // Non-ASCII letters shown through the Type0/ToUnicode path.
  private val Accented: Vector[String] = Vector("café", "naïve", "über", "straße", "façade", "señor", "αβγ", "año")

  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(r.nextInt(Words.length))).mkString(" ")

  private def lines(r: SplittableRandom, lo: Int, hi: Int): Vector[String] =
    Vector.fill(lo + r.nextInt(hi - lo + 1))(words(r, 3 + r.nextInt(6)))

  private def report(pages: Seq[Seq[String]]): String =
    pages.zipWithIndex.map { case (ls, i) => s"# Page ${i + 1}\n" + ls.mkString("\n") }
      .mkString("", "\n\n", "\n")

  private def latin1(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  /** zlib at the fastest level: font programs are the bulk of the bytes
    * generated, and any level decodes the same. */
  private def deflateFast(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2)
    val buf = new Array[Byte](16384)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def stream(dict: String, data: Array[Byte]): Array[Byte] =
    latin1(s"<<$dict/Length ${data.length}>>\nstream\n") ++ data ++ latin1("\nendstream")

  private def flateStream(dict: String, data: Array[Byte]): Array[Byte] =
    stream(dict + "/Filter/FlateDecode", Filters.deflate(data))

  /** Text lines at 14 pt leading, one show per line. */
  private def textContent(ls: Seq[String]): String =
    ls.zipWithIndex.map { case (l, i) =>
      val td = if (i == 0) "72 720 Td" else "0 -14 Td"
      s"$td ($l) Tj"
    }.mkString("BT /F1 11 Tf\n", "\n", "\nET")

  private val Std14 = Vector("Helvetica", "Times-Roman", "Courier", "Helvetica-Bold", "Times-Italic")
  private def std14Dict(r: SplittableRandom): String =
    s"<</Type/Font/Subtype/Type1/BaseFont/${Std14(r.nextInt(Std14.length))}/Encoding/WinAnsiEncoding>>"

  private def pageDict(font: String, contents: Int): String =
    s"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Resources<</Font<</F1 $font>>>>/Contents $contents 0 R>>"

  /** Embedded font programs: program `i` is host face `i` (by file name),
    * subset (see [[Ttf.subset]]) and Flate-compressed. */
  final class FontPool {
    private val faces: Vector[java.io.File] = Option(new java.io.File(FontDir).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".ttf")).sortBy(_.getName).toVector
    require(faces.nonEmpty, s"no TrueType faces under $FontDir")
    val size: Int = faces.length
    private val programs = new Array[Array[Byte]](size)
    /** FontFile2 payload of program `i`, built on first use. */
    def program(i: Int): Array[Byte] = {
      if (programs(i) == null)
        programs(i) = deflateFast(Ttf.subset(java.nio.file.Files.readAllBytes(faces(i).toPath)))
      programs(i)
    }
  }

  /** One document of the PDF mix; `fonts` supplies the embedded programs. */
  def pdf(seed: Long, i: Int, fonts: FontPool): GenDoc = {
    val r = new SplittableRandom(seed * 1000003L + i)
    // an arbitrary mix, not a measured one: half of the documents embed a
    // font program, the rest spread evenly over the other features
    val feature = if (r.nextInt(2) == 0) "embedded_ttf" else PdfFeatures(r.nextInt(PdfFeatures.length - 1))
    val url = f"https://host${r.nextInt(500)}%03d.example/doc/$i%07d.pdf"
    def doc(bytes: Array[Byte], pages: Seq[Seq[String]], font: Int = -1) =
      GenDoc(url, bytes, report(pages), feature, font)
    feature match {
      case "std14" =>
        val ls = lines(r, 3, 12)
        doc(SynthPdf.onePage(textContent(ls), std14Dict(r)), Seq(ls))
      case "flate" =>
        val ls = lines(r, 3, 12)
        doc(SynthPdf.build(Vector(
          latin1("<</Type/Catalog/Pages 2 0 R>>"),
          latin1("<</Type/Pages/Kids[3 0 R]/Count 1>>"),
          latin1(pageDict("4 0 R", 5)),
          latin1(std14Dict(r)),
          flateStream("", latin1(textContent(ls))))), Seq(ls))
      case "xref_stream" =>
        val ls = lines(r, 3, 12)
        doc(xrefStreamPdf(textContent(ls), std14Dict(r)), Seq(ls))
      case "multi_page" =>
        val n = 2 + r.nextInt(5)
        val pages = Vector.fill(n)(lines(r, 2, 8))
        val objs = Vector.newBuilder[Array[Byte]]
        objs += latin1("<</Type/Catalog/Pages 2 0 R>>")
        val kids = (0 until n).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
        objs += latin1(s"<</Type/Pages/Kids[$kids]/Count $n>>")
        val fontRef = s"${3 + 2 * n} 0 R"
        pages.zipWithIndex.foreach { case (ls, p) =>
          objs += latin1(pageDict(fontRef, 4 + 2 * p))
          objs += flateStream("", latin1(textContent(ls)))
        }
        objs += latin1(std14Dict(r))
        doc(SynthPdf.build(objs.result()), pages)
      case "ruled_table" =>
        val rows = 2 + r.nextInt(6)
        val cols = 2 + r.nextInt(3)
        val cells = Vector.fill(rows, cols)(Words(r.nextInt(Words.length)))
        val top = 700
        val sb = new StringBuilder("0.7 w\n")
        (0 to rows).foreach(k => sb ++= s"50 ${top - 24 * k} m ${50 + 120 * cols} ${top - 24 * k} l S\n")
        (0 to cols).foreach(k => sb ++= s"${50 + 120 * k} ${top - 24 * rows} m ${50 + 120 * k} $top l S\n")
        sb ++= "BT /F1 10 Tf\n"
        cells.zipWithIndex.foreach { case (row, ri) =>
          row.zipWithIndex.foreach { case (c, ci) =>
            sb ++= s"1 0 0 1 ${58 + 120 * ci} ${top - 24 * ri - 16} Tm ($c) Tj\n"
          }
        }
        sb ++= "ET"
        doc(SynthPdf.onePage(sb.toString, std14Dict(r)), Seq(cells.map(_.mkString(" "))))
      case "type0_tounicode" =>
        val ls = Vector.fill(3 + r.nextInt(6)) {
          (0 until 3 + r.nextInt(5)).map { _ =>
            if (r.nextInt(4) == 0) Accented(r.nextInt(Accented.length)) else Words(r.nextInt(Words.length))
          }.mkString(" ")
        }
        doc(type0Pdf(ls), Seq(ls))
      case "embedded_ttf" =>
        val ls = lines(r, 3, 12)
        val f = r.nextInt(fonts.size)
        doc(ttfPdf(textContent(ls), fonts.program(f), s"DejaVuF$f"), Seq(ls), f)
    }
  }

  /** Catalog, pages, page and font dicts inside one Flate object stream,
    * indexed by a cross-reference stream (PDF 1.5). Object 5 is the
    * content stream, 6 the object stream, 7 the xref stream. */
  private def xrefStreamPdf(content: String, fontDict: String): Array[Byte] = {
    val inner = Vector("<</Type/Catalog/Pages 2 0 R>>", "<</Type/Pages/Kids[3 0 R]/Count 1>>",
      pageDict("4 0 R", 5), fontDict)
    val offs = inner.scanLeft(0)((o, s) => o + s.length + 1)
    val header = inner.indices.map(k => s"${k + 1} ${offs(k)}").mkString(" ") + " "
    val body = header + inner.mkString("\n") + "\n"
    val out = new java.io.ByteArrayOutputStream()
    def wr(b: Array[Byte]): Unit = out.write(b)
    wr(latin1("%PDF-1.5\n%âãÏÓ\n"))
    val off5 = out.size()
    wr(latin1("5 0 obj\n")); wr(flateStream("", latin1(content))); wr(latin1("\nendobj\n"))
    val off6 = out.size()
    wr(latin1("6 0 obj\n"))
    wr(flateStream(s"/Type/ObjStm/N ${inner.length}/First ${header.length}", latin1(body)))
    wr(latin1("\nendobj\n"))
    val off7 = out.size()
    // /W [1 4 2]: type, offset-or-stream, generation-or-index
    val rows = new java.io.ByteArrayOutputStream()
    def row(t: Int, f2: Long, f3: Int): Unit = {
      rows.write(t)
      (3 to 0 by -1).foreach(s => rows.write(((f2 >> (8 * s)) & 0xff).toInt))
      rows.write((f3 >> 8) & 0xff); rows.write(f3 & 0xff)
    }
    row(0, 0, 65535)
    inner.indices.foreach(k => row(2, 6, k))
    row(1, off5, 0); row(1, off6, 0); row(1, off7, 0)
    wr(latin1("7 0 obj\n"))
    wr(flateStream("/Type/XRef/Size 8/W[1 4 2]/Root 1 0 R", rows.toByteArray))
    wr(latin1(s"\nendobj\nstartxref\n$off7\n%%EOF\n"))
    out.toByteArray
  }

  /** Type0 font with Identity-H encoding and a ToUnicode CMap: every
    * distinct character of the page gets CID 0x0101 + rank. */
  private def type0Pdf(ls: Seq[String]): Array[Byte] = {
    val chars = ls.flatMap(_.toSeq).distinct.sorted.toVector
    val cid = chars.zipWithIndex.map { case (c, k) => c -> (0x0101 + k) }.toMap
    def hex4(v: Int) = f"$v%04X"
    val bf = chars.grouped(100).map { g =>
      g.map(c => s"<${hex4(cid(c))}> <${hex4(c.toInt)}>").mkString(s"${g.length} beginbfchar\n", "\n", "\nendbfchar")
    }.mkString("\n")
    val cmap =
      "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n" +
        "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n" +
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" + bf +
        "\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
    val content = ls.zipWithIndex.map { case (l, i) =>
      val td = if (i == 0) "72 720 Td" else "0 -14 Td"
      s"$td <${l.map(c => hex4(cid(c))).mkString}> Tj"
    }.mkString("BT /F1 11 Tf\n", "\n", "\nET")
    SynthPdf.build(Vector(
      latin1("<</Type/Catalog/Pages 2 0 R>>"),
      latin1("<</Type/Pages/Kids[3 0 R]/Count 1>>"),
      latin1(pageDict("4 0 R", 5)),
      latin1("<</Type/Font/Subtype/Type0/BaseFont/GenSans/Encoding/Identity-H" +
        "/DescendantFonts[<</Type/Font/Subtype/CIDFontType2/BaseFont/GenSans" +
        "/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>/DW 560>>]/ToUnicode 6 0 R>>"),
      flateStream("", latin1(content)),
      flateStream("", cmap.getBytes(UTF_8))))
  }

  /** Simple TrueType font with an embedded (FontFile2) program. */
  private def ttfPdf(content: String, program: Array[Byte], name: String): Array[Byte] =
    SynthPdf.build(Vector(
      latin1("<</Type/Catalog/Pages 2 0 R>>"),
      latin1("<</Type/Pages/Kids[3 0 R]/Count 1>>"),
      latin1(pageDict("4 0 R", 5)),
      latin1(s"<</Type/Font/Subtype/TrueType/BaseFont/$name/FirstChar 32/LastChar 126" +
        s"/Widths[${Seq.fill(95)("560").mkString(" ")}]/Encoding/WinAnsiEncoding/FontDescriptor 6 0 R>>"),
      flateStream("", latin1(content)),
      latin1(s"<</Type/FontDescriptor/FontName/$name/Flags 32/FontBBox[-1021 -463 1793 1232]" +
        "/ItalicAngle 0/Ascent 928/Descent -236/CapHeight 729/StemV 80/FontFile2 7 0 R>>"),
      stream(s"/Filter/FlateDecode/Length1 ${program.length}", program)))

  /** Size-skew monster: `SynthPdf.multiPage`, one "Page i of n" line per page. */
  def monster(i: Int, nPages: Int): GenDoc =
    GenDoc(f"https://bulk.example/archive/$i%04d.pdf", SynthPdf.multiPage(nPages),
      report((1 to nPages).map(p => Seq(s"Page $p of $nPages"))), "monster_pdf", -1)

  /** Web page with navigation and footer boilerplate around an article of
    * paragraphs and a list; the main text is the article's blocks. */
  def html(seed: Long, i: Int): GenDoc = {
    val r = new SplittableRandom(seed * 7919L + i)
    val paras = Vector.fill(3 + r.nextInt(8))(words(r, 8 + r.nextInt(30)) + ".")
    val items = Vector.fill(r.nextInt(4))("item " + words(r, 5 + r.nextInt(4)))
    val nav = (0 until 5).map(k => s"""<a href="/s/$k">${Words(r.nextInt(Words.length))}</a>""").mkString(" ")
    val title = Words(r.nextInt(Words.length))
    val body =
      s"""<!DOCTYPE html><html lang="en"><head><meta charset="utf-8"><title>$title</title>""" +
        s"""<script>var n=${r.nextInt(1000)}; if (n < 3) { n = 3; }</script><style>p{margin:0}</style></head><body>""" +
        s"""<header><a href="/">home</a> $nav</header><nav>$nav</nav><main><article><h1>$title</h1>""" +
        paras.map(p => s"<p>$p</p>").mkString +
        (if (items.isEmpty) "" else items.map(t => s"<li>$t</li>").mkString("<ul>", "", "</ul>")) +
        s"""</article></main><footer>copyright notice and contact details for the site operator $nav</footer></body></html>"""
    GenDoc(f"https://site${r.nextInt(300)}%03d.example/article/$i%07d.html", body.getBytes(UTF_8),
      report(Seq(Seq((paras ++ items).mkString("\n")))), "html_article", -1)
  }
}

/** TrueType subsetter, as PDF producers embed fonts: outlines are kept for
  * the printable ASCII glyphs only (every other glyph becomes empty), and
  * the tables text extraction does not read are dropped. */
object Ttf {
  private val Keep = Set("head", "hhea", "maxp", "hmtx", "cmap", "name", "OS/2")

  def subset(ttf: Array[Byte]): Array[Byte] = {
    val in = java.nio.ByteBuffer.wrap(ttf)
    def u16(i: Int) = in.getShort(i) & 0xffff
    val dir = (0 until u16(4)).map(12 + 16 * _).map { rec =>
      new String(ttf, rec, 4, java.nio.charset.StandardCharsets.ISO_8859_1) -> (in.getInt(rec + 8), in.getInt(rec + 12))
    }.toMap
    def table(tag: String) = { val (o, l) = dir(tag); java.util.Arrays.copyOfRange(ttf, o, o + l) }
    val head = table("head")
    val longLoca = java.nio.ByteBuffer.wrap(head).getShort(50) == 1
    val numGlyphs = u16(dir("maxp")._1 + 4)
    val locaOff = dir("loca")._1
    def loca(g: Int) = if (longLoca) in.getInt(locaOff + 4 * g) else 2 * u16(locaOff + 2 * g)
    val keepGids = (32 to 126).map(cmapGid(ttf, dir("cmap")._1, _)).toSet + 0
    val glyfOff = dir("glyf")._1
    val glyf = new java.io.ByteArrayOutputStream()
    val newLoca = java.nio.ByteBuffer.allocate(4 * (numGlyphs + 1))
    (0 until numGlyphs).foreach { g =>
      newLoca.putInt(glyf.size())
      if (keepGids(g)) {
        glyf.write(ttf, glyfOff + loca(g), loca(g + 1) - loca(g))
        while (glyf.size() % 4 != 0) glyf.write(0)
      }
    }
    newLoca.putInt(glyf.size())
    java.nio.ByteBuffer.wrap(head).putShort(50, 1.toShort)
    val tables = (Keep.toSeq.filter(dir.contains).map(t => t -> (if (t == "head") head else table(t))) ++
      Seq("loca" -> newLoca.array(), "glyf" -> glyf.toByteArray)).sortBy(_._1)
    val out = java.nio.ByteBuffer.allocate(12 + 16 * tables.length + tables.map(t => (t._2.length + 3) & ~3).sum)
    out.putInt(0x00010000).putShort(tables.length.toShort).putShort(0).putShort(0).putShort(0)
    var off = 12 + 16 * tables.length
    tables.foreach { case (tag, data) =>
      out.put(tag.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).putInt(0).putInt(off).putInt(data.length)
      off += (data.length + 3) & ~3
    }
    tables.foreach { case (_, data) => out.put(data); out.position((out.position() + 3) & ~3) }
    out.array()
  }

  /** Glyph id of `c` in the font's (3,1) format-4 cmap subtable, 0 if absent. */
  private def cmapGid(ttf: Array[Byte], cmap: Int, c: Int): Int = {
    val in = java.nio.ByteBuffer.wrap(ttf)
    def u16(i: Int) = in.getShort(i) & 0xffff
    val sub = (0 until u16(cmap + 2)).map(cmap + 4 + 8 * _)
      .find(e => u16(e) == 3 && u16(e + 2) == 1).map(e => cmap + in.getInt(e + 4))
      .filter(u16(_) == 4)
    sub.fold(0) { t =>
      val segs = u16(t + 6) / 2
      val ends = t + 14
      val starts = ends + 2 * segs + 2
      val deltas = starts + 2 * segs
      val ranges = deltas + 2 * segs
      (0 until segs).find(s => u16(ends + 2 * s) >= c).filter(s => u16(starts + 2 * s) <= c).fold(0) { s =>
        val ro = u16(ranges + 2 * s)
        if (ro == 0) (c + u16(deltas + 2 * s)) & 0xffff
        else {
          val g = u16(ranges + 2 * s + ro + 2 * (c - u16(starts + 2 * s)))
          if (g == 0) 0 else (g + u16(deltas + 2 * s)) & 0xffff
        }
      }
    }
  }
}

package graft.core

/** Encoding CMap for Type0 (composite) fonts: splits show-string bytes into
  * charcodes along the codespace ranges and maps codes to unicode / CIDs.
  *
  * The reference (via PDFium) ships the full Adobe CMap + Adobe-XXX-UCS2
  * table set. Re-deriving those tables from scratch is unnecessary for the
  * text north star because the observable output is UNICODE, not CIDs:
  *  - `Uni*-UCS2-*` / `Uni*-UTF16-*` CMaps: the charcode IS the UTF-16 code
  *    unit — unicode is the identity map;
  *  - legacy charset CMaps (GBK-EUC, GB-EUC, ETen-B5, RKSJ, EUC, UHC, …):
  *    the charcode is a code point of a standard East-Asian charset that
  *    the JVM ships — unicode is a charset decode of the code bytes.
  * CIDs (needed only for width/glyph lookups) are identity for Identity-H/V
  * and come from embedded CMap streams (cidrange/cidchar); for predefined
  * non-identity CMaps the CID is unresolvable without the Adobe tables and
  * width lookups fall back to /DW — the right default for CJK, where
  * full-width 1000 dominates (PDF 32000-1 §9.7.5).
  */
final class CMapEncoding(
    val name: String,
    codespace: Vector[(Int, Long, Long)], // (nBytes, lo, hi) code-value ranges
    charsetName: Option[String],          // JDK charset decoding code bytes → unicode
    ucs2: Boolean,                        // charcode IS a UTF-16 code unit
    identityCid: Boolean,                 // CID == charcode (Identity-H/V)
    cidSingle: Map[Int, Int],             // embedded cidchar entries
    cidRanges: Vector[(Int, Int, Int)]) { // embedded cidrange (lo, hi, cidLo)

  @transient private lazy val charset: Option[java.nio.charset.Charset] =
    charsetName.flatMap { n =>
      try Some(java.nio.charset.Charset.forName(n)) catch { case _: Exception => None }
    }

  /** Shortest codespace length whose range contains the next bytes; the
    * spec's byte-wise match is approximated by value ranges, which is exact
    * for all shipped codespaces. Unmatched bytes consume one byte. */
  def splitCodes(bytes: Array[Byte]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](bytes.length / 2 + 1)
    var i = 0
    while (i < bytes.length) {
      var matched = false
      var len = 1
      while (!matched && len <= 4 && i + len <= bytes.length) {
        var v = 0L
        var k = 0
        while (k < len) { v = (v << 8) | (bytes(i + k) & 0xff); k += 1 }
        if (codespace.exists { case (n, lo, hi) => n == len && v >= lo && v <= hi }) {
          out += v.toInt
          i += len
          matched = true
        } else len += 1
      }
      if (!matched) { out += (bytes(i) & 0xff); i += 1 }
    }
    out.toArray
  }

  private def codeLen(code: Int): Int =
    codespace.collectFirst { case (n, lo, hi) if code >= lo && code <= hi => n }
      .getOrElse(if (code > 0xff) 2 else 1)

  /** Unicode for a charcode, "" when unmappable. (ToUnicode, when present,
    * takes precedence upstream of this.) */
  def unicode(code: Int): String = {
    if (ucs2) return code.toChar.toString // UTF-16 unit; pairs concatenate naturally
    charset match {
      case Some(cs) =>
        val len = codeLen(code)
        val bs = new Array[Byte](len)
        var k = 0
        while (k < len) { bs(k) = ((code >> (8 * (len - 1 - k))) & 0xff).toByte; k += 1 }
        try {
          val dec = cs.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          dec.decode(java.nio.ByteBuffer.wrap(bs)).toString
        } catch { case _: Exception => "" }
      case None => ""
    }
  }

  /** CID for a charcode; -1 when unresolvable (predefined non-identity). */
  def cid(code: Int): Int = {
    if (identityCid) return code
    cidSingle.get(code) match {
      case Some(c) => c
      case None =>
        cidRanges.collectFirst { case (lo, hi, cidLo) if code >= lo && code <= hi =>
          cidLo + (code - lo)
        }.getOrElse(-1)
    }
  }

  /** True when every codespace range is exactly 2 bytes covering 0..FFFF
    * (lets the hot path keep the branch-free 2-byte split). */
  def isPlainTwoByte: Boolean =
    codespace == Vector((2, 0x0000L, 0xffffL))

  // introspection for embedded CMaps inheriting via usecmap
  private[core] def rawCodespace: Vector[(Int, Long, Long)] = codespace
  private[core] def rawCharsetName: Option[String] = charsetName
  private[core] def isUcs2: Boolean = ucs2
}

object PredefCMaps {

  private val twoByte = Vector((2, 0x0000L, 0xffffL))

  val identityH = new CMapEncoding("Identity-H", twoByte, None, ucs2 = false,
    identityCid = true, Map.empty, Vector.empty)

  private def ucs2CMap(name: String) =
    new CMapEncoding(name, twoByte, None, ucs2 = true, identityCid = false, Map.empty, Vector.empty)

  private def charsetCMap(name: String, cs: String, space: Vector[(Int, Long, Long)]) =
    new CMapEncoding(name, space, Some(cs), ucs2 = false, identityCid = false, Map.empty, Vector.empty)

  // codespaces per the published Adobe CMap definitions (values, not tables)
  private val gbkSpace = Vector((1, 0x00L, 0x80L), (2, 0x8140L, 0xfefeL))
  private val eucCnSpace = Vector((1, 0x00L, 0x80L), (2, 0xa1a1L, 0xfefeL))
  private val gb18030Space =
    Vector((1, 0x00L, 0x80L), (2, 0x8140L, 0xfefeL), (4, 0x81308130L, 0xfe39fe39L))
  private val big5Space = Vector((1, 0x00L, 0x80L), (2, 0x8140L, 0xfefeL))
  private val sjisSpace =
    Vector((1, 0x00L, 0x80L), (1, 0xa0L, 0xdfL), (2, 0x8140L, 0x9ffcL), (2, 0xe040L, 0xfcfcL))
  private val eucJpSpace =
    Vector((1, 0x00L, 0x80L), (2, 0x8ea0L, 0x8edfL), (3, 0x8fa1a1L, 0x8ffefeL), (2, 0xa1a1L, 0xfefeL))
  private val uhcSpace = Vector((1, 0x00L, 0x80L), (2, 0x8141L, 0xfefeL))
  private val eucKrSpace = Vector((1, 0x00L, 0x80L), (2, 0xa1a1L, 0xfefeL))

  /** Resolve a predefined CMap by name (PDF §9.7.5.2 table). Unknown names
    * degrade to UCS2 identity when the name says so, else 2-byte identity. */
  def byName(rawName: String): CMapEncoding = {
    val base = rawName.stripSuffix("-H").stripSuffix("-V")
    base match {
      case "Identity" => identityH
      // Chinese (simplified) — Adobe-GB1
      case "GB-EUC" => charsetCMap(rawName, "GB2312", eucCnSpace)
      case "GBpc-EUC" => charsetCMap(rawName, "GB2312", eucCnSpace)
      case "GBK-EUC" | "GBKp-EUC" => charsetCMap(rawName, "GBK", gbkSpace)
      case "GBK2K" => charsetCMap(rawName, "GB18030", gb18030Space)
      case "UniGB-UCS2" | "UniGB-UTF16" => ucs2CMap(rawName)
      // Chinese (traditional) — Adobe-CNS1
      case "B5pc" | "ETen-B5" | "ETenms-B5" => charsetCMap(rawName, "Big5", big5Space)
      case "HKscs-B5" | "ETHK-B5" => charsetCMap(rawName, "Big5-HKSCS", big5Space)
      case "CNS-EUC" => charsetCMap(rawName, "x-EUC-TW", eucCnSpace)
      case "UniCNS-UCS2" | "UniCNS-UTF16" => ucs2CMap(rawName)
      // Japanese — Adobe-Japan1
      case "90ms-RKSJ" | "90msp-RKSJ" | "Add-RKSJ" | "Ext-RKSJ" =>
        charsetCMap(rawName, "windows-31j", sjisSpace)
      case "83pv-RKSJ" | "90pv-RKSJ" => charsetCMap(rawName, "Shift_JIS", sjisSpace)
      case "EUC" => charsetCMap(rawName, "EUC-JP", eucJpSpace)
      case "UniJIS-UCS2" | "UniJIS-UCS2-HW" | "UniJIS-UTF16" => ucs2CMap(rawName)
      // Korean — Adobe-Korea1 / KR
      case "KSC-EUC" => charsetCMap(rawName, "EUC-KR", eucKrSpace)
      case "KSCms-UHC" | "KSCms-UHC-HW" => charsetCMap(rawName, "x-windows-949", uhcSpace)
      case "KSCpc-EUC" => charsetCMap(rawName, "x-Johab", uhcSpace)
      case "UniKS-UCS2" | "UniKS-UTF16" => ucs2CMap(rawName)
      case _ =>
        if (base.contains("UCS2") || base.contains("UTF16")) ucs2CMap(rawName)
        else identityH
    }
  }
}

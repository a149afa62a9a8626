package graft.core

/** Byte-level tokenizer + object parser for PDF syntax (PDF 32000-1 §7.2-7.3).
  *
  * Re-implements from the spec what PDFium's CPDF_SyntaxParser does behind
  * every pypdfium2 helper call (the reference repo holds no parsing code;
  * see /root/repo/SURVEY.md §0). Operates on a whole-document byte array —
  * at web scale each row's payload is bounded and parsed in-task, so no
  * incremental IO is needed.
  */
final class Lexer(val data: Array[Byte], var pos: Int) {
  def this(data: Array[Byte]) = this(data, 0)

  /** Container-nesting depth of the current parseObject descent. The
    * recursive-descent parser otherwise turns a crafted `[[[[…` payload
    * into a StackOverflowError — an Error, NOT an Exception, so it would
    * sail past every per-document catch and kill the task (and, retried,
    * the 100-TB job). Real PDFs nest a handful of levels; PDFium's own
    * syntax parser enforces a comparable constant (kMaxNestedParsingLevel).
    * Exceeding the bound throws a plain Exception that the document-level
    * error model converts to an (ok=false, FORMAT) row. */
  private var nest = 0
  private val MaxNest = 256

  /** Per-container element cap. A decode-capped 256 MiB stream can still
    * encode ~128M two-byte tokens; parsed into one PdfArray that is
    * multiple GB of boxed objects — an OOM the nesting guard doesn't see.
    * Legitimate ceilings are orders of magnitude lower (the largest real
    * arrays — flat /Kids, Type0 /W — run to the tens of thousands), so
    * 4M elements / 1M dict entries cuts only crafted payloads; exceeding
    * throws the same catchable format error as the nesting guard. */
  private val MaxArrayElems = 4 << 20
  private val MaxDictEntries = 1 << 20

  @inline def atEnd: Boolean = pos >= data.length
  @inline def peek: Int = if (pos < data.length) data(pos) & 0xff else -1
  @inline def peekAt(off: Int): Int =
    if (pos + off < data.length && pos + off >= 0) data(pos + off) & 0xff else -1

  @inline def isWhite(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  @inline def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'
  @inline def isRegular(c: Int): Boolean = c >= 0 && !isWhite(c) && !isDelim(c)

  /** Skip whitespace and comments. */
  def skipWs(): Unit = {
    var done = false
    while (!done && !atEnd) {
      val c = peek
      if (isWhite(c)) pos += 1
      else if (c == '%') { // comment to EOL
        while (!atEnd && peek != '\n' && peek != '\r') pos += 1
      } else done = true
    }
  }

  /** Read a run of regular characters (keyword / number / bare token). */
  def readToken(): String = {
    skipWs()
    val start = pos
    while (!atEnd && isRegular(peek)) pos += 1
    new String(data, start, pos - start, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** True if the bytes at `pos` (after ws) start with `kw` followed by a
    * non-regular char; consumes it if so. */
  def tryKeyword(kw: String): Boolean = {
    skipWs()
    var i = 0
    while (i < kw.length) {
      if (peekAt(i) != kw.charAt(i)) return false
      i += 1
    }
    if (isRegular(peekAt(kw.length))) return false
    pos += kw.length
    true
  }

  def readName(): PdfName = {
    // assumes current char is '/'
    pos += 1
    // fast path: a name without #xx escapes is its latin-1 bytes
    val start = pos
    var end = pos
    while (end < data.length && isRegular(data(end) & 0xff) && data(end) != '#') end += 1
    if (end >= data.length || !isRegular(data(end) & 0xff)) {
      pos = end
      return PdfName(new String(data, start, end - start, java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    val sb = new StringBuilder
    while (!atEnd && isRegular(peek)) {
      val c = peek
      if (c == '#' && isHex(peekAt(1)) && isHex(peekAt(2))) {
        sb.append(((hexVal(peekAt(1)) << 4) | hexVal(peekAt(2))).toChar)
        pos += 3
      } else { sb.append(c.toChar); pos += 1 }
    }
    PdfName(sb.toString)
  }

  @inline private def isHex(c: Int): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def hexVal(c: Int): Int =
    if (c <= '9') c - '0' else if (c <= 'F') c - 'A' + 10 else c - 'a' + 10

  def readLiteralString(): PdfString = {
    // assumes current char is '('
    pos += 1
    val out = new java.io.ByteArrayOutputStream(32)
    var depth = 1
    while (!atEnd && depth > 0) {
      val c = peek; pos += 1
      c match {
        case '(' => depth += 1; out.write(c)
        case ')' => depth -= 1; if (depth > 0) out.write(c)
        case '\\' =>
          val e = peek; pos += 1
          e match {
            case 'n' => out.write('\n')
            case 'r' => out.write('\r')
            case 't' => out.write('\t')
            case 'b' => out.write('\b')
            case 'f' => out.write('\f')
            case '(' => out.write('(')
            case ')' => out.write(')')
            case '\\' => out.write('\\')
            case '\r' => if (peek == '\n') pos += 1 // line continuation
            case '\n' => // line continuation
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'
              var n = 1
              while (n < 3 && peek >= '0' && peek <= '7') { v = (v << 3) | (peek - '0'); pos += 1; n += 1 }
              out.write(v & 0xff)
            case -1 => ()
            case other => out.write(other) // unknown escape: drop backslash
          }
        case _ => out.write(c)
      }
    }
    PdfString(out.toByteArray)
  }

  def readHexString(): PdfString = {
    // assumes current char is '<' (and next is not '<')
    pos += 1
    val out = new java.io.ByteArrayOutputStream(32)
    var hi = -1
    var done = false
    while (!atEnd && !done) {
      val c = peek; pos += 1
      if (c == '>') done = true
      else if (isHex(c)) {
        if (hi < 0) hi = hexVal(c)
        else { out.write((hi << 4) | hexVal(c)); hi = -1 }
      } // whitespace & junk ignored
    }
    if (hi >= 0) out.write(hi << 4) // odd count: pad with 0
    PdfString(out.toByteArray)
  }

  /** Parse one object at the current position. `resolveLen` resolves indirect
    * /Length values when reading streams (null → streams scan for endstream). */
  def parseObject(resolveLen: PdfObject => Option[Long] = _ => None): PdfObject = {
    skipWs()
    if (atEnd) return PdfNull
    peek match {
      case '/' => readName()
      case '(' => readLiteralString()
      case '[' =>
        pos += 1
        nest += 1
        if (nest > MaxNest)
          throw new IllegalStateException(s"container nesting > $MaxNest")
        val items = Vector.newBuilder[PdfObject]
        var nItems = 0
        skipWs()
        while (!atEnd && peek != ']') {
          items += parseObject(resolveLen)
          nItems += 1
          if (nItems > MaxArrayElems)
            throw new IllegalStateException(s"array > $MaxArrayElems elements")
          skipWs()
        }
        if (peek == ']') pos += 1
        nest -= 1
        PdfArray(items.result())
      case '<' =>
        if (peekAt(1) == '<') {
          nest += 1
          if (nest > MaxNest)
            throw new IllegalStateException(s"container nesting > $MaxNest")
          val r = parseDictOrStream(resolveLen)
          nest -= 1
          r
        } else readHexString()
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        parseNumberOrRef()
      case _ =>
        val t = readToken()
        t match {
          case "true" => PdfBool(true)
          case "false" => PdfBool(false)
          case "null" => PdfNull
          case "" => pos += 1; PdfNull // unexpected delimiter: skip it
          case _ => PdfNull // unknown keyword treated as null (lenient for web PDFs)
        }
    }
  }

  private def parseNumberOrRef(): PdfObject = {
    val save = pos
    val n1 = readNumberToken()
    if (n1.isWhole && n1.value >= 0) {
      // lookahead for "gen R"
      val save2 = pos
      skipWs()
      if (peek >= '0' && peek <= '9') {
        val genStart = pos
        while (peek >= '0' && peek <= '9') pos += 1
        val gen = new String(data, genStart, pos - genStart, java.nio.charset.StandardCharsets.ISO_8859_1)
        skipWs()
        if (peek == 'R' && !isRegular(peekAt(1))) {
          pos += 1
          return PdfRef(n1.value.toInt, gen.toInt)
        }
      }
      pos = save2
    }
    pos = save + (pos - save) // keep position after first number
    n1.toPdf
  }

  private case class NumTok(value: Double, isWhole: Boolean) {
    def toPdf: PdfNumber = PdfNumber(value)
  }

  private def readNumberToken(): NumTok = {
    skipWs()
    val start = pos
    var whole = true
    val neg = peek == '-'
    if (peek == '+' || peek == '-') pos += 1
    // fast path: a sign and 1-15 digits is exact in a Long and in a Double
    val digitsStart = pos
    var n = 0L
    while (!atEnd && peek >= '0' && peek <= '9') { n = n * 10 + (peek - '0'); pos += 1 }
    val nDigits = pos - digitsStart
    if (nDigits > 0 && nDigits <= 15 && (atEnd || peek != '.'))
      return NumTok(if (neg) -n.toDouble else n.toDouble, whole)
    while (!atEnd && ((peek >= '0' && peek <= '9') || peek == '.')) {
      if (peek == '.') whole = false
      pos += 1
    }
    val s = new String(data, start, pos - start, java.nio.charset.StandardCharsets.ISO_8859_1)
    val v =
      try s.toDouble
      catch { case _: NumberFormatException => 0.0 }
    NumTok(v, whole)
  }

  private def parseDictOrStream(resolveLen: PdfObject => Option[Long]): PdfObject = {
    pos += 2 // <<
    val entries = Map.newBuilder[String, PdfObject]
    var nEntries = 0
    skipWs()
    var done = false
    while (!atEnd && !done) {
      skipWs()
      if (peek == '>' && peekAt(1) == '>') { pos += 2; done = true }
      else if (peek == '/') {
        val key = readName().name
        val value = parseObject(resolveLen)
        entries += key -> value
        nEntries += 1
        if (nEntries > MaxDictEntries)
          throw new IllegalStateException(s"dict > $MaxDictEntries entries")
      } else {
        pos += 1 // junk inside dict: skip byte (lenient)
      }
    }
    val dict = PdfDict(entries.result())
    // stream?
    val save = pos
    skipWs()
    if (tryKeywordStream()) {
      // after 'stream': CRLF or LF
      if (peek == '\r') pos += 1
      if (peek == '\n') pos += 1
      val start = pos
      val lenOpt = dict.get("Length").flatMap {
        case PdfNumber(v) => Some(v.toLong)
        case r: PdfRef => resolveLen(r)
        case _ => None
      }
      val end = lenOpt match {
        case Some(len) if start + len <= data.length =>
          val e = (start + len).toInt
          // validate: expect 'endstream' nearby; if not, fall back to scan
          if (findKeywordNear(e, "endstream", 40) >= 0) e else scanEndstream(start)
        case _ => scanEndstream(start)
      }
      val raw = java.util.Arrays.copyOfRange(data, start, end)
      pos = end
      // consume endstream keyword
      skipWs()
      tryKeyword("endstream")
      PdfStream(dict, raw)
    } else { pos = save; dict }
  }

  private def tryKeywordStream(): Boolean = {
    skipWs()
    if (peek == 's' && peekAt(1) == 't' && peekAt(2) == 'r' && peekAt(3) == 'e' &&
      peekAt(4) == 'a' && peekAt(5) == 'm') { pos += 6; true }
    else false
  }

  private def findKeywordNear(at: Int, kw: String, window: Int): Int = {
    var i = at
    val limit = math.min(data.length - kw.length, at + window)
    while (i <= limit) {
      var j = 0
      while (j < kw.length && data(i + j) == kw.charAt(j)) j += 1
      if (j == kw.length) return i
      i += 1
    }
    -1
  }

  /** Find `endstream` scanning forward; returns exclusive end of stream data. */
  private def scanEndstream(start: Int): Int = {
    var i = start
    val kw = "endstream"
    while (i <= data.length - kw.length) {
      if (data(i) == 'e' && findKeywordNear(i, kw, 0) == i) {
        // trim one preceding EOL
        var e = i
        if (e > start && data(e - 1) == '\n') e -= 1
        if (e > start && data(e - 1) == '\r') e -= 1
        return e
      }
      i += 1
    }
    data.length
  }
}

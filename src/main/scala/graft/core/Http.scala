package graft.core

import java.nio.charset.StandardCharsets.ISO_8859_1

/** HTTP/1.x response parsing — the layer between WARC ingest and HTML
  * extraction. Common-Crawl `response` records carry the raw HTTP bytes:
  * status line, header block, then a body that may be chunked
  * (Transfer-Encoding) and/or compressed (Content-Encoding). A pipeline
  * that hands WARC bodies straight to the HTML parser silently drops every
  * gzip-encoded page; this decodes to the real payload.
  *
  * Never throws: malformed input, bad chunk framing, truncated or
  * oversized compressed streams all degrade to ok=false rows with the
  * parse error named. Decompression is budgeted (maxPayload) so a
  * crafted 10^6:1 bomb costs one bounded buffer, not the executor.
  */
object Http {

  final case class Response(
      ok: Boolean,
      err: String,
      status: Int,
      mime: String,
      charset: String,
      encoding: String, // content-encoding actually applied: gzip|deflate|identity
      chunked: Boolean,
      location: String,
      payload: Array[Byte])

  /** Raw response headers in order (lowercased names, OWS-trimmed values),
    * without decoding the body — the header-audit surface (dates, caching,
    * X-Robots-Tag). Stops at the blank line; malformed lines are skipped. */
  def headers(b: Array[Byte]): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    val n = b.length
    // skip the status line
    var i = 0
    while (i < n && b(i) != '\n') i += 1
    i += 1
    while (i < n) {
      var j = i
      while (j < n && b(j) != '\n') j += 1
      val line = new String(b, i, math.max(0, j - i),
        java.nio.charset.StandardCharsets.ISO_8859_1).stripSuffix("\r")
      if (line.isEmpty) return out.result()
      val colon = line.indexOf(':')
      if (colon > 0)
        out += ((line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT),
          line.substring(colon + 1).trim))
      i = j + 1
    }
    out.result()
  }

  private def fail(err: String) =
    Response(ok = false, err, 0, "", "", "", chunked = false, "", Array.emptyByteArray)

  /** Parse one HTTP response byte blob. */
  def parseResponse(b: Array[Byte], maxPayload: Int = 64 << 20): Response = {
    if (b == null || b.length < 12) return fail("short")
    // header block ends at CRLFCRLF (tolerate bare LFLF from sloppy servers)
    var he = -1; var bodyAt = -1
    var i = 0
    while (he < 0 && i + 1 < b.length) {
      if (b(i) == '\n') {
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') { he = i; bodyAt = i + 3 }
        else if (b(i + 1) == '\n') { he = i; bodyAt = i + 2 }
      }
      i += 1
    }
    if (he < 0) return fail("no header terminator")
    val head = new String(b, 0, he, ISO_8859_1)
    val lines = head.split("\r?\n")
    if (lines.isEmpty || !lines(0).startsWith("HTTP/")) return fail("bad status line")
    val st = lines(0).split(" ", 3)
    if (st.length < 2) return fail("bad status line")
    val status = try st(1).trim.toInt catch { case _: NumberFormatException => return fail("bad status code") }
    val headers = lines.drop(1).flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None
      else Some(line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT) ->
        line.substring(c + 1).trim)
    }.toMap // last occurrence wins, matching common client behavior
    val ct = headers.getOrElse("content-type", "")
    val mime = ct.split(";")(0).trim.toLowerCase(java.util.Locale.ROOT)
    val charset = "charset=([^;\\s]+)".r.findFirstMatchIn(ct.toLowerCase(java.util.Locale.ROOT))
      .map(_.group(1).stripPrefix("\"").stripSuffix("\"")).getOrElse("")
    val chunked = headers.get("transfer-encoding").exists(_.toLowerCase.contains("chunked"))
    val location = headers.getOrElse("location", "")

    var body = java.util.Arrays.copyOfRange(b, bodyAt, b.length)
    if (chunked) dechunk(body, maxPayload) match {
      case Right(d) => body = d
      case Left(e)  => return fail(e)
    }
    else headers.get("content-length").foreach { cl =>
      // honor Content-Length framing when present (WARC bodies may carry
      // trailing CRLF padding); ignore unparseable values
      try { val n = cl.trim.toInt; if (n >= 0 && n <= body.length) body = body.take(n) }
      catch { case _: NumberFormatException => }
    }
    val declaredEnc = headers.getOrElse("content-encoding", "identity")
      .toLowerCase(java.util.Locale.ROOT).trim
    val (enc, decoded) = declaredEnc match {
      case "gzip" | "x-gzip" => gunzip(body, maxPayload) match {
        case Right(d) => ("gzip", d)
        case Left(e)  => return fail(e)
      }
      case "deflate" => inflate(body, maxPayload) match {
        case Right(d) => ("deflate", d)
        case Left(e)  => return fail(e)
      }
      case "" | "identity" => ("identity", body)
      case other => return fail(s"unsupported content-encoding: $other")
    }
    if (decoded.length > maxPayload) return fail("payload budget exceeded")
    Response(ok = true, "", status, mime, charset, enc, chunked, location, decoded)
  }

  /** RFC 9112 §7.1 chunked transfer decoding. Chunk-ext after ';' ignored,
    * trailers after the 0-chunk ignored. */
  private def dechunk(b: Array[Byte], cap: Int): Either[String, Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 16))
    var pos = 0
    while (true) {
      // read the size line
      var eol = pos
      while (eol < b.length && b(eol) != '\n') eol += 1
      if (eol >= b.length) return Left("chunk: truncated size line")
      val lineEnd = if (eol > pos && b(eol - 1) == '\r') eol - 1 else eol
      var sizeStr = new String(b, pos, lineEnd - pos, ISO_8859_1)
      val semi = sizeStr.indexOf(';')
      if (semi >= 0) sizeStr = sizeStr.substring(0, semi)
      val size = try java.lang.Long.parseLong(sizeStr.trim, 16) catch {
        case _: NumberFormatException => return Left("chunk: bad size")
      }
      if (size < 0 || size > cap - out.size()) return Left("chunk: budget exceeded")
      pos = eol + 1
      if (size == 0) return Right(out.toByteArray) // trailers ignored
      if (pos + size > b.length) return Left("chunk: truncated data")
      out.write(b, pos, size.toInt)
      pos += size.toInt
      // consume the CRLF after the chunk data
      if (pos < b.length && b(pos) == '\r') pos += 1
      if (pos < b.length && b(pos) == '\n') pos += 1
    }
    Right(out.toByteArray) // unreachable
  }

  /** A file body that may be gzipped (sniffed by its magic bytes, the way
    * `sitemap.xml.gz` and feed files arrive), within `cap` bytes: the
    * inflated or plain bytes, or None when the body is corrupt or larger
    * than `cap`, compressed or plain. */
  def sniffedBody(b: Array[Byte], cap: Int): Option[Array[Byte]] =
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) gunzip(b, cap).toOption
    else if (b.length > cap) None
    else Some(b)

  private def gunzip(b: Array[Byte], cap: Int): Either[String, Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      readCapped(in, cap, "gzip")
    } catch { case _: java.io.IOException => Left("gzip: truncated or corrupt") }

  /** `deflate` in the wild is zlib-wrapped (RFC 1950) but some servers send
    * raw DEFLATE; try zlib first, fall back to raw. */
  private def inflate(b: Array[Byte], cap: Int): Either[String, Array[Byte]] = {
    def run(raw: Boolean): Either[String, Array[Byte]] =
      try {
        val in = new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(b), new java.util.zip.Inflater(raw))
        readCapped(in, cap, "deflate")
      } catch { case _: java.io.IOException => Left("deflate: truncated or corrupt") }
    run(raw = false).orElse(run(raw = true))
  }

  private def readCapped(in: java.io.InputStream, cap: Int, what: String): Either[String, Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > cap) return Left(s"$what: budget exceeded")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    Right(out.toByteArray)
  }
}

package graft.spark

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WARC/1.0 container ingest — the Common-Crawl wire format (ISO 28500).
  * Real CC segments arrive as concatenated gzip members, one record per
  * member; uncompressed WARC concatenations also occur (wget, local
  * crawlers). Both forms parse here from a binary column.
  *
  * Scale shape: `records` is a narrow flatMap over the blob rows — each
  * container is split where the scan produced it, nothing shuffles, and
  * per-record work is bounded by Content-Length framing (no scanning for
  * delimiters inside bodies). At 100 TB the blob column IS the crawl
  * segment payload and this is the entry point of the whole pipeline. */
object Warc {

  case class WarcRecord(
      recType: String,
      targetUri: String,
      warcDate: String,
      contentType: String,
      body: Array[Byte])

  case class WarcRow(
      blob_id: Long,
      rec_idx: Int,
      rec_type: String,
      url: String,
      warc_date: String,
      content_type: String,
      n_bytes: Long,
      body_md5: String)

  private val Magic = "WARC/".getBytes(ISO_8859_1)

  private def isGzip(b: Array[Byte], off: Int): Boolean =
    off + 1 < b.length && (b(off) & 0xff) == 0x1f && (b(off + 1) & 0xff) == 0x8b

  /** Parse one plain (non-gzip) WARC record starting at `off`. Returns
    * (record, nextOffset) or None if no record starts there. Framing is
    * Content-Length + CRLFCRLF terminator per ISO 28500 §4. */
  private def parseOne(b: Array[Byte], off0: Int): Option[(WarcRecord, Int)] = {
    var off = off0
    // tolerate inter-record CRLF padding
    while (off < b.length && (b(off) == '\r' || b(off) == '\n')) off += 1
    if (off + Magic.length > b.length) return None
    var i = 0
    while (i < Magic.length) { if (b(off + i) != Magic(i)) return None; i += 1 }
    // header block ends at the first CRLFCRLF
    var he = off
    while (he + 3 < b.length &&
      !(b(he) == '\r' && b(he + 1) == '\n' && b(he + 2) == '\r' && b(he + 3) == '\n')) he += 1
    if (he + 3 >= b.length) return None
    val headers = new String(b, off, he - off, ISO_8859_1).split("\r\n").drop(1)
      .flatMap { line =>
        val c = line.indexOf(':')
        if (c <= 0) None else Some(line.take(c).trim.toLowerCase -> line.drop(c + 1).trim)
      }.toMap
    val len = headers.get("content-length").flatMap(_.toLongOption).getOrElse(return None)
    val bodyStart = he + 4
    val bodyEnd = bodyStart + len.toInt
    if (len < 0 || bodyEnd > b.length) return None
    val rec = WarcRecord(
      headers.getOrElse("warc-type", ""),
      headers.getOrElse("warc-target-uri", ""),
      headers.getOrElse("warc-date", ""),
      headers.getOrElse("content-type", ""),
      java.util.Arrays.copyOfRange(b, bodyStart, bodyEnd))
    Some((rec, bodyEnd))
  }

  /** Parse a full container: concatenated gzip members (one record each,
    * the Common-Crawl form) or concatenated plain records. Returns all
    * well-formed records; trailing garbage/truncation yields the records
    * parsed so far (crawl tails are routinely cut). */
  def parseAll(blob: Array[Byte]): Vector[WarcRecord] = {
    if (blob == null || blob.length == 0) return Vector.empty
    if (isGzip(blob, 0)) {
      // member-by-member inflate with exact input accounting (Inflater
      // exposes bytes-read; GZIPInputStream hides member boundaries)
      val recs = Vector.newBuilder[WarcRecord]
      var off = 0
      while (off < blob.length && isGzip(blob, off)) {
        inflateMember(blob, off) match {
          case Some((plain, next)) =>
            parseOne(plain, 0).foreach { case (r, _) => recs += r }
            off = next
          case None => off = blob.length // malformed member: stop
        }
      }
      recs.result()
    } else {
      val recs = Vector.newBuilder[WarcRecord]
      var off = 0
      var continue = true
      while (continue) parseOne(blob, off) match {
        case Some((r, next)) => recs += r; off = next
        case None => continue = false
      }
      recs.result()
    }
  }

  /** Inflate exactly one gzip member starting at `off`; returns the
    * plain bytes and the offset of the next member. Header parse per
    * RFC 1952 (FLG bits), raw-deflate via Inflater(nowrap), then 8
    * trailer bytes (CRC32 + ISIZE). */
  private def inflateMember(b: Array[Byte], off0: Int): Option[(Array[Byte], Int)] = {
    var off = off0
    if (!isGzip(b, off) || off + 10 > b.length) return None
    val flg = b(off + 3) & 0xff
    off += 10
    if ((flg & 4) != 0) { // FEXTRA
      if (off + 2 > b.length) return None
      val xlen = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      off += 2 + xlen
    }
    if ((flg & 8) != 0) { while (off < b.length && b(off) != 0) off += 1; off += 1 } // FNAME
    if ((flg & 16) != 0) { while (off < b.length && b(off) != 0) off += 1; off += 1 } // FCOMMENT
    if ((flg & 2) != 0) off += 2 // FHCRC
    if (off >= b.length) return None
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(b, off, b.length - off)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) return None // truncated
        out.write(buf, 0, n)
        if (out.size > (1 << 26)) return None // 64 MiB guard per member
      }
      val next = off + (b.length - off - inf.getRemaining) + 8 // skip CRC32+ISIZE
      Some((out.toByteArray, next))
    } catch { case _: Exception => None } finally inf.end()
  }

  /** Explode a (blob_id, warc binary) dataframe into per-record rows —
    * narrow flatMap, zero shuffle, md5/byte-count computed in place so
    * bodies need not survive past the split. */
  def records(blobs: DataFrame, idCol: String = "blob_id",
              payloadCol: String = "warc"): Dataset[WarcRow] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        parseAll(payload).zipWithIndex.map { case (r, i) =>
          WarcRow(id, i, r.recType, r.targetUri, r.warcDate, r.contentType,
            r.body.length.toLong, md5Hex(r.body))
        }
      }
  }

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  // ---- deterministic fixture synthesis (tests + oracles) ----------------

  /** One WARC/1.0 response record wrapping `body`. */
  def buildRecord(url: String, date: String, body: Array[Byte]): Array[Byte] = {
    val h = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      s"WARC-Target-URI: $url\r\n" +
      s"WARC-Date: $date\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1)
    h ++ body ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  def gzipMember(plain: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos) { `def`.setLevel(Deflater.BEST_SPEED) }
    gz.write(plain); gz.close()
    bos.toByteArray
  }

  /** WET export — the conversion-record derivative Common Crawl publishes
    * next to every WARC (*.warc.wet.gz): the extracted plain text of each
    * page wrapped in a minimal WARC/1.0 `conversion` record. This is the
    * EXPORT side of the ingest above: a pipeline that reads WARCs and
    * writes WETs round-trips the format both ways. Record construction is
    * pure codegen'd string built-ins (byte-exact framing: Content-Length
    * counts UTF-8 OCTETS, not chars), one narrow projection, zero
    * shuffle; a shard writer concatenates `rec` values per partition.
    * Output pins the full record bytes by md5 — a one-byte framing error
    * cannot pass. */
  final case class WetShard(shard: Long, n_records: Long, n_bytes: Long, shard_md5: String)

  /** WET shard assembly — the EXPORT job itself, not just per-record
    * framing: records route to `nShards` deterministic shards
    * (doc_id mod n), each shard concatenates its records in doc_id order
    * and reports (count, bytes, md5-of-the-concatenation). The md5 is
    * computed INCREMENTALLY (MessageDigest.update per record) inside one
    * mapGroups pass, so shard assembly never materializes the multi-GB
    * shard string — the memory shape that survives 100-TB exports, where
    * each group streams straight to its *.warc.wet.gz sink. One shuffle
    * (the groupByKey on shard id); sorting is per-shard, never global. */
  def wetShards(docs: DataFrame, nShards: Int = 8): Dataset[WetShard] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 % nShards)
      // the doc_id ordering rides the SHUFFLE's sorter (spill-able), so
      // the task streams the group iterator straight into the digest —
      // neither the shard's rows nor its concatenation ever sit in heap
      .flatMapSortedGroups(col("doc_id")) { (shard, it) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        var bytes = 0L
        var n = 0L
        it.foreach { case (docId, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rec = ("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: " +
            s"https://example.com/doc/$docId\r\nContent-Length: ${tb.length}\r\n\r\n")
            .getBytes(ISO_8859_1) ++ tb ++ "\r\n\r\n".getBytes(ISO_8859_1)
          md.update(rec)
          bytes += rec.length
          n += 1
        }
        Iterator.single(WetShard(shard, n, bytes,
          md.digest().map(x => f"$x%02x").mkString))
      }
  }

  final case class WatRow(url: String, title: String, n_links: Long,
                          json_len: Long, rec_len: Long, rec_md5: String)

  /** WAT export — the metadata-sidecar derivative Common Crawl publishes
    * next to every WARC (*.warc.wat.gz): per page, a WARC `metadata`
    * record whose JSON payload carries the target URI, the head title,
    * and the RESOLVED outlink list in document order (the fields link
    * researchers actually consume). Completes the CC derivative family
    * here: WARC ingest ⇄ WET (text) ⇄ WAT (metadata) ⇄ CDX (index).
    *
    * One narrow typed map — parse, resolve, serialize, digest per row,
    * nothing but ~100-byte stat rows leave the task (a shard writer
    * concatenates `rec` per partition instead). JSON is hand-framed with
    * fixed key order and explicit string escaping so the record is
    * byte-deterministic — `to_json` key order or whitespace drift would
    * break the md5 pin the oracle replays. */
  def watExport(pages: Dataset[graft.spark.PageRow]): Dataset[WatRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map { p =>
      // full JSON string escaping: backslash, quote, AND control chars —
      // link hrefs may legally carry raw tabs/newlines from attribute
      // values, and an unescaped one makes the whole record unparseable
      def esc(s: String): String = s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < 0x20 => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val (title, links) =
        if (p.html == null) ("", Vector.empty[String])
        else {
          val docStr = graft.core.html.HtmlExtract.decodeBytes(p.html)
          (graft.core.html.HtmlExtract.parseString(docStr).title,
           graft.core.html.HtmlLinks.extractLinks(docStr, p.url).map(_.dst))
        }
      val json = "{\"Envelope\":{\"WARC-Header-Metadata\":{\"WARC-Target-URI\":\"" +
        esc(p.url) + "\"},\"Payload-Metadata\":{\"HTML-Metadata\":{\"Head\":{\"Title\":\"" +
        esc(title) + "\"},\"Links\":[" +
        links.map(l => "{\"url\":\"" + esc(l) + "\"}").mkString(",") + "]}}}}"
      val jsonBytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val rec = ("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: " + p.url +
        "\r\nContent-Type: application/json\r\nContent-Length: " +
        jsonBytes.length + "\r\n\r\n").getBytes(ISO_8859_1) ++
        jsonBytes ++ "\r\n\r\n".getBytes(ISO_8859_1)
      WatRow(p.url, title, links.length.toLong, jsonBytes.length.toLong,
        rec.length.toLong, md5Hex(rec))
    }
  }

  def wetExport(docs: DataFrame): DataFrame = {
    val url = concat(lit("https://example.com/doc/"), col("doc_id").cast("string"))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "), url,
      lit("\r\nContent-Length: "), octet_length(col("text")).cast("string"),
      lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
    docs.select(
      url.as("url"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      octet_length(rec).cast("long").as("rec_len"),
      md5(rec).as("rec_md5"))
  }
}

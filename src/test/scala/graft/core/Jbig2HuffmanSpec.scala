package graft.core

import org.scalatest.funsuite.AnyFunSuite
import Jbig2Huffman.{BitReader, BitWriter, assignCanonical, standard, standardTables}

/** JBIG2 Huffman coding (T.88 Annex B + §6.5.9/§6.4.5 Huffman variants).
  *
  * The standard-table transcription is validated WITHOUT external vectors
  * by two structural invariants the spec's tables satisfy by construction:
  * range contiguity pins (RANGELEN, RANGELOW) jointly, and the canonical
  * assignment's Kraft sum pins PREFLEN (== 1 for every table except B.10,
  * which the spec leaves incomplete). A transcription typo in any field
  * breaks one of the two. */
class Jbig2HuffmanSpec extends AnyFunSuite {

  test("standard tables B.1-B.15: ranges tile the value space contiguously") {
    standardTables.zipWithIndex.foreach { case (t, i) =>
      val normal = t.lines.filter(l => l.kind == 0 && l.rangeLen < 32).sortBy(_.rangeLow)
      normal.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.rangeLow.toLong + (1L << a.rangeLen) == b.rangeLow.toLong,
            s"B.${i + 1}: gap/overlap after rangeLow=${a.rangeLow}")
        case _ => ()
      }
      // the upper extension line starts exactly where the normal ranges end
      t.lines.find(l => l.kind == 0 && l.rangeLen == 32).foreach { up =>
        assert(normal.last.rangeLow.toLong + (1L << normal.last.rangeLen) == up.rangeLow.toLong,
          s"B.${i + 1}: upper line misaligned")
      }
      // the lower extension line starts one below the lowest normal value
      t.lines.find(_.kind == 1).foreach { lo =>
        assert(lo.rangeLow.toLong == normal.head.rangeLow.toLong - 1,
          s"B.${i + 1}: lower line misaligned")
      }
    }
  }

  test("standard tables: canonical code is prefix-free; Kraft = 1 except B.10") {
    standardTables.zipWithIndex.foreach { case (t, i) =>
      val lens = t.lines.map(_.prefLen).filter(_ > 0)
      val kraft = lens.map(l => math.pow(2, -l)).sum
      assert(kraft <= 1.0 + 1e-12, s"B.${i + 1}: Kraft ${kraft} > 1 (not a prefix code)")
      if (i + 1 != 10)
        assert(math.abs(kraft - 1.0) < 1e-12, s"B.${i + 1}: Kraft ${kraft} != 1")
      // canonical assignment must not collide (assignCanonical throws on
      // overflow; distinctness of (len, code) keys is the prefix-free core)
      val m = assignCanonical(t.lines.map(_.prefLen))
      assert(m.size == lens.size, s"B.${i + 1}: duplicate codes")
    }
  }

  test("every standard table round-trips representative values through encode/decode") {
    standardTables.zipWithIndex.foreach { case (t, ti) =>
      val normal = t.lines.filter(l => l.kind == 0 && l.rangeLen < 32)
      val samples = normal.flatMap { l =>
        val top = l.rangeLow.toLong + (1L << l.rangeLen) - 1
        Seq(l.rangeLow.toLong, top).distinct.map(_.toInt)
      } ++
        t.lines.find(l => l.kind == 0 && l.rangeLen == 32).map(u => u.rangeLow + 1000).toSeq ++
        t.lines.find(_.kind == 1).filter(_.prefLen > 0).map(lo => lo.rangeLow - 1000).toSeq
      val w = new BitWriter
      samples.foreach(v => t.encode(w, v))
      val hasOob = t.lines.exists(l => l.kind == 2 && l.prefLen > 0)
      if (hasOob) t.encodeOob(w)
      val bytes = w.toBytes
      val r = new BitReader(bytes, 0, bytes.length)
      samples.foreach(v => assert(t.decode(r) == v, s"B.${ti + 1}: value $v"))
      if (hasOob) assert(t.decode(r) == Jbig2.OOB, s"B.${ti + 1}: OOB")
    }
  }

  test("custom table segment (type 53) parses to a table equivalent to B.4") {
    val body = Jbig2Huffman.encodeTableSegment(1, 76,
      Seq((1, 0), (2, 0), (3, 0), (4, 3), (5, 6)), lowerPref = 0, upperPref = 5, oobPref = 0)
    val t = Jbig2Huffman.parseTableSegment(body)
    val b4 = standard(4)
    // identical decode behavior over the whole realistic value range
    (1 to 200).foreach { v =>
      val w1 = new BitWriter; b4.encode(w1, v)
      val bs = w1.toBytes
      assert(t.decode(new BitReader(bs, 0, bs.length)) == v, s"value $v")
    }
  }

  private def glyphs(): (Vector[Jbig2.Sym], Seq[(Int, Int, Int)], Int, Int) = {
    val w = 12; val h = 10
    val box = new Array[Byte](w * h)
    for (x <- 0 until w) { box(x) = 1; box((h - 1) * w + x) = 1 }
    for (y <- 0 until h) { box(y * w) = 1; box(y * w + w - 1) = 1 }
    val cross = new Array[Byte](w * h)
    for (x <- 0 until w) cross((h / 2) * w + x) = 1
    for (y <- 0 until h) cross(y * w + w / 2) = 1
    val narrow = new Array[Byte](5 * h)
    for (y <- 0 until h) narrow(y * 5 + 2) = 1
    val syms = Vector((w, h, box), (w, h, cross), (5, h, narrow))
    val placements = Seq((0, 4, 3), (1, 30, 3), (2, 45, 3), (0, 10, 25), (2, 26, 25))
    (syms, placements, 64, 48)
  }

  test("Huffman symbol dict + text region decode the SAME page as the arithmetic coding") {
    val (syms, placements, pw, ph) = glyphs()
    val arith = Jbig2.decode(Jbig2.encodeEmbeddedText(syms, placements, pw, ph), None, pw, ph)
    val huff = Jbig2.decode(Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph), None, pw, ph)
    assert(java.util.Arrays.equals(arith, huff))
    assert(huff.exists(_ == 1), "page must have ink")
  }

  test("Huffman path with a CUSTOM DH table (type-53 segment) decodes identically") {
    val (syms, placements, pw, ph) = glyphs()
    val std = Jbig2.decode(Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph), None, pw, ph)
    val cust = Jbig2.decode(
      Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph, customDH = true), None, pw, ph)
    assert(java.util.Arrays.equals(std, cust))
  }

  test("Huffman dict with MMR-coded collective bitmap decodes identically") {
    val (syms, placements, pw, ph) = glyphs()
    val plain = Jbig2.decode(Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph), None, pw, ph)
    val mmr = Jbig2.decode(
      Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph, mmrCollective = true), None, pw, ph)
    assert(java.util.Arrays.equals(plain, mmr))
  }

  test("MMR encoder round-trips the T.6 decoder on random bitmaps") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 20) {
      val w = 1 + rnd.nextInt(70)
      val h = 1 + rnd.nextInt(20)
      val bm = Array.fill[Byte](w * h)(if (rnd.nextInt(100) < 30) 1 else 0)
      val mmr = MmrEncode.encode(bm, w, h)
      val packed = Ccitt.decode(mmr, w, h, -1, blackIs1 = true, encodedByteAlign = false)
      val stride = (w + 7) / 8
      for (y <- 0 until h; x <- 0 until w) {
        val got = (packed(y * stride + (x >> 3)) >> (7 - (x & 7))) & 1
        assert(got == bm(y * w + x), s"trial $trial ${w}x$h pixel ($x,$y)")
      }
    }
  }

  test("Huffman stream through the PDF filter path (packed, 0=black polarity)") {
    val (syms, placements, pw, ph) = glyphs()
    val emb = Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph)
    val packed = Jbig2.decodeFilter(emb, None, pw, ph)
    assert(packed.length == ((pw + 7) / 8) * ph)
    // box at (4,3): pixel (4,3) is black → bit 0
    assert(((packed(3 * ((pw + 7) / 8) + 0) >> (7 - 4)) & 1) == 0)
    // pixel (0,0) is white → bit 1
    assert(((packed(0) >> 7) & 1) == 1)
  }

  test("truncated and mutated Huffman streams fail fast, never hang") {
    val (syms, placements, pw, ph) = glyphs()
    val emb = Jbig2.encodeEmbeddedTextHuffman(syms, placements, pw, ph)
    val rnd = new scala.util.Random(7)
    (0 until 60).foreach { k =>
      val mutated = emb.clone()
      if (k % 3 == 0) { // truncate
        val cut = 12 + rnd.nextInt(math.max(1, emb.length - 12))
        val t0 = System.nanoTime()
        try { Jbig2.decode(java.util.Arrays.copyOf(mutated, cut), None, pw, ph); () }
        catch { case _: Exception => () }
        assert((System.nanoTime() - t0) / 1000000 < 20000, s"truncate $k too slow")
      } else { // flip bytes
        (0 until 4).foreach { _ =>
          mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
        }
        val t0 = System.nanoTime()
        try { Jbig2.decode(mutated, None, pw, ph); () }
        catch { case _: Exception => () }
        assert((System.nanoTime() - t0) / 1000000 < 20000, s"mutate $k too slow")
      }
    }
  }
}

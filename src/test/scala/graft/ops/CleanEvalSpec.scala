package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Semantics for the wave-36 operators: extractor-quality eval (levenshtein
  * vs gold through the real HTML extractor), asymmetric containment dedup,
  * and C4-style line/page cleaning rules. */
class CleanEvalSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val longBody =
    (0 until 40).map(i => s"word$i").mkString(" ") // 239 chars > 60, < 240

  test("extract_eval: clean pages recover gold byte-identically, damaged pages measure drift") {
    val d = docsDF((1L, longBody), (7L, longBody), (14L, longBody))
    val out = ExtractEval.evaluate(ExtractEval.corpusAsPages(d))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // doc 1: %7 != 0 → embedded == gold → exact
    assert(byId(1L)._4 == 0 && byId(1L)._5)
    // docs 7, 14: %7 == 0 and > 60 chars → planted drift, lev > 0
    assert(byId(7L)._4 > 0 && !byId(7L)._5)
    // the measured distance equals the analytic distance of the formula
    // (gold is the 240-char-capped trim, exactly as corpusAsPages builds it)
    val gold = longBody.substring(0, math.min(240, longBody.length)).trim
    val damaged = gold.substring(0, gold.length - 20).replaceAll("\\s+$", "") +
      " extractor drift tail."
    val expected = spark.sql(
      s"SELECT levenshtein('${gold}', '${damaged}')").head().getInt(0)
    assert(byId(7L)._4 == expected.toLong)
  }

  test("extract_eval: nav/footer boilerplate never leaks into the extracted side") {
    val d = docsDF((2L, longBody))
    val pages = ExtractEval.corpusAsPages(d)
      .as[(Long, String, Array[Byte])].collect()
    val text = graft.core.html.HtmlExtract.parse(pages.head._3).mainText()
    assert(!text.contains("Home") && !text.contains("Footer boilerplate"))
    assert(text == pages.head._2) // gold recovered exactly for a clean doc
  }

  test("containment: excerpt-in-base scores 1000 where jaccard would miss it") {
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val d = docsDF((0L, base), (1L, "unrelated words only here today friend"))
    val corpus = Dedup.corpusWithExcerpts(d)
    val out = Dedup.containmentBlocked(corpus)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val pair = out.find(r => r._1 == 0L && r._2 == 300000L)
    assert(pair.isDefined, s"excerpt pair missing: ${out.toVector}")
    assert(pair.get._6 == 1000L) // fully contained
    // the same pair's Jaccard is far below the 0.5 dedup threshold:
    // 23 excerpt shingles / 58 base shingles
    val (inter, aCnt, bCnt) = (pair.get._3, pair.get._4, pair.get._5)
    val jac = inter.toDouble / (aCnt + bCnt - inter)
    assert(jac < 0.5, s"jaccard $jac unexpectedly high")
  }

  test("containment: below-threshold overlap is not emitted") {
    // two docs sharing first token and HALF their shingles — containment
    // ~0.5 < 0.9 → no pair
    val a = "same " + (0 until 30).map(i => s"a$i").mkString(" ")
    val b = "same " + (0 until 15).map(i => s"a$i").mkString(" ") +
      " " + (0 until 15).map(i => s"b$i").mkString(" ")
    val out = Dedup.containmentBlocked(docsDF((10L, a), (11L, b)))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.isEmpty, out.toVector.toString)
  }

  test("c4Clean line rules: terminal punct, >=5 words, javascript") {
    val text = Seq(
      "this line has five words.",          // kept
      "no terminal punctuation here at all", // dropped: punct
      "short line.",                          // dropped: <5 words
      "please enable javascript to continue reading.", // dropped: javascript
      "another perfectly fine sentence with words.",   // kept
      "a third fine sentence keeps the page alive."    // kept → 3 kept, page ok
    ).mkString("\n")
    val out = TextStats.c4Clean(docsDF((3L, text)))
      .as[(Long, Long, Long, String, Boolean, String)].collect().head
    assert(out._2 == 6 && out._3 == 3 && out._4 == "ok" && out._5)
  }

  test("c4Clean page rules: curly brace and lorem ipsum drop the page, md5 still pins kept lines") {
    val curly = "var f = function() { return 1; }\nreal sentence with enough words here."
    val lorem = "lorem ipsum dolor sit amet.\nreal sentence with enough words here."
    val out = TextStats.c4Clean(docsDF((1L, curly), (2L, lorem)))
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Boolean, String)].collect()
    assert(out(0)._4 == "curly" && !out(0)._5)
    assert(out(1)._4 == "lorem_ipsum" && !out(1)._5)
    // md5 pins the kept-line set even on dropped pages: the curly page
    // keeps only the real sentence (the code line fails the punct rule);
    // the lorem page keeps BOTH its lines (the lorem line passes every
    // LINE rule — it is the PAGE rule that kills it)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(out(0)._6 == md5("real sentence with enough words here."))
    assert(out(1)._6 == md5("lorem ipsum dolor sit amet.\nreal sentence with enough words here."))
    assert(out(0)._3 == 1 && out(1)._3 == 2)
  }

  test("corpusWithLines: 12-token lines, period residue, one junk line per residue class") {
    val text = (0 until 30).map(i => s"w$i").mkString(" ") // 3 lines
    val out = TextStats.corpusWithLines(docsDF((4L, text)))
      .as[(Long, String)].collect().head._2.split("\n", -1)
    assert(out.length == 4) // 3 body lines + junk (4 % 4 == 0)
    // residues: (4+0)%3=1 → '.', (4+1)%3=2 → none, (4+2)%3=0 → '.'
    assert(out(0).endsWith(".") && !out(1).endsWith(".") && out(2).endsWith("."))
    assert(out(3).contains("javascript"))
    val clean = TextStats.corpusWithLines(docsDF((7L, text))) // 7 % 4 == 3 → no junk
      .as[(Long, String)].collect().head._2.split("\n", -1)
    assert(clean.length == 3)
  }
}

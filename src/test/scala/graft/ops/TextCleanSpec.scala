package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Semantics for the round-5 corpus-cleaning wave: PII detect/redact,
  * within-doc repetition signals, C4-style paragraph dedup, and cross-doc
  * repeated-span detection. */
class TextCleanSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("piiStats: counts emails/IPv4s/phones and redacts them in order") {
    val d = docsDF(
      (1L, "write to alice.smith+x@sub.example.org or bob@ex.io today"),
      (2L, "server 10.0.3.44 and 192.168.1.7 but not 1234.5.6.7 here"),
      (3L, "call 555-123-4567 now; 55-123-4567 is not a number"),
      (4L, "plain text with no pii at all"))
    val r = TextStats.piiStats(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(r(0) == ((1L, 2L, 0L, 0L,
      Dedup.md5Hex("write to <EMAIL> or <EMAIL> today"))))
    // 1234.5.6.7: \b\d{1,3} can still anchor inside "1234" after '4'? No —
    // there is no word boundary between digits, so it must start at '1',
    // where \d{1,3} reads at most "123" and the next char '4' != '.' → the
    // whole candidate fails; only the two real IPs match.
    assert(r(1) == ((2L, 0L, 2L, 0L,
      Dedup.md5Hex("server <IP> and <IP> but not 1234.5.6.7 here"))))
    assert(r(2) == ((3L, 0L, 0L, 1L,
      Dedup.md5Hex("call <PHONE> now; 55-123-4567 is not a number"))))
    assert(r(3) == ((4L, 0L, 0L, 0L,
      Dedup.md5Hex("plain text with no pii at all"))))
  }

  test("corpusWithPii plants at least one of each category on residue ids") {
    val base = docsDF((0L, "seed"), (1L, "x"), (3L, "y"), (5L, "z"), (7L, "w"))
    val r = TextStats.piiStats(TextStats.corpusWithPii(base)).orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(r(0)._2 == 1 && r(0)._3 == 1 && r(0)._4 == 1) // doc 0: all residues
    assert(r(1) == ((1L, 0L, 0L, 0L, Dedup.md5Hex("x"))))
    assert(r(2)._2 == 1 && r(3)._3 == 1 && r(4)._4 == 1)
  }

  test("repetition: top unigram/bigram shares and duplicated-token fraction") {
    val d = docsDF(
      (1L, "a a b"),          // n=3, top uni a=2 → 666; bigrams "a a","a b" → 500; dup 2/3 → 666
      (2L, "x y z"),          // all distinct → top uni 333, top bigram 1/2 → 500, dup 0
      (3L, "q q q q"),        // top 1000, top bigram "q q"=3/3 → 1000, dup 1000
      (4L, ""),               // empty → all zero
      (5L, "solo"))           // n=1: no bigrams → 0
    val r = TextStats.repetition(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(r(0) == ((1L, 3L, 666L, 500L, 666L)))
    assert(r(1) == ((2L, 3L, 333L, 500L, 0L)))
    assert(r(2) == ((3L, 4L, 1000L, 1000L, 1000L)))
    assert(r(3) == ((4L, 0L, 0L, 0L, 0L)))
    assert(r(4) == ((5L, 1L, 1000L, 0L, 0L)))
  }

  test("corpusWithParagraphs chunks the token array by 8, newline-joined") {
    val text = (1 to 19).map(i => s"t$i").mkString(" ")
    val r = Dedup.corpusWithParagraphs(docsDF((1L, text))).as[(Long, String)].head()
    val paras = r._2.split("\n", -1)
    assert(paras.length == 3)
    assert(paras(0) == (1 to 8).map(i => s"t$i").mkString(" "))
    assert(paras(2) == (17 to 19).map(i => s"t$i").mkString(" "))
    // empty text → a single empty paragraph (split contract keeps it)
    val e = Dedup.corpusWithParagraphs(docsDF((2L, ""))).as[(Long, String)].head()
    assert(e._2 == "")
  }

  test("dedupParagraphs: first occurrence by (doc_id, idx) wins, rest removed") {
    val p1 = "the quick brown fox"
    val p2 = "jumps over the dog"
    val p3 = "unique tail paragraph"
    val d = docsDF(
      (1L, s"$p1\n$p2"),
      (2L, s"$p2\n$p3"),   // p2 already seen in doc 1 → removed here
      (3L, s"$p1\n$p1"))   // in-doc repeat: idx 0 loses to doc 1, idx 1 too
    val r = Dedup.dedupParagraphs(d).orderBy("doc_id")
      .as[(Long, Long, String)].collect()
    assert(r(0) == ((1L, 0L, Dedup.md5Hex(s"$p1\n$p2"))))
    assert(r(1) == ((2L, 1L, Dedup.md5Hex(p3))))
    assert(r(2) == ((3L, 2L, Dedup.md5Hex(""))))
  }

  test("repeatedSpans: only grams present in >1 distinct doc count as shared") {
    val shared8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val d = docsDF(
      (1L, s"$shared8 a b c"),      // 11 tokens → 4 gram positions, 1 shared
      (2L, s"x y $shared8"),        // 10 tokens → 3 positions, 1 shared
      (3L, "p q r s t u v w z z z"),// no overlap → 0 shared
      (4L, "too short"))            // <8 tokens → no grams → absent
    val r = Dedup.repeatedSpans(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.length == 3)
    assert(r(0) == ((1L, 4L, 1L, 250L)))
    assert(r(1) == ((2L, 3L, 1L, 333L)))
    assert(r(2) == ((3L, 4L, 0L, 0L)))
  }

  test("repeatedSpans counts every position of a within-doc repeated shared gram") {
    val g = (1 to 8).map(i => s"g$i").mkString(" ")
    // doc 1 contains the shared gram region twice (16 tokens = 9 positions,
    // positions 0 and 8 are exactly g; doc 2 plants g once
    val d = docsDF((1L, s"$g $g"), (2L, s"$g end1 end2"))
    val r = Dedup.repeatedSpans(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    // doc 1: grams at positions 0..8; position 0 and 8 equal g (shared);
    // middle positions are unique wrap-arounds
    assert(r(0)._2 == 9L && r(0)._3 == 2L)
    assert(r(1)._2 == 3L && r(1)._3 == 1L)
  }

  test("lmScore: corpus-fit unigram surprisal + OOV rate, hand-checked") {
    // corpus counts: a=4, b=2, c=2, d=2 → total 10. vocabSize=2 keeps a
    // and (tie-break token asc) b: lp_a = floor(ln(10/4)*1000) = 916,
    // lp_b = floor(ln(10/2)*1000) = 1609
    val d = docsDF((1L, "a a b c"), (2L, "a a b d"), (3L, "c d"), (4L, ""))
    val r = TextStats.lmScore(d, vocabSize = 2).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    // doc 1: 4 toks, 1 oov(c), mean lp = floor((916+916+1609)/3) = 1147, oov 250
    assert(r(0) == ((1L, 4L, 1L, 1147L, 250L)))
    assert(r(1) == ((2L, 4L, 1L, 1147L, 250L)))
    // doc 3: all oov → score 0, oov 1000
    assert(r(2) == ((3L, 2L, 2L, 0L, 1000L)))
    // empty doc: 0 tokens, all zero
    assert(r(3) == ((4L, 0L, 0L, 0L, 0L)))
    // scoring pass plan: literal-map projection, no join/shuffle, no UDF
    val plan = TextStats.lmScore(d, vocabSize = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan.take(300))
    assert(!plan.toLowerCase.contains("join"), plan.take(300))
  }
}

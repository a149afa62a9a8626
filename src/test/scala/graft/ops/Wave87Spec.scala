package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 87: lexicon statistics — Zipf audit, Heaps growth, varint index. */
class Wave87Spec extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("zipf: hand-computed rank×frequency permille on a tiny corpus") {
    // counts: a=5, b=3, c=2, d=1  → c1=5
    val df = docsDF(Seq(
      (0L, "a a b c"), (1L, "a b d"), (2L, "a b c"), (3L, "a")))
    val r = Lexicon.zipf(df).collect()(0)
    assert(r.getAs[Long]("n_types") == 4L)
    assert(r.getAs[Long]("n_tokens") == 11L)
    assert(r.getAs[Long]("top1_cnt") == 5L)
    assert(r.getAs[Long]("rxf_pm_1") == 1000L)          // 1·5·1000/5
    assert(r.getAs[Long]("rxf_pm_2") == 2L * 3 * 1000 / 5) // 1200
    assert(r.getAs[Long]("rxf_pm_5") == -1L)            // vocab < 5
    assert(r.getAs[Long]("rxf_pm_100") == -1L)
  }

  test("zipf: tie-break at equal counts is by term ascending") {
    // x and y both count 2; rank1 must be x (asc), rank2 y
    val df = docsDF(Seq((0L, "y x"), (1L, "x y")))
    val r = Lexicon.zipf(df).collect()(0)
    assert(r.getAs[Long]("top1_cnt") == 2L)
    assert(r.getAs[Long]("rxf_pm_1") == 1000L)
    assert(r.getAs[Long]("rxf_pm_2") == 2000L) // 2·2·1000/2
  }

  test("heaps: first-occurrence attribution matches a sequential replay") {
    // 10 docs (ids 0..9 → one per decile): vocabulary grows only when a
    // genuinely new term appears
    val rows = (0L until 10L).map { i =>
      val repeat = "base common"            // 2 tokens everywhere
      val fresh = if (i % 2 == 0) s"new$i" else "base" // new term on even ids
      (i, s"$repeat $fresh")
    }
    val out = Lexicon.heaps(docsDF(rows)).orderBy("decile").collect()
    assert(out.length == 10)
    // sequential truth: decile d has docs d+1, tokens 3(d+1); vocab:
    // {base, common} + new0 at d0, +new2 at d2, ...
    var vocab = Set.empty[String]
    for (d <- 0 until 10) {
      val toks = rows(d)._2.split(" ").filter(_.nonEmpty)
      vocab ++= toks
      val r = out(d)
      assert(r.getAs[Long]("decile") == d.toLong)
      assert(r.getAs[Long]("docs_cum") == (d + 1).toLong)
      assert(r.getAs[Long]("tokens_cum") == 3L * (d + 1))
      assert(r.getAs[Long]("vocab_cum") == vocab.size.toLong,
        s"decile $d vocab")
      assert(r.getAs[Long]("ttr_pm") == vocab.size.toLong * 1000 / (3L * (d + 1)))
    }
  }

  test("varintIndex: byte accounting exact on planted gaps") {
    // term "t" in docs 0, 1, 200: gaps 1 (=0+1), 1, 199
    //   bytes: bin(1)=1 bit → 1 byte; 1 → 1; bin(199)=8 bits → 2 bytes
    // term "u" in doc 300 only: gap 301 → bin=9 bits → 2 bytes
    val df = docsDF(Seq((0L, "t"), (1L, "t t"), (200L, "t"), (300L, "u")))
    val r = Lexicon.varintIndex(df).collect()(0)
    assert(r.getAs[Long]("n_terms") == 2L)
    assert(r.getAs[Long]("n_postings") == 4L) // (t,0)(t,1)(t,200)(u,300) — dup collapsed
    assert(r.getAs[Long]("raw_bytes") == 32L)
    assert(r.getAs[Long]("varint_bytes") == 1L + 1 + 2 + 2)
    assert(r.getAs[Long]("saving_pm") == (32L - 6) * 1000 / 32)
  }

  test("lexicon operators run on the synthetic documents table shape") {
    // smoke at the real column shape (doc_id, text) with empty-text rows
    val df = docsDF(Seq((0L, ""), (1L, "only one doc with text here")))
    assert(Lexicon.zipf(df).count() == 1)
    assert(Lexicon.varintIndex(df).collect()(0).getAs[Long]("n_terms") == 6L)
    val h = Lexicon.heaps(df).collect()
    assert(h.map(_.getAs[Long]("vocab_cum")).max == 6L)
  }
}

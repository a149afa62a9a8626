package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Semantics for the wave-37 operators: rendezvous shard placement,
  * embedding-truncation recall ablation, and the Kneser-Ney bigram fit. */
class ShardRecallSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def urlsDF(n: Int) =
    (0 until n).map(i => (i.toLong, s"https://site${i % 40}.example/p/$i"))
      .toDF("doc_id", "url_canon")

  test("rendezvous: dropping the top shard moves exactly its urls (HRW property)") {
    val out = UrlOps.rendezvousAssign(urlsDF(400), nShards = 8)
      .as[(Long, String, Int, Int, Boolean)].collect()
    assert(out.length == 400)
    out.foreach { case (_, u, s8, s7, moved) =>
      assert(s8 >= 0 && s8 < 8 && s7 >= 0 && s7 < 7, u)
      assert(moved == (s8 == 7), s"$u: shard=$s8 drop=$s7 moved=$moved")
      if (s8 < 7) assert(s7 == s8, s"$u stable url changed shard: $s8 -> $s7")
    }
    // placement is roughly balanced: every shard sees a nontrivial share
    val byShard = out.groupBy(_._3).view.mapValues(_.length)
    assert(byShard.size == 8)
    byShard.foreach { case (s, n) => assert(n > 10, s"shard $s starved: $n urls") }
  }

  test("truncationRecall: full-width truncation is a perfect-recall identity") {
    val emb = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.truncationRecall(emb, nQueries = 5, k = 3, dims = 8)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 5)
    out.foreach { case (q, ov, r) => assert(ov == 3 && r == 1000, s"q$q: $ov") }
  }

  test("truncationRecall: tail dims that flip the ranking lower the overlap") {
    // q=0: full cosine ranks c1 (aligned in the tail) above c2; the first-2
    // truncation sees identical prefixes and ranks by... nothing — both
    // prefixes are exactly [1, 0] → tie broken by cid, still both in top-2.
    // c3 is prefix-orthogonal but tail-aligned: in the FULL top-2, out of
    // the truncated top-2.
    val rows = Seq(
      0L -> Array(1f, 0f, 0f, 0f),     // query
      1L -> Array(1f, 0f, 0.9f, 0f),   // full sim high, trunc sim 1
      2L -> Array(0f, 1f, 0f, 0f),     // full sim 0,   trunc sim 0
      3L -> Array(0.1f, 0f, 1f, 0f))   // full sim low+, trunc sim 1 (norm'd)
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.truncationRecall(emb, nQueries = 1, k = 2, dims = 2)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 1)
    // full top-2 by cosine: c1 (0.743), c3 (0.0995...) → {1, 3}
    // trunc top-2 (first 2 dims): c1 (1.0), c3 (1.0) → {1, 3} — overlap 2?
    // No: trunc c3 = [0.1, 0] → cos 1.0 exactly (colinear). c2 cos 0.
    // both sets {1,3} → overlap 2. Verify against hand-computed sets:
    val (_, ov, r) = out.head
    assert(ov == 2 && r == 1000)
    // now make the tail DECIDE: swap c2's mass into the tail so full
    // ranking prefers it but the truncated view can't see it at all
    val rows2 = Seq(
      0L -> Array(1f, 0f, 0.8f, 0f),
      1L -> Array(1f, 0f, 0f, 0f),      // trunc cos 1.0, full cos 0.781
      2L -> Array(0.6f, 0f, 1f, 0f),    // trunc cos 1.0, full cos 0.937
      3L -> Array(0f, 1f, 0f, 0f))      // cos 0 everywhere
    val out2 = Similarity.truncationRecall(rows2.toDF("vec_id", "embedding"),
      nQueries = 1, k = 1, dims = 2)
      .as[(Long, Long, Long)].collect()
    // full top-1 = c2; truncated top-1 = c1 (tie 1.0 vs 1.0, lower cid) →
    // zero overlap: the ablation measures exactly this loss
    assert(out2.head._2 == 0 && out2.head._3 == 0)
  }

  test("knBigramFit: hand-checked counts and Kneser-Ney probability") {
    val docs = Seq("a b a b c", "b a").toDF("text")
    val out = TextStats.knBigramFit(docs, topN = 10)
      .as[(String, String, Long, Long)].collect()
    // bigrams: (a,b)x2 (b,a)x2 (b,c)x1 → D=3 types
    val m = out.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(m(("a", "b"))._1 == 2 && m(("b", "a"))._1 == 2 && m(("b", "c"))._1 == 1)
    assert(out.length == 3)
    // p_kn(b|a): c=2, c(a·)=2, N1+(a·)=1, N1+(·b)=1, D=3
    val pAB = (2.0 - 0.75) / 2.0 + 0.75 * 1.0 / 2.0 * (1.0 / 3.0)
    assert(m(("a", "b"))._2 == math.floor(pAB * 1e9).toLong)
    // p_kn(c|b): c=1, c(b·)=3, N1+(b·)=2, N1+(·c)=1
    val pBC = (1.0 - 0.75) / 3.0 + 0.75 * 2.0 / 3.0 * (1.0 / 3.0)
    assert(m(("b", "c"))._2 == math.floor(pBC * 1e9).toLong)
    // ordering: count desc then bigram asc → (a,b), (b,a), (b,c)
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq(("a", "b"), ("b", "a"), ("b", "c")))
  }

  test("knScore: held-out docs walk the backoff ladder (seen / w1-backoff / OOV)") {
    // fit slice = doc 0 only: bigrams (a,b)x2 (b,a)x1 (b,c)x1 → D=3 types,
    // ct(a)=2 nf(a)=1, ct(b)=2 nf(b)=2, nc=1 everywhere, vocab {a,b,c}
    val docs = Seq(
      (0L, "a b a b c"),   // all-seen: 4 bigrams, every one in the model
      (1L, "a b a c"),     // (a,b),(b,a) seen; (a,c): a seen → backoff
      (2L, "z q a b")).toDF("doc_id", "text") // (z,q),(q,a): z,q OOV → 1e9/3
    val out = TextStats.knScore(docs, fitModulus = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 0: everything seen
    assert(out(0L)._2 == 4 && out(0L)._3 == 4 && out(0L)._4 == 0)
    val pAB = math.floor(((2.0 - 0.75) / 2.0 + 0.75 * 1.0 / 2.0 * (1.0 / 3.0)) * 1e9).toLong
    val pBA = math.floor(((1.0 - 0.75) / 2.0 + 0.75 * 2.0 / 2.0 * (1.0 / 3.0)) * 1e9).toLong
    val pBC = pBA // identical counts: c=1, ct(b)=2, nf(b)=2, nc=1
    assert(out(0L)._5 == 2 * pAB + pBA + pBC)
    // doc 1: (a,c) backoff — w1=a has ct=2, nf=1, nc(c)=1
    val pACback = math.floor((0.75 * 1.0 / 2.0 * (1.0 / 3.0)) * 1e9).toLong
    assert(out(1L)._3 == 2 && out(1L)._4 == 1)
    assert(out(1L)._5 == pAB + pBA + pACback)
    // doc 2: (z,q) and (q,a) OOV-w1 → uniform 1e9/3; (a,b) seen
    assert(out(2L)._3 == 1 && out(2L)._4 == 0)
    assert(out(2L)._5 == 2 * (1000000000L / 3) + pAB)
    // mean is the truncating integer division of the sum
    assert(out(2L)._6 == out(2L)._5 / 3)
  }
}

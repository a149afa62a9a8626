package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSessionFixture

/** Semantics for the BPE-ish pre-tokenizer stats and the water-filling
  * corpus mixture solver. */
class MixtureSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  // ---- bpeTokenStats ------------------------------------------------------

  test("bpeTokenStats: GPT-2-style pieces and ceil(len/4) subwords") {
    val d = Seq(
      (1L, "Hello world 123 foo-bar!"),
      (2L, ""),
      (3L, "a  b")).toDF("doc_id", "text")
    val r = TextStats.bpeTokenStats(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    // "Hello"(5) " world"(6) " 123"(4) " foo"(4) "-"(1) "bar"(3) "!"(1)
    //   → 7 pieces; subwords ceil/4: 2+2+1+1+1+1+1 = 9
    // whitespace words = 4 → fertility floor(9*1000/4) = 2250
    // bytes/subword = floor(24*1000/9) = 2666
    assert(r(0) == ((1L, 7L, 9L, 2250L, 2666L)))
    assert(r(1) == ((2L, 0L, 0L, 0L, 0L)))
    // "a" + "  " (leftmost-first: the double space is one whitespace-run
    // piece, NOT attached to b) + "b" → 3 pieces, 3 subwords
    assert(r(2) == ((3L, 3L, 3L, 1000L, 1333L)))
  }

  // ---- Mixture.allocate ---------------------------------------------------

  /** n docs of `words` whitespace words each for a source. */
  private def src(name: String, docs: Int, words: Int) =
    (0 until docs).map(_ => (name, Seq.fill(words)("w").mkString(" ")))

  private def alloc(rows: Seq[(String, String)], w: Map[String, Long],
      budget: Long, epochsX1000: Long = 2000L) = {
    val df = rows.toDF("source", "text")
    val wCol = element_at(typedLit(w), col("source")).cast("long")
    Mixture.allocate(df, wCol, budget, epochsX1000)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Int, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> r).toMap
  }

  test("budget above total caps: every source fully capped at max epochs") {
    val r = alloc(src("a", 2, 100) ++ src("b", 3, 50), Map("a" -> 1000L, "b" -> 3000L),
      budget = 1000000L)
    // caps = avail*2: a: 400 of 200 avail; b: 300 of 150. With T = Σcaps the
    // water level covers everything; b (ratio 0.1 < a's 0.4) carries the
    // capped flag, a's proportional share lands exactly on its cap.
    assert(r("a") == (("a", 1000L, 2L, 200L, 400L, 0, 400L, 2000L, 571428L)))
    assert(r("b") == (("b", 3000L, 3L, 150L, 300L, 1, 300L, 2000L, 428571L)))
    assert(r.values.map(_._7).sum == 700L) // T = sum(caps)
  }

  test("mixed solution: low-cap/high-weight source capped, rest proportional") {
    // avail: a=1000, b=1000, c=100; caps ×2 = 2000/2000/200
    // weights 1:1:8 → c's share of T=2000 would be 1600 ≫ cap 200 → capped;
    // remainder 1800 splits 1:1 → 900 each (both under cap)
    val r = alloc(src("a", 10, 100) ++ src("b", 10, 100) ++ src("c", 1, 100),
      Map("a" -> 1000L, "b" -> 1000L, "c" -> 8000L), budget = 2000L)
    assert(r("c")._6 == 1 && r("c")._7 == 200L)          // capped at cap
    assert(r("a")._6 == 0 && r("a")._7 == 900L)
    assert(r("b")._6 == 0 && r("b")._7 == 900L)
    assert(r.values.map(_._7).sum == 2000L)              // exactly T here
    assert(r("c")._8 == 2000L)                           // 2.0 epochs
    assert(r("a")._8 == 900L)                            // 0.9 epochs
  }

  test("cascade: capping one source pushes the next over its cap too") {
    // avail a=100,b=200,c=1000 → caps 200/400/2000; weights 5:4:1, T=1500
    // proportional: a=750>200 cap → capped; then b: 4/5 of 1300 = 1040 >
    // 400 → capped; c gets 900 < 2000 ✓
    val r = alloc(src("a", 1, 100) ++ src("b", 2, 100) ++ src("c", 10, 100),
      Map("a" -> 5000L, "b" -> 4000L, "c" -> 1000L), budget = 1500L)
    assert(r("a")._6 == 1 && r("a")._7 == 200L)
    assert(r("b")._6 == 1 && r("b")._7 == 400L)
    assert(r("c")._6 == 0 && r("c")._7 == 900L)
  }

  test("invariants: alloc ≤ cap, capped ⇒ alloc = cap, Σalloc ∈ (T−n, T]") {
    val rows = src("a", 3, 37) ++ src("b", 5, 11) ++ src("c", 2, 93) ++ src("d", 7, 29)
    val w = Map("a" -> 700L, "b" -> 2900L, "c" -> 1300L, "d" -> 5100L)
    for (budget <- Seq(100L, 500L, 900L, 5000L)) {
      val r = alloc(rows, w, budget)
      val t = math.min(budget, r.values.map(_._5).sum)
      r.values.foreach { v =>
        assert(v._7 <= v._5, s"alloc>cap at budget=$budget: $v")
        if (v._6 == 1) assert(v._7 == v._5)
      }
      val s = r.values.map(_._7).sum
      assert(s <= t && s > t - r.size, s"sum=$s T=$t at budget=$budget")
    }
  }

  test("temperatureMix: sqrt flattening upsamples the tail, allocs sum to budget") {
    import spark.implicits._
    // 900 "en" docs vs 100 "sw": raw share 90/10, sqrt share 30/10 -> 750/250
    val docs = ((1 to 900).map(_ => "en") ++ (1 to 100).map(_ => "sw")).toDF("lang")
    val out = Mixture.temperatureMix(docs, budgetDocs = 1000L)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toVector
    assert(out == Vector(
      ("en", 900L, 30L, 750L, 833L),   // head downsamples: 0.833 epochs
      ("sw", 100L, 10L, 250L, 2500L))) // tail upsamples: 2.5 epochs
    assert(out.map(_._4).sum == 1000L)
  }
}

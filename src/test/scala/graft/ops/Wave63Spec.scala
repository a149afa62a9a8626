package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 63: lang-mismatch gate, URL structural hygiene, Holt forecast. */
class Wave63Spec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("lang argmax: tie-break by marker order, all-zero is und") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the der"),      // en=the(1), de=der(1) tie → en (marker order)
      (2L, "xyz qqq zzz"),  // no markers → und
      (3L, "und und der die die")) // de dominates
    val scored = TextStats.langScoresKeyed(rows.toDF("doc_id", "text"), "doc_id")
    val out = TextStats.langArgmax(scored).collect()
      .map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "und")
    assert(out(3L) == "de")
  }

  test("url hygiene: edge shapes") {
    import spark.implicits._
    val urls = Seq(
      "https://a@b.example/x",          // bare userinfo, no password
      "https://example.com:443/x",      // default https port is NOT odd
      "http://example.com:80/x",        // nor default http
      "https://1.2.3.4.5/x",            // five octets: not an IPv4 literal
      "https://sub.xn--p1ai/x",         // punycode TLD
      "relative/not-a-url")             // no scheme → host empty, all false
    val rs = UrlOps.hygiene(urls.toDF("url")).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(7))).toMap
    assert(rs("https://a@b.example/x")._1)                 // userinfo
    assert(!rs("https://example.com:443/x")._4)            // not odd_port
    assert(!rs("http://example.com:80/x")._4)
    assert(!rs("https://1.2.3.4.5/x")._2)                  // not ip_literal
    assert(rs("https://sub.xn--p1ai/x")._3)                // punycode
    assert(!rs("relative/not-a-url")._5)                   // not risky
  }

  test("holt: constant series locks level, linear ramp locks trend") {
    // replicate the query's fold inline on a hand series
    def holt(series: Seq[Long]): Seq[(Long, Long)] = {
      var lvl = 0L; var trd = 0L
      series.zipWithIndex.map { case (n, i) =>
        if (i == 0) { lvl = n * 1000; trd = 0 }
        else {
          val prev = lvl
          lvl = (300L * n * 1000L + 700L * (lvl + trd)) / 1000L
          trd = (100L * (lvl - prev) + 900L * trd) / 1000L
        }
        (lvl, trd)
      }
    }
    val const = holt(Seq.fill(10)(5L))
    assert(const.forall { case (l, t) => l == 5000L && t == 0L })
    val ramp = holt((1L to 40L))
    val (_, lastTrd) = ramp.last
    // a +1/day ramp drives the trend toward +1000 milli-units/day
    assert(lastTrd > 800L && lastTrd <= 1000L)
    // negative ramp drives a negative trend (truncating division path)
    val down = holt((1L to 40L).map(i => 100L - 2 * i))
    assert(down.last._2 < -1000L)
  }
}

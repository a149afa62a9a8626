package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{CodegenModes, SparkSessionFixture}
import graft.functions.NativeColumns

/** URL canonicalization / registered-domain / dedup / domain-rollup
  * operators (ops/UrlOps.scala + the url_* native expressions). */
class UrlOpsSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("canonicalizeUrl rule-by-rule") {
    import UrlOps.canonicalizeUrl
    // case fold + default port strip + fragment drop
    assert(canonicalizeUrl("HTTP://WWW.Ex.COM:80/A/b#frag") == "http://www.ex.com/A/b")
    assert(canonicalizeUrl("https://Ex.com:443/") == "https://ex.com/")
    // non-default port kept
    assert(canonicalizeUrl("https://ex.com:8443/x") == "https://ex.com:8443/x")
    // http:443 is NOT a default pairing — kept
    assert(canonicalizeUrl("http://ex.com:443/x") == "http://ex.com:443/x")
    // empty path → /
    assert(canonicalizeUrl("https://ex.com") == "https://ex.com/")
    assert(canonicalizeUrl("https://ex.com?b=2&a=1") == "https://ex.com/?a=1&b=2")
    // param sort + tracking drop + empty-param drop
    assert(canonicalizeUrl("https://ex.com/p?z=9&utm_source=f&a=1&&gclid=G&b=") ==
      "https://ex.com/p?a=1&b=&z=9")
    // all params dropped → no '?'
    assert(canonicalizeUrl("https://ex.com/p?utm_campaign=x&fbclid=Y") == "https://ex.com/p")
    // path case preserved (only scheme/host fold)
    assert(canonicalizeUrl("https://EX.com/CaseSensitive/Path") == "https://ex.com/CaseSensitive/Path")
    // no scheme → lowercased passthrough, never throws
    assert(canonicalizeUrl("not a url") == "not a url")
    assert(canonicalizeUrl(null) == "")
    // idempotence: canonical input is a fixed point
    val c = canonicalizeUrl("HTTP://A.B.com:80/p?b=2&a=1#z")
    assert(canonicalizeUrl(c) == c)
  }

  test("hostOf and registeredDomain") {
    import UrlOps.{hostOf, registeredDomain}
    assert(hostOf("https://www.ex.co.uk:8080/p?a=1") == "www.ex.co.uk")
    assert(hostOf("http://ex.com/") == "ex.com")
    assert(hostOf("garbage") == "")
    assert(registeredDomain("www.site7.com") == "site7.com")
    assert(registeredDomain("a.b.site999.co.uk") == "site999.co.uk")
    assert(registeredDomain("ex.com") == "ex.com")
    assert(registeredDomain("localhost") == "localhost")
    assert(registeredDomain("com.au") == "com.au")
  }

  /** The inputs of the rule-by-rule cases above, as urls, and null. */
  private val ruleInputs: Seq[String] = Seq(
    "HTTP://WWW.Ex.COM:80/A/b#frag", "https://Ex.com:443/", "https://ex.com:8443/x",
    "http://ex.com:443/x", "https://ex.com", "https://ex.com?b=2&a=1",
    "https://ex.com/p?z=9&utm_source=f&a=1&&gclid=G&b=", "https://ex.com/p?utm_campaign=x&fbclid=Y",
    "https://EX.com/CaseSensitive/Path", "not a url", "HTTP://A.B.com:80/p?b=2&a=1#z",
    "https://www.ex.co.uk:8080/p?a=1", "http://ex.com/", "garbage", "https://www.site7.com/",
    "https://a.b.site999.co.uk/", "http://localhost/", "https://com.au/", "", null)

  for ((mode, confs) <- CodegenModes.modes) {
    val label = if (mode.isEmpty) "" else s" ($mode)"

    test(s"url_*_native expressions equal their Scala functions; null gives null$label") {
      import spark.implicits._
      val fns = Seq[(String, String => String, Column => Column)](
        ("url_canonicalize_native", UrlOps.canonicalizeUrl, NativeColumns.urlCanonicalize),
        ("url_host_native", UrlOps.hostOf, NativeColumns.urlHost),
        ("url_domain_native", s => UrlOps.registeredDomain(UrlOps.hostOf(s)), NativeColumns.urlDomain))
      for ((name, f, native) <- fns) {
        val df = ruleInputs.map(s => (s, Option(s).map(f).orNull)).toDF("s", "expected")
        val diff = CodegenModes.differWith(confs)(df, col("expected"), native(col("s")))
        assert(diff == 0L, s"$name differs from its Scala function on $diff inputs")
      }
    }
  }

  test("dedup and domain stats over the planted corpus") {
    val docs = spark.range(0, 200).toDF("doc_id")
      .withColumn("n_chars", (col("doc_id") % 7 + 1).cast("long"))
    val norm = UrlOps.normalize(UrlOps.withRawUrls(docs.select("doc_id")))
    val n = norm.count()
    assert(n == 200)
    // canonical collisions exist (different raw forms → same canonical)
    val dedup = UrlOps.dedupByCanonical(norm)
    assert(dedup.count() < n)
    assert(dedup.agg(sum("n_dups")).collect()(0).getLong(0) == n)
    // keeper is the min doc_id of its group
    val anyDup = dedup.filter(col("n_dups") > 1).limit(1).collect()(0)
    val members = norm.filter(col("url_canon") === anyDup.getAs[String]("url_canon"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(members.min == anyDup.getAs[Long]("keeper_doc_id"))
    // hot domain holds the odd half
    val stats = UrlOps.domainStats(norm, docs).collect()
    val hot = stats.find(_.getAs[String]("domain") == "site999.co.uk").get
    assert(hot.getAs[Long]("n_docs") == 100)
    // no UDF in the normalize plan; native expressions present
    val plan = norm.queryExecution.executedPlan.toString
    assert(plan.contains("url_canonicalize_native") && !plan.contains("UDF"), plan.take(400))
  }
}

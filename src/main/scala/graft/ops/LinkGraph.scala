package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.html.{HtmlExtract, HtmlLinks, HtmlTokenizer}
import graft.functions.NativeColumns
import graft.spark.PageRow

/** Link-graph construction from raw HTML payloads — the piece that turns a
  * Common-Crawl-style pages table into the domain graph that crawl
  * prioritization and rank signals (domain_rank's PageRank) consume.
  *
  * Scale shape: `outlinks` is a narrow typed flatMap — payloads are parsed
  * where the scan produces them and only (url, dst, anchor, flags) strings
  * leave the row, never the HTML. `domainEdges` is one partial-aggregated
  * shuffle of domain-pair rows; the countDistinct adds Spark's standard
  * Expand two-phase pass, still bounded by |distinct dst| per pair, and a
  * hot domain pair combines map-side like any algebraic aggregate. */
object LinkGraph {

  final case class LinkRow(
      url: String,
      href: String,
      dst: String,
      anchor: String,
      nofollow: Boolean,
      boilerplate: Boolean)

  /** Explode each page into its resolved outlinks. Narrow: zero Exchange. */
  def outlinks(pages: Dataset[PageRow]): Dataset[LinkRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Iterator.empty
      else {
        HtmlLinks.extractLinks(HtmlExtract.decodeBytes(p.html), p.url).iterator.map(l =>
          LinkRow(p.url, l.href, l.dst, l.anchor, l.nofollow, l.boilerplate))
      }
    }
  }

  /** Domain-level edge list over CONTENT links (nofollow and boilerplate
    * placements excluded — the graph a ranker wants). Self-edges kept:
    * internal linkage is a real signal, consumers filter. `n_unique_dst`
    * makes the aggregate value-sensitive to every resolved byte of `dst`,
    * which is what lets the oracle pin resolution end-to-end. */
  def domainEdges(links: Dataset[LinkRow]): DataFrame =
    links.toDF().where(!col("nofollow") && !col("boilerplate"))
      .select(NativeColumns.urlDomain(col("url")).as("src_domain"),
        NativeColumns.urlDomain(col("dst")).as("dst_domain"), col("dst"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("dst")).as("n_unique_dst"))

  /** Deterministic formula corpus: page p lives on site(p%8).example at
    * /a/p{p} and carries three content links whose RAW forms exercise the
    * three resolution paths (messy absolute, root-relative, dotted
    * relative), plus boilerplate/nofollow/non-navigational links that must
    * be flagged or dropped. The DuckDB oracle regenerates the RESOLVED
    * edges from the same arithmetic without parsing HTML — so build →
    * parse → resolve → canonicalize must round-trip exactly. */
  def synthCorpus(spark: SparkSession, nPages: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(nPages).map { pL =>
      val p = pL.toInt
      val d = p % 8
      val url = s"https://site$d.example/a/p$p"
      val t0 = (p * 7 + 1) % nPages
      val t1 = (p * 7 + 14) % nPages
      val t2 = (p * 7 + 27) % nPages
      val html =
        s"""<html><head><title>Page $p</title></head><body>
           |<nav><a href="/">Home</a></nav>
           |<p>Absolute <a href="https://Site${t0 % 8}.EXAMPLE/a/p$t0?utm_source=x&amp;b=2&amp;a=1">link zero</a>,
           |root-relative <a href="/a/p$t1">link one</a>,
           |dotted <a href="../a/p$t2">link two</a>,
           |sponsored <a rel="nofollow" href="https://ads.example/click?id=$p">ad</a>,
           |dead <a href="javascript:void(0)">js</a> and <a href="#top">jump</a>.</p>
           |</body></html>""".stripMargin
      PageRow(url, new java.sql.Timestamp(1704067200000L + p * 1000L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), null, "en")
    }
  }

  /** First rel="next" target in the page head/body — the pagination link
    * (<link rel="next"> or <a rel="next">) multi-page articles carry.
    * One [[HtmlTokenizer]] pass; rel is a whitespace token list. */
  private[ops] def relNextOf(html: String): Option[String] = {
    val t = new HtmlTokenizer(html)
    while (t.next()) if (t.isStart("link") || t.isStart("a")) {
      val body = t.body
      val isNext = HtmlExtract.attr(body, "rel")
        .exists(_.toLowerCase(java.util.Locale.ROOT).split("\\s+").contains("next"))
      if (isNext) {
        val href = HtmlExtract.attr(body, "href")
        if (href.exists(_.nonEmpty)) return href
      }
    }
    None
  }

  /** Pagination-chain assembly: multi-page articles (rel="next" chains)
    * reassemble into documents — every page learns its chain HEAD, its
    * position, and the chain length, so a training pipeline can
    * concatenate page 1..k in order instead of emitting k fragments.
    *
    * Scale shape: edge extraction is the narrow flatMap family; the
    * head-finding is POINTER JUMPING (path doubling) on the reversed
    * pointers — `maxRounds` self-joins of 16-byte (url, anc, dist) rows
    * resolve chains up to 2^maxRounds long (64 at the default: beyond any
    * real pagination) in O(log chain) shuffles, never a per-chain
    * sequential walk. Targets pointing outside the corpus drop via the
    * existence semi-join, so truncated tails behave like chain ends. */
  def paginationChains(pages: Dataset[PageRow], maxRounds: Int = 6): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val edges = pages.flatMap { p =>
      if (p.html == null) None
      else relNextOf(HtmlExtract.decodeBytes(p.html))
        .map(n => (p.url, n))
    }.toDF("src", "next")
    val urls = pages.map(_.url).toDF("url")
    // keep only edges whose target exists in the corpus
    val e = edges.join(urls.withColumnRenamed("url", "next"), Seq("next"), "left_semi")
    // reversed pointer: who links TO me (unique by construction of rel=next)
    val prev = e.select(col("next").as("url"), col("src").as("anc"))
    var cur = urls.join(prev, Seq("url"), "left")
      .select(col("url"), col("anc"),
        when(col("anc").isNull, 0L).otherwise(1L).as("dist"))
    for (_ <- 1 to maxRounds) {
      val b = cur.select(col("url").as("b_url"), col("anc").as("b_anc"),
        col("dist").as("b_dist"))
      cur = cur.join(b, cur("anc") === b("b_url"), "left")
        .select(col("url"),
          coalesce(col("b_anc"), col("anc")).as("anc"),
          (col("dist") + coalesce(col("b_dist"), lit(0L))).as("dist"))
        .localCheckpoint(true) // bound lineage across the doubling rounds
    }
    val resolved = cur.select(col("url"),
      coalesce(col("anc"), col("url")).as("head_url"), col("dist").as("pos"))
    val lens = resolved.groupBy(col("head_url"))
      .agg(count(lit(1)).as("chain_len"))
    resolved.join(lens, Seq("head_url"))
      .select(col("url"), col("head_url"), col("pos"), col("chain_len"))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.html.{HtmlExtract, HtmlTokenizer}
import graft.spark.PageRow

/** hreflang alternate-link clustering — how multilingual corpora find
  * TRANSLATION SETS: pages declaring each other as language alternates
  * (<link rel="alternate" hreflang=… href=…>) form one cluster, the unit
  * a parallel-text miner or a dedup-across-languages pass works on.
  * Cluster key = md5 of the page's sorted alternate-url set (self link
  * included, per the hreflang spec's self-referential requirement), so
  * mutually-consistent pages agree on the key WITHOUT any join — the
  * clustering is one narrow parse + one rollup. */
object Hreflang {

  final case class AltLink(url: String, hreflang: String, href: String)

  /** Head `<link rel="alternate" hreflang=… href=…>` entries, from one
    * [[HtmlTokenizer]] pass that stops at `</head>` (body links are not
    * hreflang declarations). */
  def extractAlternates(html: String, pageUrl: String): Vector[AltLink] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[AltLink]
    val t = new HtmlTokenizer(html)
    while (t.next() && !t.isEnd("head")) if (t.isStart("link")) {
      val body = t.body
      def attr(k: String): String = HtmlExtract.attr(body, k).getOrElse("")
      val lang = attr("hreflang")
      if (attr("rel").equalsIgnoreCase("alternate") && lang.nonEmpty)
        out += AltLink(pageUrl, lang.toLowerCase(java.util.Locale.ROOT), attr("href"))
    }
    out.result()
  }

  /** Per-page translation-cluster assignment + the cluster rollup:
    * (cluster_key, n_pages, langs_csv). Shuffle carries (16-byte key,
    * lang) pairs only. */
  def clusters(pages: Dataset[PageRow]): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      val alts = extractAlternates(
        if (p.html == null) null else HtmlExtract.decodeBytes(p.html), p.url)
      if (alts.isEmpty) Iterator.empty
      else {
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(alts.map(_.href).distinct.sorted.mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(x => f"$x%02x").mkString
        // no exact self-referential link → no lang claim; emit null so
        // collect_set skips it instead of polluting langs_csv with ""
        val self = alts.find(_.href == p.url).map(_.hreflang).orNull
        Iterator.single((key, self))
      }
    }
      .toDF("cluster_key", "lang")
      .groupBy("cluster_key")
      .agg(count(lit(1)).as("n_pages"),
           array_join(array_sort(collect_set(col("lang"))), ",").as("langs_csv"))
  }

  /** Deterministic multilingual synthesis: groups of three translations
    * (en/de/fr) cross-declaring each other with attribute-order and
    * quote-style variance plus a commented-out decoy link. Mirrored in
    * the DuckDB oracle. */
  def synthMultilingual(spark: org.apache.spark.sql.SparkSession, nGroups: Int): Dataset[PageRow] = {
    import spark.implicits._
    val langs = Vector("en", "de", "fr")
    spark.range(nGroups.toLong * 3).map { i =>
      val g = i / 3
      val lang = langs((i % 3).toInt)
      val urls = langs.map(l => s"https://t.example/$g/$l")
      val links = Seq(
        s"""<link rel="alternate" hreflang="en" href="${urls(0)}">""",
        s"""<link href='${urls(1)}' hreflang='de' rel='alternate'>""",
        s"""<link HREFLANG="fr" REL="alternate" HREF="${urls(2)}">""").mkString
      val html = s"<html><head><!-- <link rel=\"alternate\" hreflang=\"xx\" " +
        s"href=\"https://decoy.example/\"> -->$links</head>" +
        s"<body><p>$lang body $g</p></body></html>"
      PageRow(s"https://t.example/$g/$lang",
        new java.sql.Timestamp(1704067200000L + i * 1000L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), null, lang)
    }
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.html.HtmlTokenizer

/** Render-worthiness features for HTML payloads — the routing signal
  * that decides whether a page's content is IN the html (extract
  * directly) or behind JavaScript (re-fetch through a headless browser,
  * 100× the cost): script/iframe/form tag counts and visible paragraph
  * count, with a SPA heuristic flag. One [[HtmlTokenizer]] pass, not a
  * regex: tags inside raw-text BODIES and comments must not count (the
  * synthesized corpus plants decoy "<iframe>" strings inside script
  * bodies, so a regex counter fails the oracle). Narrow per-row parse,
  * zero shuffle, bounded by payload length. */
object HtmlFeatures {

  final case class Features(nScript: Long, nIframe: Long, nForm: Long,
                            nP: Long, nA: Long)

  def features(html: String): Features = {
    if (html == null) return Features(0, 0, 0, 0, 0)
    var nScript = 0L; var nIframe = 0L; var nForm = 0L; var nP = 0L; var nA = 0L
    val t = new HtmlTokenizer(html)
    while (t.next()) if (t.kind == HtmlTokenizer.StartTag) t.name match {
      case "script" => nScript += 1
      case "iframe" => nIframe += 1
      case "form" => nForm += 1
      case "p" => nP += 1
      case "a" => nA += 1
      case _ =>
    }
    Features(nScript, nIframe, nForm, nP, nA)
  }

  /** Deterministic feature-bearing HTML keyed on doc_id, with DECOY tags
    * inside script bodies and a comment (a naive regex counter
    * overcounts and fails the oracle). Mirrored as formulas in the
    * oracle: n_script = id%4, n_iframe = id%3, n_form = id%2,
    * n_p = 1 + id%5, n_a = id%6. */
  def synthHtml(d: Long): String = {
    val scripts = (0L until d % 4).map(i =>
      s"""<script>var x$i = 1 < 2; document.write("<iframe src='decoy'>");</script>""").mkString
    val iframes = (0L until d % 3).map(i => s"""<iframe src="/embed/$i"></iframe>""").mkString
    val forms = (0L until d % 2).map(_ => "<form action=\"/s\"><input/></form>").mkString
    val ps = (0L until 1 + d % 5).map(i => s"<p>para $i of doc $d</p>").mkString
    val as = (0L until d % 6).map(i => s"""<a href="/l/$i">l$i</a>""").mkString
    s"<html><head><!-- <p>commented out</p> -->$scripts</head>" +
      s"<body>$ps$iframes$forms$as</body></html>"
  }

  /** Open-tag name sequence in document order, from [[HtmlTokenizer]]
    * (raw-text bodies and comments skipped, so decoy tags can't perturb
    * the shape). This is the page's DOM-SHAPE signature: two pages of the
    * same template produce the same sequence whatever their text says. */
  def tagSequence(html: String): String = {
    if (html == null) return ""
    val out = new StringBuilder
    val t = new HtmlTokenizer(html)
    while (t.next()) if (t.kind == HtmlTokenizer.StartTag) {
      if (out.nonEmpty) out.append(',')
      out.append(t.name)
    }
    out.result()
  }

  /** Template detection — the boilerplate-at-scale signal: pages sharing
    * a DOM-shape fingerprint are instances of one template (listing
    * pages, tag archives, calendar spam), and a corpus that is 95% one
    * template wants per-template caps, not per-page scoring. Fingerprint
    * = md5 of the real scanner's tag sequence (decoy-proof); one narrow
    * parse + one algebraic rollup on the 16-byte fingerprint key. */
  def templates(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { d =>
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(tagSequence(synthHtml(d)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(x => f"$x%02x").mkString
        (d, fp)
      }
      .toDF("doc_id", "template_fp")
      .groupBy("template_fp")
      .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("min_doc_id"))
  }

  /** The routing op: synthesize → parse → project + SPA heuristic
    * (script-heavy AND text-light → needs a rendering fetch). */
  def routing(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { d =>
        val f = features(synthHtml(d))
        (d, f.nScript, f.nIframe, f.nForm, f.nP, f.nA,
          f.nScript >= 2 && f.nP <= 2)
      }
      .toDF("doc_id", "n_script", "n_iframe", "n_form", "n_p", "n_a", "spa_like")
  }
}

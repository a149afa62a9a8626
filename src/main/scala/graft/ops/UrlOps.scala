package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NativeColumns

/** URL operators for a Common-Crawl-style corpus: canonicalization,
  * registered-domain extraction, canonical-URL dedup, and per-domain
  * aggregation. The north-rule input table is keyed by `url`, and every
  * real web pipeline normalizes that key before any dedup or grouping —
  * crawlers record the same page as `HTTP://WWW.Site.com:80/p?b=2&a=1#x`
  * and `https://www.site.com/p?a=1&b=2` across fetches.
  *
  * Canonicalization rules (all exactly reproducible in DuckDB SQL, which is
  * what the `url_normalize` oracle does):
  *   1. scheme and host lowercased;
  *   2. default ports stripped (`:80` for http, `:443` for https), other
  *      ports kept;
  *   3. empty path becomes `/`;
  *   4. query params: empties and tracking params (`utm_*`, `fbclid`,
  *      `gclid`, `ref`, `msclkid`) dropped, the rest sorted
  *      lexicographically (ASCII byte order == UTF-16 order here) and
  *      re-joined — param ORDER differences stop defeating dedup;
  *   5. fragment dropped.
  *
  * Scale: canonicalization is a per-row codegen'd expression
  * (`url_canonicalize_native`) — zero shuffle. Canonical dedup is one
  * hash-shuffle on the canonical key. Per-domain aggregation relies on
  * Spark's partial (map-side) aggregation: a hot domain holding half the
  * corpus produces ONE partial row per task, not a skewed shuffle — no
  * salting needed for algebraic aggregates.
  */
object UrlOps {

  private val TrackingPrefixes =
    Array("utm_", "fbclid=", "gclid=", "ref=", "msclkid=")

  /** Pure canonicalization function (also the body of the native Catalyst
    * expression `url_canonicalize_native` in functions.NativeExpressions).
    * Input must be `scheme://...`; anything else is returned lowercased
    * as-is (never throws — error rows stay rows). */
  def canonicalizeUrl(raw0: String): String = {
    val raw = if (raw0 == null) "" else raw0
    val schemeEnd = raw.indexOf("://")
    if (schemeEnd < 0) return raw.toLowerCase(java.util.Locale.ROOT)
    val scheme = raw.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT)
    val rest = raw.substring(schemeEnd + 3)
    // host[:port] runs to the first of / ? #
    var cut = rest.length
    var i = 0
    while (i < cut) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#') cut = i else i += 1
    }
    val hostPort = rest.substring(0, cut).toLowerCase(java.util.Locale.ROOT)
    val tail = rest.substring(cut)
    val (host, port) = hostPort.lastIndexOf(':') match {
      case -1 => (hostPort, "")
      case p  => (hostPort.substring(0, p), hostPort.substring(p))
    }
    val keptPort =
      if ((scheme == "http" && port == ":80") || (scheme == "https" && port == ":443")) ""
      else port
    // split tail into path / query / fragment(dropped)
    val hashAt = tail.indexOf('#')
    val noFrag = if (hashAt < 0) tail else tail.substring(0, hashAt)
    val qAt = noFrag.indexOf('?')
    val path0 = if (qAt < 0) noFrag else noFrag.substring(0, qAt)
    val path = if (path0.isEmpty) "/" else path0
    val query = if (qAt < 0) "" else noFrag.substring(qAt + 1)
    val kept = query.split("&", -1).filter { p =>
      p.nonEmpty && !TrackingPrefixes.exists(p.startsWith)
    }.sorted
    val q = if (kept.isEmpty) "" else kept.mkString("?", "&", "")
    scheme + "://" + host + keptPort + path + q
  }

  /** Host of an already-canonical URL (lowercased, port stripped for
    * grouping purposes). */
  def hostOf(canon0: String): String = {
    val canon = if (canon0 == null) "" else canon0
    val schemeEnd = canon.indexOf("://")
    if (schemeEnd < 0) return ""
    val rest = canon.substring(schemeEnd + 3)
    var cut = rest.length
    var i = 0
    while (i < cut) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#' || c == ':') cut = i else i += 1
    }
    rest.substring(0, cut)
  }

  /** Two-label public suffixes the corpus can produce — a deliberately
    * small, pinned subset of the public-suffix list so the oracle can
    * mirror it as a SQL CASE (the full PSL is a data file, same logic). */
  private val TwoPartSuffixes = Set("co.uk", "ac.uk", "org.uk", "com.au", "co.jp")

  /** Registered domain: last 2 labels, or last 3 when the host ends in a
    * known two-part public suffix (site999.co.uk → site999.co.uk, but
    * www.site7.com → site7.com). */
  def registeredDomain(host0: String): String = {
    val host = if (host0 == null) "" else host0
    val labels = host.split('.')
    if (labels.length <= 2) host
    else {
      val lastTwo = labels(labels.length - 2) + "." + labels(labels.length - 1)
      val n = if (TwoPartSuffixes.contains(lastTwo)) 3 else 2
      labels.takeRight(n).mkString(".")
    }
  }

  /** Deterministic messy-URL synthesis keyed on doc_id — the corpus has no
    * url column, so tests and oracles plant one with case noise, default
    * ports, unsorted + tracking query params, and fragments. Residue
    * choices guarantee canonical collisions (different raw forms, same
    * canonical URL) so `url_dedup` has real work. Mirrored verbatim in the
    * DuckDB oracle. Built-ins only — fully codegen'd. */
  def withRawUrls(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val siteId = when(d % 2 === 1, lit(999)).otherwise(d % 25).cast("int")
    val tld = when(siteId % 4 === 0, "com").when(siteId % 4 === 1, "org")
      .when(siteId % 4 === 2, "net").otherwise("co.uk")
    val scheme = when(d % 3 === 0, "HTTP").otherwise("https")
    val hostCore = concat(
      when(d % 4 < 2, lit("WWW.Site")).otherwise(lit("www.site")),
      siteId, lit("."),
      when(d % 8 < 4, upper(tld)).otherwise(tld))
    val port = when(d % 6 === 0, when(d % 3 === 0, ":80").otherwise(":443"))
      .when(d % 6 === 3, lit(":8080")).otherwise(lit(""))
    val path = when(d % 10 === 9, lit("")).otherwise(concat(lit("/p/"), d % 10))
    val query = when(d % 3 === 0, lit("?b=2&utm_source=feed&a=1"))
      .when(d % 3 === 1, concat(lit("?z="), d % 2, lit("&a=1&fbclid=XYZ&b=2")))
      .otherwise(lit(""))
    val frag = when(d % 5 === 0, concat(lit("#sec"), d % 3)).otherwise(lit(""))
    docs.withColumn("url", concat(scheme, lit("://"), hostCore, port, path, query, frag))
  }

  /** doc_id → canonical url, host, registered domain. Uses the native
    * expression so the whole projection stays inside whole-stage codegen. */
  def normalize(docsWithUrl: DataFrame): DataFrame = {
    val canon = NativeColumns.urlCanonicalize(col("url"))
    docsWithUrl.select(col("doc_id"), col("url"), canon.as("url_canon"),
      NativeColumns.urlHost(canon).as("host"), NativeColumns.urlDomain(canon).as("domain"))
  }

  /** Canonical-URL dedup: first-occurrence (min doc_id) wins per canonical
    * key — one hash shuffle on the canonical url, partial-agg combined. */
  def dedupByCanonical(normalized: DataFrame): DataFrame =
    normalized.groupBy(col("url_canon"))
      .agg(min("doc_id").as("keeper_doc_id"),
           count(lit(1)).as("n_dups"))

  /** Rule-based URL blocklist filtering — the crawl-hygiene step (spam
    * domains, tracking paths, binary-asset extensions) a corpus pipeline
    * runs before content ever downloads. Rules are literals inside one
    * codegen'd projection over the canonical columns: ZERO shuffle, zero
    * joins — at 10^12 rows this is a narrow pass, and changing the rule
    * set re-runs only the filter. First matching rule wins (domain >
    * path > extension), `rule = ''` means kept. */
  def filterByRules(normalized: DataFrame,
                    blockedDomains: Seq[String],
                    blockedPathParts: Seq[String],
                    blockedExtensions: Seq[String]): DataFrame = {
    val pathq = regexp_replace(col("url_canon"), "^[a-z]+://[^/]*", "")
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    val domainHit = blockedDomains.foldLeft(lit(false))((a, d) =>
      a || col("domain") === d)
    val pathHit = blockedPathParts.foldLeft(lit(false))((a, p) =>
      a || path.contains(p))
    val extHit = blockedExtensions.foldLeft(lit(false))((a, e) =>
      a || path.endsWith(s".$e"))
    normalized.select(
      col("doc_id"), col("url_canon"), col("domain"),
      when(domainHit, "domain").when(pathHit, "path")
        .when(extHit, "extension").otherwise("").as("rule"))
      .withColumn("blocked", col("rule") =!= "")
  }

  /** Structural URL risk audit — the phish/malware-shape gate a crawler
    * applies before fetching: userinfo@host tricks, IP-literal hosts,
    * punycode (homograph) hosts, non-standard ports, path traversal,
    * overlong URLs. Pure codegen'd string/regex projection, zero shuffle;
    * every rule replays verbatim in the oracle. */
  def hygiene(urls: DataFrame): DataFrame = {
    val u = col("url")
    val hostPart = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val hasUserinfo = hostPart.contains("@")
    val host = when(hasUserinfo, regexp_extract(hostPart, "@([^@]*)$", 1)).otherwise(hostPart)
    val hostNoPort = regexp_extract(host, "^(\\[[^\\]]*\\]|[^:]*)", 1)
    val ipLiteral = hostNoPort.rlike("^([0-9]{1,3}\\.){3}[0-9]{1,3}$") ||
      hostNoPort.startsWith("[")
    val punycode = lower(hostNoPort).contains("xn--")
    val port = regexp_extract(host, ":([0-9]+)$", 1)
    val oddPort = port =!= "" && port =!= "80" && port =!= "443"
    val traversal = u.contains("/../") || u.endsWith("/..")
    val overlong = length(u) > lit(2048)
    urls.select(u.as("url"),
      hasUserinfo.as("userinfo"), ipLiteral.as("ip_literal"),
      punycode.as("punycode"), oddPort.as("odd_port"),
      traversal.as("traversal"), overlong.as("overlong"),
      (hasUserinfo || ipLiteral || punycode || oddPort || traversal || overlong)
        .as("risky"))
  }

  /** Typosquat candidate detection: low-traffic domains within edit
    * distance 1 of a top-K domain (the phishing-lookalike shape: one
    * substituted/dropped/added char). The top-K side is tiny and
    * BROADCASTS; a length-window prefilter (|len diff| ≤ 1) bounds the
    * candidate product before the levenshtein evaluates, and same-domain
    * pairs drop. At 10^12 rows the only corpus-scale work is the domain
    * rollup — the pair join is K×|domains|. */
  def typosquats(normalized: DataFrame, topK: Int = 100): DataFrame = {
    val domCounts = normalized.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"))
    val top = domCounts
      .orderBy(col("n_docs").desc, col("domain"))
      .limit(topK)
      .select(col("domain").as("legit"), col("n_docs").as("legit_docs"))
    domCounts.join(broadcast(top),
        col("domain") =!= col("legit") &&
        abs(length(col("domain")) - length(col("legit"))) <= 1 &&
        levenshtein(col("domain"), col("legit")) <= 1)
      .select(col("domain").as("suspect"), col("n_docs").as("suspect_docs"),
        col("legit"), col("legit_docs"))
      .where(col("suspect_docs") < col("legit_docs")) // the smaller side is the squatter
      .orderBy(col("suspect"), col("legit"))
  }

  /** Per-registered-domain rollup. Algebraic aggregates only, so Spark's
    * map-side partial aggregation absorbs the planted hot domain (~50% of
    * rows on site999.co.uk): each task emits one partial row per domain,
    * and the final shuffle carries |domains| rows per task regardless of
    * skew. countDistinct(host) adds one Expand pass but stays bounded by
    * the tiny host cardinality. */
  def domainStats(normalized: DataFrame, docs: DataFrame): DataFrame =
    normalized.join(docs.select("doc_id", "n_chars"), "doc_id")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           countDistinct(col("host")).as("n_hosts"))

  /** Query-parameter cardinality mining over RAW urls — the evidence a
    * crawler needs to LEARN canonicalization rules instead of hardcoding
    * them: a param whose value cardinality tracks its url count
    * (vals_per_url_permille → 1000) is session/tracking noise to strip;
    * a low-cardinality param is content-bearing (pagination, variant).
    * Runs pre-canonicalization by construction — canonical urls have the
    * known trackers already removed.
    *
    * Scale shape: param explode is a narrow projection (urls have ≤
    * handfuls of params); one algebraic rollup on (domain, param) with
    * map-side combine; countDistinct adds one Expand bounded by the
    * per-key value cardinality. Zero joins. */
  def paramStats(rawUrls: DataFrame): DataFrame = {
    val q = regexp_extract(col("url"), "\\?([^#]*)", 1)
    val host = lower(regexp_extract(regexp_replace(col("url"), "^[^:/?#]+://", ""),
      "^([^/:?#]*)", 1))
    rawUrls
      .select(udfFreeDomain(host).as("domain"),
        explode(filter(split(q, "&"), x => x =!= "")).as("kv"))
      .select(col("domain"),
        substring_index(col("kv"), "=", 1).as("param"),
        regexp_replace(col("kv"), "^[^=]*=", "").as("value"))
      .groupBy("domain", "param")
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("value")).as("n_vals"))
      .withColumn("vals_per_url_permille", expr("n_vals * 1000 div n_urls"))
  }

  /** Rendezvous (highest-random-weight) shard assignment of canonical urls
    * to `nShards` fetcher/storage shards — the consistent-placement scheme
    * a 10^12-url frontier needs: when a shard is removed, ONLY the urls
    * that lived on it move (1/N churn), unlike mod-N hashing where nearly
    * everything reshuffles. Weight per (url, shard) is the SQL-replicable
    * md5 construction ([[Sampling.md5Mod]] = DuckDB `md5_number_upper`),
    * argmax with lowest-shard tie-break; all codegen'd built-ins, zero
    * shuffle, zero UDFs — the assignment is a per-row projection, which is
    * exactly what lets it run inside the frontier scan at any scale.
    *
    * Output per url: `shard` (all `nShards` alive), `shard_drop` (highest
    * shard removed), and `moved` — the oracle checks the rendezvous
    * property end-to-end: `moved ⟺ shard = nShards-1`. */
  def rendezvousAssign(normalized: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards >= 2, "need at least two shards")
    val ws = (0 until nShards).map { sIdx =>
      Sampling.md5Mod(concat(col("url_canon"), lit(s"#$sIdx")), 1000000007L).as(s"w$sIdx")
    }
    def argmax(n: Int): org.apache.spark.sql.Column = {
      val gmax = greatest((0 until n).map(i => col(s"w$i")): _*)
      (0 until n).foldRight(lit(-1): org.apache.spark.sql.Column) { (i, rest) =>
        when(col(s"w$i") === gmax, i).otherwise(rest)
      }
    }
    // foldRight builds WHEN w0 ... WHEN w(n-1): first match wins → lowest
    // shard on (vanishingly unlikely) weight ties, same as the SQL CASE
    normalized.select(col("doc_id") +: col("url_canon") +: ws: _*)
      .withColumn("shard", argmax(nShards).cast("int"))
      .withColumn("shard_drop", argmax(nShards - 1).cast("int"))
      .withColumn("moved", col("shard") =!= col("shard_drop"))
      .select("doc_id", "url_canon", "shard", "shard_drop", "moved")
  }

  /** Deterministic routed-URL synthesis for route-template mining: five
    * path shapes a real site exhibits — a calendar archive (the classic
    * crawler trap: deep, numeric, combinatorially expanding), an article
    * id space, hex session paths, a static page, and a paginated section.
    * Every branch is exactly reproducible in DuckDB SQL (the
    * `url_route_templates` oracle replays it). */
  def withRoutedUrls(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val domain = concat(lit("site"), d % 5, lit(".example"))
    val path = when(d % 7 === 0,
        concat(lit("/cal/"), (d % 3) + 2020, lit("/"), (d % 12) + 1,
               lit("/"), (d % 28) + 1))
      .when(d % 7 === 1 || d % 7 === 2, concat(lit("/article/"), d))
      .when(d % 7 === 3,
        concat(lit("/s/"), substring(md5(concat(lit("route:"), d)), 1, 12)))
      .when(d % 7 === 4, lit("/about"))
      .otherwise(concat(lit("/p/"), d % 10, lit("/comments")))
    docs.withColumn("domain", domain).withColumn("path", path)
  }

  /** URL route-template mining + crawler-trap triage: collapse each path
    * into a structural template (`/cal/{n}/{n}/{n}`) by mapping all-digit
    * segments to `{n}` and long-hex segments (session ids, content
    * hashes) to `{h}`, then count urls and DISTINCT paths per
    * (domain, template). A template that is deep (≥3 segments), contains
    * a placeholder, and keeps expanding (≥10 distinct paths) is flagged
    * `trap_risk` — the calendar-archive signature a crawl frontier must
    * budget-cap before it eats the fetch quota.
    *
    * Scale shape: templating is a pure codegen'd projection (split +
    * transform + regexp, no UDF); the rollup is one partial-aggregated
    * hash shuffle keyed (domain, template) — bounded by the number of
    * ROUTES, not pages, so the output is tiny at any corpus size. */
  def routeTemplates(routed: DataFrame): DataFrame = {
    val segs = filter(split(col("path"), "/"), x => x =!= "")
    val tsegs = transform(segs, x =>
      when(x.rlike("^[0-9]+$"), lit("{n}"))
        .when(x.rlike("^[0-9a-f]{8,}$"), lit("{h}"))
        .otherwise(x))
    routed
      .withColumn("template", concat(lit("/"), array_join(tsegs, "/")))
      .withColumn("depth", size(segs).cast("long"))
      .groupBy(col("domain"), col("template"), col("depth"))
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("path")).as("n_paths"))
      .withColumn("trap_risk",
        col("template").contains("{") && col("n_paths") >= 10 &&
          col("depth") >= 3)
  }

  /** Deterministic parameterized-URL synthesis for canonicalization-rule
    * LEARNING (vs the static blocklist in [[canonicalizeUrl]]): each doc
    * is a url with three query params — `id` (doc_id div 8, the item),
    * `page` ((div 4) mod 2) and `ref` ((div 2) mod 2) — forming a full
    * 2×2 (page, ref) grid per (domain, item). Content is a hash of
    * (item, page): `ref` never changes content, `page` and `id` do. */
  def withParamUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("shop"), col("doc_id") % 2, lit(".example")).as("domain"),
      expr("doc_id div 8").as("item"),
      expr("(doc_id div 4) % 2").as("page"),
      concat(lit("r"), expr("(doc_id div 2) % 2")).as("ref"),
      md5(concat(lit("c:"), expr("doc_id div 8"), lit(":"),
                 expr("(doc_id div 4) % 2"))).as("content"))

  /** Content-invariant query-param inference — learning which params are
    * safe to strip during URL canonicalization by EVIDENCE instead of a
    * hand-kept tracking-param blocklist: for each param, group urls by
    * "the url minus that param"; a group holding ≥2 distinct values of
    * the param with exactly one distinct content hash is invariant
    * evidence (same page either way), ≥2 contents is variant evidence.
    * Verdict per (domain, param): any variant group → `keep`; else any
    * invariant group → `droppable`; no multi-value group → `unknown`.
    *
    * Scale shape: a 3-way column-projection union (no row explosion
    * beyond ×#params), two partial-aggregated hash shuffles — group-key
    * then (domain, param) — output bounded by the PARAM vocabulary. */
  def paramContentInference(urls: DataFrame): DataFrame = {
    def proj(param: String, value: Column, grp: Column) =
      urls.select(col("domain"), lit(param).as("param"), grp.as("grp"),
        value.cast("string").as("value"), col("content"))
    val rows = proj("id", col("item"), concat_ws("|", col("page"), col("ref")))
      .unionAll(proj("page", col("page"), concat_ws("|", col("item"), col("ref"))))
      .unionAll(proj("ref", col("ref"), concat_ws("|", col("item"), col("page"))))
    rows.groupBy(col("domain"), col("param"), col("grp"))
      .agg(countDistinct(col("value")).as("nv"),
           countDistinct(col("content")).as("nc"))
      .groupBy(col("domain"), col("param"))
      .agg(sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_groups_multi"),
           sum(when(col("nv") > 1 && col("nc") === 1, 1L).otherwise(0L)).as("n_invariant"),
           sum(when(col("nv") > 1 && col("nc") > 1, 1L).otherwise(0L)).as("n_variant"))
      .withColumn("verdict",
        when(col("n_variant") > 0, "keep")
          .when(col("n_invariant") > 0, "droppable")
          .otherwise("unknown"))
  }

  /** Registered domain from a host Column using only codegen'd built-ins
    * (the native expression needs a full url; param mining has a bare
    * host). Mirrors [[registeredDomain]] for the synthesis's suffix set. */
  private def udfFreeDomain(host: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val labels = split(host, "\\.")
    val lastTwo = concat(element_at(labels, -2), lit("."), element_at(labels, -1))
    when(size(labels) <= 2, host)
      .when(lastTwo.isin("co.uk", "ac.uk", "org.uk", "com.au", "co.jp"),
        concat(element_at(labels, -3), lit("."), lastTwo))
      .otherwise(lastTwo)
  }
}

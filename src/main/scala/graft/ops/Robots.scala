package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** robots.txt evaluation (RFC 9309) over a web corpus — the crawl-politeness
  * gate a Common-Crawl-style pipeline applies before fetching or before
  * admitting fetched pages whose capture postdates a rule change.
  *
  * Semantics implemented (RFC 9309 §2):
  *   - groups: consecutive `User-agent:` lines share the rule block that
  *     follows; the group evaluated is the longest-named group whose name is
  *     a case-insensitive prefix-token of the product agent, falling back to
  *     `*`; absent both → everything allowed;
  *   - rule match: `*` matches any char run, `$` anchors the end; matching
  *     is over the URL path+query;
  *   - precedence: the MOST SPECIFIC rule wins = longest rule path in
  *     octets; at equal length Allow beats Disallow; no match → allowed.
  *
  * Scale shape: robots files are tiny and per-domain — the parsed rule set
  * is broadcast; the corpus side stays where the scan put it, each url
  * joins its domain's rules map-side, and the only shuffle is the per-url
  * argmax of matched (url, rule) pairs. The corpus never reshuffles.
  */
object Robots {

  final case class Rule(allow: Boolean, path: String)

  /** One parsed group: agent names, rules, and the group's Crawl-delay
    * (seconds) — the de-facto politeness directive outside RFC 9309 that
    * major crawlers still honor. */
  private final case class Group(agents: Vector[String], rules: Vector[Rule],
                                 delay: Option[Long])

  private def parseGroups(robotsTxt: String): Vector[Group] = {
    val groups = scala.collection.mutable.ArrayBuffer[Group]()
    var curAgents = Vector.newBuilder[String]
    var curRules = Vector.newBuilder[Rule]
    var curDelay: Option[Long] = None
    var agentsOpen = false // consecutive User-agent lines accumulate
    def flush(): Unit = {
      val a = curAgents.result()
      if (a.nonEmpty) groups += Group(a, curRules.result(), curDelay)
      curAgents = Vector.newBuilder[String]; curRules = Vector.newBuilder[Rule]
      curDelay = None
    }
    robotsTxt.linesIterator.foreach { line0 =>
      val line = { val h = line0.indexOf('#'); if (h >= 0) line0.substring(0, h) else line0 }.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!agentsOpen) flush()
            agentsOpen = true
            curAgents += value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" =>
            agentsOpen = false
            // empty Disallow = allow-all sentinel: record nothing
            if (value.nonEmpty) curRules += Rule(key == "allow", value)
          case "crawl-delay" =>
            agentsOpen = false
            curDelay = value.toLongOption.filter(_ >= 0).orElse(curDelay)
          case _ => agentsOpen = false // sitemap, unknown
        }
      }
    }
    flush()
    groups.toVector
  }

  /** RFC 9309 group selection: longest matching User-agent name, `*`
    * fallback. */
  private def selectGroup(groups: Vector[Group], agent: String): Option[Group] = {
    val agentLower = agent.toLowerCase(java.util.Locale.ROOT)
    val named = groups.flatMap { g =>
      g.agents.filter(a => a != "*" && agentLower.startsWith(a)).map(a => (a.length, g))
    }
    if (named.nonEmpty) Some(named.maxBy(_._1)._2)
    else groups.find(_.agents.contains("*"))
  }

  /** Parse robots.txt and return the rule block for `agent`. */
  def rulesFor(robotsTxt: String, agent: String): Vector[Rule] = {
    if (robotsTxt == null) return Vector.empty
    selectGroup(parseGroups(robotsTxt), agent).map(_.rules).getOrElse(Vector.empty)
  }

  /** The selected group's Crawl-delay in seconds, if present. */
  def crawlDelayFor(robotsTxt: String, agent: String): Option[Long] = {
    if (robotsTxt == null) return None
    selectGroup(parseGroups(robotsTxt), agent).flatMap(_.delay)
  }

  /** All Sitemap: directives, in file order. Per sitemaps.org these are
    * GLOBAL (not group-scoped), so they collect independently of agent
    * selection. */
  def sitemapsFor(robotsTxt: String): Vector[String] = {
    if (robotsTxt == null) return Vector.empty
    val out = Vector.newBuilder[String]
    robotsTxt.linesIterator.foreach { line0 =>
      val line = { val h = line0.indexOf('#'); if (h >= 0) line0.substring(0, h) else line0 }.trim
      val colon = line.indexOf(':')
      if (colon > 0 &&
          line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT) == "sitemap") {
        val v = line.substring(colon + 1).trim
        if (v.nonEmpty) out += v
      }
    }
    out.result()
  }

  /** Sitemap discovery over a per-domain robots table — the channel that
    * seeds the sitemap-ingest op. Narrow typed flatMap (robots files are
    * per-domain, a tiny table). Output: (domain, sm_idx, sitemap_url). */
  def discoverSitemaps(robots: DataFrame): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col("domain"), col("robots_txt")).as[(String, String)]
      .flatMap { case (d, txt) =>
        sitemapsFor(txt).zipWithIndex.map { case (u, i) => (d, i.toLong, u) }
      }
      .toDF("domain", "sm_idx", "sitemap_url")
  }

  /** RFC 9309 path match: `*` = any run, `$` = end anchor, else prefix. */
  def pathMatches(rulePath: String, path: String): Boolean = {
    val anchored = rulePath.endsWith("$")
    val pat = if (anchored) rulePath.substring(0, rulePath.length - 1) else rulePath
    val parts = pat.split("\\*", -1)
    // greedy left-to-right segment placement is exact for this pattern class
    var pos = 0
    var i = 0
    while (i < parts.length) {
      val seg = parts(i)
      if (i == 0) {
        if (!path.startsWith(seg)) return false
        pos = seg.length
      } else if (i == parts.length - 1 && anchored) {
        return path.length >= pos + seg.length && path.endsWith(seg)
      } else {
        val at = path.indexOf(seg, pos)
        if (at < 0) return false
        pos = at + seg.length
      }
      i += 1
    }
    if (anchored) path.length == pos else true
  }

  /** Verdict for one path against a rule block: (allowed, winning rule). */
  def verdict(rules: Vector[Rule], path: String): (Boolean, String) = {
    val matching = rules.filter(r => pathMatches(r.path, path))
    if (matching.isEmpty) (true, "")
    else {
      val best = matching.maxBy(r => (r.path.length, r.allow)) // allow wins ties
      (best.allow, (if (best.allow) "Allow:" else "Disallow:") + best.path)
    }
  }

  /** Corpus-scale evaluation: `robots(domain, robots_txt)` × `urls(url)` →
    * (url, allowed, rule). The robots side parses narrowly, explodes to
    * (domain, allow, path) rows, and BROADCASTS; each url prefix-joins its
    * domain's rules map-side and one url-keyed shuffle takes the argmax
    * (longest rule, Allow on ties). Wildcard rules are evaluated in the
    * pinned-spec path (`verdict`); the joined form covers prefix rules —
    * the common corpus case and the oracle-able one. */
  def evaluate(robots: DataFrame, urls: DataFrame, agent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    val ruleRows = robots.select("domain", "robots_txt").as[(String, String)]
      .flatMap { case (d, txt) =>
        rulesFor(if (txt == null) "" else txt, agent).map(r => (d, r.allow, r.path))
      }.toDF("domain", "rule_allow", "rule_path")
    val withPath = urls
      .withColumn("u_domain", graft.functions.NativeColumns.urlDomain(col("url")))
      .withColumn("u_path", regexp_replace(col("url"), "^[a-z]+://[^/]*", ""))
    withPath.join(broadcast(ruleRows),
        col("u_domain") === col("domain") &&
          expr("startswith(u_path, rule_path)"), "left")
      .groupBy(col("url"))
      .agg(
        coalesce(max_by(
          col("rule_allow"),
          struct(length(col("rule_path")), col("rule_allow"), col("rule_path"))), lit(true)).as("allowed"),
        coalesce(max_by(
          concat(when(col("rule_allow"), "Allow:").otherwise("Disallow:"), col("rule_path")),
          struct(length(col("rule_path")), col("rule_allow"), col("rule_path"))), lit("")).as("rule"))
  }

  /** Deterministic robots corpus for the 8 link-graph domains: domain d
    * disallows the `/a/p{d}` path prefix and re-allows the LONGER prefix
    * `/a/p{9d+8}` — for d = 1..3 that is exactly the second page the
    * disallow catches (17, 26, 35), so longest-match-wins is exercised on
    * real conflicts; a decoy `evilbot` group must NOT be selected for
    * other agents. Mirrored in the DuckDB oracle as the same arithmetic. */
  def synthRobots(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 8).map { d =>
      val txt =
        s"""# synthetic robots for site$d.example
           |User-agent: evilbot
           |Disallow: /
           |
           |User-agent: *
           |Disallow: /private/
           |Disallow: /a/p$d
           |Allow: /a/p${9 * d + 8}
           |""".stripMargin
      (s"site$d.example", txt)
    }.toDF("domain", "robots_txt")
  }
}

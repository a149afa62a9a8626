package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.PageRow

/** Next-round crawl frontier — the integration op that chains the crawl
  * primitives end-to-end: harvest outlinks from the pages crawled so far,
  * deduplicate candidates on the canonical url key with their in-degree
  * as the priority signal, drop urls already crawled, gate by robots.txt,
  * and cap per-domain picks (politeness: a next round fetches at most k
  * urls from one host).
  *
  * Scale shape, stage by stage: harvesting is the narrow outlinks
  * flatMap (payloads parsed in place); candidate dedup + in-degree is
  * one algebraic (dst → countDistinct src) aggregate; the crawled-set
  * check is a url-keyed LEFT ANTI join carrying urls only (bucketed
  * corpus tables make it Exchange-free on the big side); the robots gate
  * broadcasts the parsed per-domain rules (corpus side never
  * reshuffles); the politeness cap is a per-domain top-k window on
  * candidate rows — frontier-sized, not corpus-sized. */
object Frontier {

  /** (url, domain, n_refs, rank ≤ perDomain) — the next crawl round.
    * Priority within a domain: in-degree desc, url asc (deterministic). */
  def nextFrontier(pages: Dataset[PageRow], crawledUrls: DataFrame,
                   robots: DataFrame, agent: String, perDomain: Int): DataFrame = {
    // nofollow excluded from discovery; boilerplate nav links kept —
    // site chrome is how new sections are found
    val links = LinkGraph.outlinks(pages).toDF().where(!col("nofollow"))
    val cand = links.groupBy(col("dst"))
      .agg(countDistinct(col("url")).as("n_refs"))
      .withColumnRenamed("dst", "url")
      .join(crawledUrls.select("url"), Seq("url"), "left_anti")
    val gated = Robots.evaluate(robots, cand.select("url"), agent)
      .where(col("allowed"))
      .join(cand, Seq("url"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("n_refs").desc, col("url").asc)
    gated
      .withColumn("domain", graft.functions.NativeColumns.urlDomain(col("url")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= perDomain)
      .select("url", "domain", "n_refs", "rank")
  }

  /** synthRobots plus one extra rule: site6 also disallows /a/p38 — so
    * the frontier run exercises an actual robots drop among the
    * candidates (38 is one of site6's two uncrawled targets). */
  def synthFrontierRobots(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 8).map { d =>
      val extra = if (d == 6) "Disallow: /a/p38\n" else ""
      val txt =
        s"""User-agent: evilbot
           |Disallow: /
           |
           |User-agent: *
           |Disallow: /private/
           |Disallow: /a/p$d
           |Allow: /a/p${9 * d + 8}
           |$extra""".stripMargin
      (s"site$d.example", txt)
    }.toDF("domain", "robots_txt")
  }

  /** The crawled slice of the 40-page link corpus: pages 0..29. Targets
    * (7p+k)%40 for k∈{1,14,27} still range over all 40 pages, so pages
    * 30..39 are discoverable-but-uncrawled, and every page's boilerplate
    * "Home" link makes each site root a candidate too. */
  def synthCrawledPages(spark: SparkSession): Dataset[PageRow] = {
    LinkGraph.synthCorpus(spark, 40)
      .filter((p: PageRow) => p.warc_ts.getTime < 1704067200000L + 30 * 1000L)
  }

  /** Crawl-budget apportionment by the largest-remainder (Hamilton)
    * method: `budget` fetch slots distributed over domains proportional
    * to integer `weight` (discovered-url counts, rank mass, …), then the
    * leftover slots go to the largest remainders — the unique
    * deterministic integer split with Σ alloc = budget and every alloc
    * within 1 of its exact proportional share. A per-domain politeness
    * `cap` trims monsters afterwards (no redistribution round: crawl
    * cycles re-apportion next round anyway, and an iterative water-fill
    * here would serialize; the `capped` flag makes the trimmed mass
    * auditable).
    *
    * Scale shape: one domain-sized table end to end. The total weight is
    * a 1-row broadcast; the remainder ranking is a window over domain
    * rows ordered by (remainder desc, domain) — at web scale that is the
    * one global sort in the job, over 10^8 16-byte rows, not the corpus.
    * All integer: quota·, div, mod — the oracle replays it exactly. */
  def budget(weights: DataFrame, budget: Long, cap: Long): DataFrame = {
    val tot = weights.agg(sum(col("weight")).as("w")).localCheckpoint(true)
    val q = weights.crossJoin(broadcast(tot))
      .select(col("domain"), col("weight"),
        expr(s"weight * CAST($budget AS BIGINT) div w").as("base"),
        expr(s"weight * CAST($budget AS BIGINT) % w").as("rem"))
      .localCheckpoint(true) // read twice: leftover agg + ranking
    val leftoverDf = q.agg((lit(budget) - sum(col("base"))).as("leftover"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("domain").asc)
    q.crossJoin(broadcast(leftoverDf))
      .withColumn("rk", row_number().over(w))
      .select(col("domain"), col("weight"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("fair"),
        col("rk"))
      .select(col("domain"), col("weight"),
        least(col("fair"), lit(cap)).as("alloc"),
        (col("fair") > cap).as("capped"))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Redirect-chain resolution over a (src, dst) redirect edge table — the
  * step that collapses 301/302 chains onto their final landing url before
  * canonical dedup, so `url_dedup` keys on where the content actually
  * lives rather than on hop-intermediate urls.
  *
  * Algorithm: pointer doubling (path halving). Each round substitutes
  * `cur → target(cur)` by self-joining the mapping, so a chain of length L
  * collapses in ceil(log2 L) rounds — the same O(log n) discipline as
  * dedup_clusters' large-star/small-star, never a per-hop loop. Rows whose
  * pointer still lands on a redirecting url after the active set stops
  * shrinking are ρ-shaped or pure cycles and are flagged, not looped on.
  *
  * Scale shape: every round shuffles only the mapping table (one row per
  * REDIRECTING url — orders of magnitude smaller than the corpus), ids
  * only, hash-partitioned on the join key; lineage is cut per round
  * (localCheckpoint) exactly like the cluster op. The corpus table joins
  * the finished mapping once, broadcast-or-hash by size.
  */
object Redirects {

  /** Resolve each url through the redirect graph.
    * Output: (url, final_url, hops, status) —
    *   resolved: final_url = chain end (url itself if it never redirects,
    *             hops = 0); cycle: url's chain enters a loop → final_url
    *             '' and hops -1, admission pipelines drop these. */
  def resolve(urls: DataFrame, redirects: DataFrame, maxRounds: Int = 20): DataFrame = {
    // mapping m: src → (cur, hops); invariant: cur is reachable from src
    // in exactly hops redirect steps, and every skipped prefix redirects.
    var m = redirects.select(col("src"), col("dst").as("cur"), lit(1L).as("hops"))
      .localCheckpoint(true)
    val srcs = redirects.select(col("src").as("s")).distinct().localCheckpoint(true)
    var active = m.join(srcs, m("cur") === srcs("s"), "left_semi").count()
    var round = 0
    while (active > 0 && round < maxRounds) {
      val b = m.select(col("src").as("b_src"), col("cur").as("b_cur"),
        col("hops").as("b_hops"))
      val next = m.join(b, m("cur") === b("b_src"), "left")
        .select(m("src"),
          coalesce(col("b_cur"), m("cur")).as("cur"),
          (m("hops") + coalesce(col("b_hops"), lit(0L))).as("hops"))
        .localCheckpoint(true)
      m.unpersist()
      m = next
      val prevActive = active
      active = m.join(srcs, m("cur") === srcs("s"), "left_semi").count()
      round += 1
      // pure cycles keep the active count constant forever: once a round
      // makes no progress the remaining active rows are all cyclic
      if (active == prevActive && active > 0) round = maxRounds
    }
    // cycle rows: pointer still lands on a redirecting url
    val cyc = m.join(srcs, m("cur") === srcs("s"), "left_semi")
      .select(col("src").as("c_src"), lit(true).as("is_cycle"))
    val out = urls.join(m, urls("url") === m("src"), "left")
      .join(cyc, urls("url") === col("c_src"), "left")
      .select(urls("url"),
        when(col("is_cycle"), lit("")).otherwise(coalesce(col("cur"), urls("url"))).as("final_url"),
        when(col("is_cycle"), lit(-1L)).otherwise(coalesce(col("hops"), lit(0L))).as("hops"),
        when(col("is_cycle"), lit("cycle")).otherwise(lit("resolved")).as("status"))
    srcs.unpersist()
    out
  }

  /** Deterministic redirect corpus: 10 chains of length 5
    * (u{6g}→u{6g+1}→…→u{6g+5}, terminal at j=5), one pure 3-cycle
    * (c0→c1→c2→c0) and one ρ-tail (t0→c1) — chains resolve with true hop
    * counts, cycle and tail rows flag `cycle`. Mirrored by the DuckDB
    * recursive-CTE oracle, which walks the same arithmetic edges. */
  def synthRedirects(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val chainEdges = (0 until 60).filter(i => i % 6 != 5)
      .map(i => (s"https://r.example/u$i", s"https://r.example/u${i + 1}"))
    val cycleEdges = Seq(
      ("https://r.example/c0", "https://r.example/c1"),
      ("https://r.example/c1", "https://r.example/c2"),
      ("https://r.example/c2", "https://r.example/c0"),
      ("https://r.example/t0", "https://r.example/c1"))
    val edges = (chainEdges ++ cycleEdges).toDF("src", "dst")
    val urls = ((0 until 60).map(i => s"https://r.example/u$i") ++
      Seq("c0", "c1", "c2", "t0").map(s => s"https://r.example/$s")).toDF("url")
    (urls, edges)
  }
}

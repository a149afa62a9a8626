package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators — the crawl-prioritization signal (authority
  * scores feed per-domain fetch budgets). PageRank here is INTEGER
  * PageRank: scores live in micro-units and every step is integer
  * arithmetic (floor division, integer sums), so results are exactly
  * order-independent — the same bits on any partitioning, any engine.
  * Float PageRank cannot be oracled exactly (sum order drifts ULPs);
  * integer PageRank can, and at web scale the quantization error is
  * irrelevant for ranking. */
object Graph {

  /** Deterministic synthetic out-links for a node set 0..n−1 (the corpus
    * has no link column): each node links to three affine images of its
    * id, self-loops and duplicate targets removed. Mirrored verbatim in
    * the DuckDB oracle. */
  def synthEdges(nodes: DataFrame, n: Long): DataFrame = {
    val id = col("id")
    nodes.select(id, explode(array_distinct(array(
        (id * 7 + 3) % n, (id * 13 + 11) % n, (id * 31 + 17) % n))).as("dst"))
      .where(col("dst") =!= id)
      .select(id.as("src"), col("dst"))
  }

  /** `iters` rounds of integer PageRank with damping 0.85 in micro-units:
    * score₀ = 10⁶; per edge contrib = score div outdeg; scoreₖ₊₁ =
    * 150000 + (85 · Σ contribs) div 100. Dangling in-degrees coalesce
    * to 0; every node keeps a row.
    *
    * Scale shape: the edge table (with outdeg) is computed once and
    * cached pre-partitioned; each round shuffles only (dst, contrib)
    * pairs — 16-byte rows — and the node-sized score table. Rounds are
    * a fixed count (crawl scoring runs 5–10), not a convergence loop, so
    * the lineage is bounded; at 10^12 edges each round is one
    * sort-merge join on src plus one partial-aggregated shuffle on dst. */
  def pageRankInt(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(deg, "src")
    val ids = nodes.select(col("id"))
    var scores = ids.select(col("id"), lit(1000000L).as("score"))
    for (_ <- 1 to iters) {
      val contribs = e.join(scores, e("src") === scores("id"))
        .select(col("dst"),
          floor(col("score").cast("double") / col("outdeg")).as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("c"))
      scores = ids.join(contribs, ids("id") === contribs("dst"), "left")
        .select(col("id"),
          (lit(150000L) +
            floor(coalesce(col("c"), lit(0L)).cast("double") * 85 / 100)
              .cast("long")).as("score"))
    }
    scores
  }

  /** Degree histogram on exact power-of-two buckets — the first
    * diagnostic run on any web link graph (is the tail power-law? where
    * do the hubs start?): total degree (in+out) per node, bucketed by
    * the BIT LENGTH of the degree (length of its binary string — exactly
    * floor(log2)+1 with zero libm involvement, so the bucketing is
    * bit-reproducible in any engine), bucket 0 reserved for isolated
    * nodes.
    *
    * Scale shape: one edge-union count rollup + a node-sized left join +
    * a ≤64-row bucket rollup — never a sort, never a histogram of raw
    * degrees. Output: (bucket, n_nodes, min_deg, max_deg). */
  def degreeHist(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val deg = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    nodes.select(col("id")).join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
      .select(col("deg"),
        when(col("deg") === 0L, 0).otherwise(length(bin(col("deg")))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
  }

  /** One-hop label smoothing — the mean-aggregate building block of
    * GraphSAGE (Hamilton et al., NeurIPS 2017) and of classic web-spam
    * score propagation: each node's signal is blended with the mean of
    * its in-neighbors' signals, smoothed = (α·own + (1−α)·nbr_mean). In a
    * corpus pipeline this turns a sparse per-domain quality score into a
    * dense one (a domain linked only by junk inherits junk). INTEGER-exact
    * in milli-units: nbr_mean_m = (Σ nbr score · 1000) div indeg, smoothed_m
    * = (α_pm·score·1000 + (1000−α_pm)·nbr_mean_m) div 1000; isolated nodes
    * (indeg 0) fall back to their own score. Valid while score < 9·10¹² /
    * max-indeg (scores here are char counts — comfortably inside).
    *
    * Scale shape: ONE sort-merge join of edges with the node scores on
    * src, ONE partial-aggregated (dst, sum, count) shuffle, one node-sized
    * left join back — the exact per-round shape of [[pageRankInt]], run
    * once. No neighborhood list ever materializes.
    *
    * Input: nodes (id, score), edges (src, dst). Output: (id, score,
    * indeg, nbr_mean_m, smoothed_m). */
  def labelSmooth(nodes: DataFrame, edges: DataFrame,
                  alphaPm: Long = 700L): DataFrame = {
    require(alphaPm >= 0L && alphaPm <= 1000L, "alphaPm in [0,1000]")
    val s = nodes.select(col("id"), col("score"))
    val agg = edges.join(s, edges("src") === s("id"))
      .groupBy(col("dst"))
      .agg(sum(col("score")).as("nbr_sum"), count(lit(1)).as("indeg"))
    s.join(agg, s("id") === agg("dst"), "left")
      .select(col("id"), col("score"),
        coalesce(col("indeg"), lit(0L)).as("indeg"),
        coalesce(expr("nbr_sum * 1000 div indeg"), col("score") * 1000L)
          .as("nbr_mean_m"))
      .withColumn("smoothed_m",
        expr(s"($alphaPm * score * 1000 + ${1000L - alphaPm} * nbr_mean_m) div 1000"))
  }

  /** Integer TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    * PageRank with initial mass AND teleport restricted to a trusted seed
    * set — trust flows out along links, so spam farms that rank high on
    * raw PageRank score near zero here (low trust × high rank = the
    * classic spam-mass signal for corpus curation). Same micro-unit
    * integer arithmetic as [[pageRankInt]] — bit-exact on any
    * partitioning or engine — and the same per-round shape: one
    * sort-merge join on src plus one partial-aggregated (dst, contrib)
    * shuffle of 16-byte rows; the seed flag rides the node table.
    *
    * Input nodes: (id, is_seed). Output: (id, is_seed, score). */
  def trustRankInt(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(deg, "src")
    val ids = nodes.select(col("id"), col("is_seed"))
    var scores = ids.select(col("id"),
      when(col("is_seed"), lit(1000000L)).otherwise(lit(0L)).as("score"))
    for (_ <- 1 to iters) {
      val contribs = e.join(scores, e("src") === scores("id"))
        .select(col("dst"),
          floor(col("score").cast("double") / col("outdeg")).as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("c"))
      scores = ids.join(contribs, ids("id") === contribs("dst"), "left")
        .select(col("id"),
          (when(col("is_seed"), lit(150000L)).otherwise(lit(0L)) +
            floor(coalesce(col("c"), lit(0L)).cast("double") * 85 / 100)
              .cast("long")).as("score"))
    }
    ids.join(scores, Seq("id")).select(col("id"), col("is_seed"), col("score"))
  }

  /** Integer HITS (Kleinberg, JACM 1999): hubs point at good authorities,
    * authorities are pointed at by good hubs — the directional complement
    * of PageRank for link-graph curation (hub score finds index/portal
    * pages; authority score finds canonical content pages). Per round:
    * auth = Σ in-neighbor hubs, hub = Σ out-neighbor NEW auths, each
    * max-normalized to micro-units with integer floor division — so the
    * trajectory is bit-exact on any partitioning/engine (the float L2
    * normalization of textbook HITS cannot be oracled; max-normalization
    * preserves the ranking fixed point). Valid while n·10¹² < 2⁶³
    * (n < 9·10⁶ nodes); beyond that the scale-down shifts first.
    *
    * Scale shape per round: one sort-merge join + one partial-aggregated
    * 16-byte (node, score) shuffle per direction; the normalization max
    * is ONE scalar to the driver per half-round (the same O(1) driver
    * traffic as the perceptron fit). Score tables are
    * localCheckpoint-truncated so the collect does not replay lineage. */
  def hitsInt(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val ids = nodes.select(col("id"))
    var hubs = ids.select(col("id"), lit(1000000L).as("hub"))
    var auths = ids.select(col("id"), lit(1000000L).as("auth"))
    for (_ <- 1 to iters) {
      // LAZY checkpoints: the max-aggregate right after each raw score
      // table is its first action and materializes the checkpoint in the
      // same job (the eager form paid a separate job per half-round).
      // The normalized score tables need no checkpoint of their own —
      // they are a single projection over the just-checkpointed raw
      // table, so lineage stays one node deep either way.
      val aRaw = ids.join(
          edges.join(hubs, edges("src") === hubs("id"))
            .groupBy(col("dst")).agg(sum(col("hub")).as("s")),
          ids("id") === col("dst"), "left")
        .select(ids("id"), coalesce(col("s"), lit(0L)).as("s"))
        .localCheckpoint(false)
      val aMax = math.max(aRaw.agg(max(col("s"))).collect()(0).getLong(0), 1L)
      auths = aRaw.select(col("id"),
        expr(s"s * 1000000 div CAST($aMax AS BIGINT)").as("auth"))
      val hRaw = ids.join(
          edges.join(auths, edges("dst") === auths("id"))
            .groupBy(col("src")).agg(sum(col("auth")).as("s")),
          ids("id") === col("src"), "left")
        .select(ids("id"), coalesce(col("s"), lit(0L)).as("s"))
        .localCheckpoint(false)
      val hMax = math.max(hRaw.agg(max(col("s"))).collect()(0).getLong(0), 1L)
      hubs = hRaw.select(col("id"),
        expr(s"s * 1000000 div CAST($hMax AS BIGINT)").as("hub"))
    }
    hubs.join(auths, Seq("id")).select(col("id"), col("hub"), col("auth"))
  }

  /** BFS hop distance from a seed set — the crawl-depth signal (pages far
    * from any trusted seed are late-frontier, low-priority fetches; in
    * spam analysis, distance from a whitelist is the complement of
    * TrustRank's mass). Bellman-Ford relaxation specialised to unit
    * weights: distₖ₊₁(v) = min(distₖ(v), min over in-edges distₖ(u)+1),
    * run `maxHops` rounds; nodes still unreached report −1.
    *
    * Integer and order-independent (min is idempotent/commutative), so
    * the DuckDB recursive-CTE oracle matches bit-for-bit. Scale shape
    * per round: one sort-merge join edges⋈dist on src plus one
    * partial-aggregated (dst, min) shuffle of 16-byte rows — identical
    * to the PageRank round shape; the all-nodes dist table is node-sized,
    * never edge-sized, and rounds are a fixed small count (web crawl
    * frontiers are shallow — ≤6 hops covers the useful range).
    *
    * Input nodes: (id, is_seed). Output: (id, dist). */
  def hopDistance(nodes: DataFrame, edges: DataFrame, maxHops: Int): DataFrame = {
    val ids = nodes.select(col("id"), col("is_seed"))
    // unreached sentinel stays NULL internally so min() ignores it
    var dist = ids.select(col("id"),
      when(col("is_seed"), lit(0L)).otherwise(lit(null).cast("long")).as("dist"))
    for (_ <- 1 to maxHops) {
      val relaxed = edges.join(dist.where(col("dist").isNotNull),
          edges("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("dist") + 1L).as("d"))
      // least() skips NULLs, so an unreached node adopts d and a reached
      // node keeps min(dist, d)
      dist = dist.join(relaxed, dist("id") === relaxed("dst"), "left")
        .select(dist("id"), least(dist("dist"), relaxed("d")).as("dist"))
        // lazy: no per-round action exists and each round is the sole
        // consumer of the previous one, so the final action computes the
        // whole relaxation chain in ONE job (logical lineage still
        // truncates at every checkpoint; hop RDDs cache as computed) —
        // the eager form paid one materialization job per hop
        .localCheckpoint(false)
    }
    dist.select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** Link reciprocity — the link-farm signal: organic webs are heavily
    * asymmetric (you link Wikipedia, it doesn't link back); paid link
    * rings reciprocate. One self-join of the edge list on the swapped
    * key (sort-merge on (src,dst) vs (dst,src) — ids only), one global
    * algebraic rollup to a single audit row. Integer permille. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true) // read twice: both self-join sides
    val recip = e.as("x").join(e.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .select(col("x.src"), col("x.dst"))
    val n = e.count()
    val r = recip.count()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((n, r, if (n == 0) 0L else r * 1000L / n))
      .toDF("n_edges", "n_reciprocal", "reciprocity_permille")
  }

  /** HyperBall (Boldi & Vigna, 2013 — public algorithm): per-node
    * neighborhood function and harmonic centrality via HLL register
    * max-merge along edges. THE scale-shaped centrality: exact all-pairs
    * BFS is O(n²) and impossible at web scale; HyperBall keeps 64 registers
    * per node and each hop is ONE edge join + ONE (id, j) max rollup —
    * state O(n·m), traffic O(|E|·m), `maxHops` rounds. The registers are
    * the same integer-exact HLL construction as [[Sketches]] (md5-derived
    * ρ, α·m²·2³⁵ integer estimator), so ball sizes — and therefore the
    * harmonic sums — replay bit-for-bit in SQL.
    *
    * harmonic_x1000(u) = Σ_{h=1..H} (|B_h(u)| − |B_{h−1}(u)|)·1000 div h —
    * the standard HyperBall estimate of Σ_v 1/d(u,v), truncated at H.
    * Registers max-merge along OUT-edges, so B_h(u) counts nodes REACHABLE
    * from u. Lineage is cut per hop (eager localCheckpoint — iterative
    * joins otherwise stack plans). */
  def hyperBall(nodes: DataFrame, edges: DataFrame, maxHops: Int): DataFrame = {
    val m = 64
    val h = Sampling.md5Mod(concat(lit("hb:"), col("id").cast("string")),
      Sketches.KmvDomain)
    var regs = nodes.select(col("id"), h.as("h"))
      .select(col("id"), expr(s"h % $m").as("j"),
        when(expr(s"h div $m") === 0L, lit(35L))
          .otherwise(lit(35L) - length(bin(expr(s"h div $m"))).cast("long")).as("mj"))
      // lazy (see loop note below)
      .localCheckpoint(false)
    // raw α·m²·2³⁵ estimator + linear-counting small-range correction
    // (raw HLL is biased HIGH for n ≪ m; balls at low hops are tiny).
    // The LN double is computed in the same op order by the oracle.
    def estimate(r: DataFrame, hop: Int): DataFrame =
      r.groupBy(col("id"))
        .agg(count(lit(1)).as("n_regs"),
             sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(35 - mj AS INT))")).as("sp"))
        .select(col("id"), lit(hop).as("hop"),
          (lit(m.toLong) - col("n_regs")).as("vz"),
          expr(s"CAST(709 AS BIGINT) * ${m.toLong * m} * ${1L << 35} " +
            s"div (1000 * (sp + ($m - n_regs) * ${1L << 35}))").as("raw"))
        .select(col("id"), col("hop"),
          when(col("vz") > 0 && col("raw") <= lit(m.toLong * 5 / 2),
            expr(s"CAST(FLOOR($m.0D * LN($m.0D / CAST(vz AS DOUBLE))) AS BIGINT)"))
            .otherwise(col("raw")).as("est"))
    var ests = estimate(regs, 0)
    for (hop <- 1 to maxHops) {
      val nbr = edges.join(regs.withColumnRenamed("id", "nid"),
          edges("dst") === col("nid"))
        .select(edges("src").as("id"), col("j"), col("mj"))
      regs = regs.unionByName(nbr)
        .groupBy(col("id"), col("j")).agg(max(col("mj")).as("mj"))
        // lazy: nothing acts per hop — the final harmonic aggregate is
        // the one action, so all hops compute in ONE job DAG (each hop's
        // RDD is still cache-materialized once and read by both its
        // consumers; the logical lineage is truncated immediately either
        // way). The eager form paid one materialization job per hop.
        .localCheckpoint(false)
      ests = ests.unionByName(estimate(regs, hop))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("hop"))
    ests
      .withColumn("prev", lag(col("est"), 1).over(w))
      .withColumn("term",
        // clamp: the raw→linear-counting crossover can dip a hair
        when(col("hop") === 0, 0L)
          .otherwise(greatest(expr("(est - prev) * 1000 div hop"), lit(0L))))
      .groupBy(col("id"))
      .agg(max(when(col("hop") === maxHops, col("est"))).as("ball_final"),
           sum(col("term")).as("harmonic_x1000"))
  }

  /** Exact triangle counting + local clustering coefficient (the
    * link-farm / tight-clique signal) via degree-ordered wedge closing
    * (Suri & Vassilvitskii 2011 "node-iterator++"): orient every
    * undirected edge from the lexicographically smaller (degree, id)
    * endpoint to the larger, build wedges at the common LOW vertex, close
    * them against the oriented edge set. Orientation bounds every
    * vertex's oriented out-degree by O(sqrt(m)), so wedge generation --
    * the only superlinear step -- is O(m^1.5) worst case with NO hot-hub
    * blowup (a 10^7-degree hub generates no wedges at all; its edges
    * orient INTO it). Shuffles carry id/degree pairs only.
    *
    * Output per node: degree (undirected, deduped), triangle count, and
    * clustering coefficient in permille = 2t*1000 div (deg*(deg-1)). */
  /** Link prediction (Liben-Nowell & Kleinberg 2003): score non-adjacent
    * two-hop pairs by common-neighbor count and the integer
    * resource-allocation index Σ_z floor(10⁶ / deg z) (Zhou et al. 2009 —
    * the 1/deg form stays integer-exact where Adamic-Adar's 1/ln(deg)
    * would drift by libm). Crawl use: candidate discovery — pages that
    * share many link neighbors but don't yet link are mirror/series
    * candidates.
    *
    * Scale shape: per-node adjacency is hub-capped to the `maxDeg`
    * smallest neighbor ids BEFORE wedge generation, so a degree-D hub
    * emits at most maxDeg² wedge pairs, not D² — the same bound the walk
    * corpus uses. Wedge rows are (a, b, ra) 24-byte triples; scores
    * aggregate map-side; the already-linked filter is one left_anti join
    * against the undirected edge set; the global top-N plans as
    * TakeOrderedAndProject (no full sort). Oracle replays every step —
    * including the cap — in SQL. */
  /** `materialize = false` skips the eager localCheckpoint (and the cache
    * release) so tests can inspect the live physical plan; production
    * callers keep the default, which materializes once and frees both
    * caches. */

  /** Bounded k-smallest typed aggregate: buffer is a sorted ascending
    * list of ≤ k longs, merged map-side — per-task state O(k), the
    * hub-cap replacement for a per-key row_number window (which sorts
    * every hub's full adjacency). Input values are distinct per key
    * here (deduped undirected edges), so the k-smallest set equals the
    * window's rank ≤ k rows exactly. */
  private final class SmallestKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, List[Long], Seq[Long]] {
    override def zero: List[Long] = Nil
    override def reduce(b: List[Long], a: Long): List[Long] = {
      if (b.lengthCompare(k) >= 0 && a >= b.last) b
      else {
        val (pre, post) = b.span(_ < a)
        (pre ::: a :: post).take(k)
      }
    }
    override def merge(b1: List[Long], b2: List[Long]): List[Long] = {
      val out = List.newBuilder[Long]
      var (l, r, n) = (b1, b2, 0)
      while (n < k && (l.nonEmpty || r.nonEmpty)) {
        if (r.isEmpty || (l.nonEmpty && l.head < r.head)) { out += l.head; l = l.tail }
        else { out += r.head; r = r.tail }
        n += 1
      }
      out.result()
    }
    override def finish(b: List[Long]): Seq[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[List[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  def linkPredict(edges: DataFrame, maxDeg: Int = 8, topN: Int = 50,
                  materialize: Boolean = true): DataFrame = {
    // und feeds three consumers (both adj legs + the anti join) and capped
    // feeds both sides of the wedge self-join — persist each once so the
    // plan reads caches instead of replaying the whole lineage 4×
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = und.select(col("a").as("z"), col("b").as("nb"))
      .union(und.select(col("b").as("z"), col("a").as("nb")))
    // full degree AND the maxDeg smallest neighbors in ONE map-side-
    // combined aggregate: the former row_number window sorted every
    // node's full adjacency behind its own Exchange and then joined a
    // separately-aggregated degree table back — two corpus-keyed
    // exchanges and a per-z full sort replaced by one bounded-heap
    // aggregate (O(maxDeg) task state; per-z neighbor values are
    // distinct, so "rank ≤ maxDeg by nb asc" ≡ the maxDeg smallest)
    val smallK = udaf(new SmallestKAgg(maxDeg))
    val capped = adj.groupBy("z")
      .agg(count(lit(1)).as("deg"), smallK(col("nb")).as("nbs"))
      .select(col("z"), explode(col("nbs")).as("nb"), col("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = capped.as("x").join(capped.as("y"),
        col("x.z") === col("y.z") && col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("a"), col("y.nb").as("b"),
        floor(lit(1000000L) / col("x.deg")).as("ra"))
    val scored = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum("ra").as("ra_micro"))
    val ranked = scored.join(und, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_micro").desc, col("cn").desc, col("a"), col("b"))
      .limit(topN)
    if (!materialize) ranked
    else {
      val out = ranked.localCheckpoint(true)
      capped.unpersist(false)
      und.unpersist(false)
      out
    }
  }

  /** Degree assortativity MOMENTS (Newman 2002) over the undirected graph,
    * kept integer-exact: emitting the raw sums (m, Σx, Σxy, Σx²) instead of
    * the final Pearson r avoids the sqrt that would break bit-level
    * oracle equality; cov_num = m·Σxy − Σx·Σy is the sign-carrying
    * numerator (negative = disassortative, the organic-web shape; positive
    * = link-farm-like degree mixing). x and y are symmetric (every edge
    * counted both ways), so Σx = Σy and one variance suffices. One
    * degree join + one all-integer aggregation. */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val sym = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
    val deg = sym.groupBy("x").agg(count(lit(1)).as("d"))
    val pairs = sym
      .join(deg.withColumnRenamed("x", "xx").withColumnRenamed("d", "dx"),
        col("x") === col("xx"))
      .join(deg.withColumnRenamed("x", "yy").withColumnRenamed("d", "dy"),
        col("y") === col("yy"))
      .select(col("dx"), col("dy"))
    pairs.agg(
        count(lit(1)).as("m"),
        sum(col("dx")).as("sum_x"),
        sum(col("dx") * col("dy")).as("sum_xy"),
        sum(col("dx") * col("dx")).as("sum_x2"))
      .select(col("m"), col("sum_x"), col("sum_xy"), col("sum_x2"),
        (col("m") * col("sum_xy") - col("sum_x") * col("sum_x")).as("cov_num"),
        (col("m") * col("sum_x2") - col("sum_x") * col("sum_x")).as("var_num"))
  }

  /** Newman modularity of a GIVEN partition, integer-exact: Q·4m² =
    * Σ_c (4·m·e_c − D_c²) where e_c = in-cluster undirected edges and
    * D_c = cluster degree sum — no division until the final permille
    * readout. The evaluation a crawl-clustering (domain grouping, CC
    * communities) is judged by; partition arrives as (id, cluster). */
  def modularity(edges: DataFrame, partition: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pa = partition.select(col("id").as("a"), col("cluster").as("ca"))
    val pb = partition.select(col("id").as("b"), col("cluster").as("cb"))
    val tagged = und.join(pa, "a").join(pb, "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = tagged.count()
    val eIn = tagged.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
    val degs = tagged.select(col("ca").as("c")).union(tagged.select(col("cb").as("c")))
      .groupBy("c").agg(count(lit(1)).as("d_c"))
    val perCluster = degs.join(eIn, Seq("c"), "left")
      .select(col("c"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
    val out = perCluster
      .agg(sum(lit(4L) * lit(m) * col("e_c") - col("d_c") * col("d_c")).as("q_num"))
      .select(lit(m).as("m"), col("q_num"),
        (lit(4L) * lit(m) * lit(m)).as("q_den"),
        expr(s"q_num * 1000 div (4 * $m * $m)").as("q_permille"))
    val materialized = out.localCheckpoint(true) // materialize before releasing caches
    und.unpersist(false); tagged.unpersist(false)
    materialized
  }

  def triangles(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // reused: degrees, orientation, closing join
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // reused: orientation join + final readout
    val ow = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("v"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(true) // read twice: wedge self-join + closing join
    val o1 = ow.select(col("u"), col("v"), col("dv"))
    val o2 = ow.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val wedges = o1.join(o2, Seq("u"))
      .where(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .select(col("u"), col("v"), col("w"))
    // the closing edge v-w is oriented v->w because (deg,id)(v) < (deg,id)(w)
    val tri = wedges.join(
      ow.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perVertex = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("t"))
    nodes.join(deg, Seq("id"), "left").join(perVertex, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        expr("""CASE WHEN coalesce(deg, 0) >= 2
                THEN coalesce(t, 0) * 2 * 1000 div (deg * (deg - 1))
                ELSE 0 END""").as("clustering_x1000"))
  }

  /** Global clustering summary — the one-row companion to the per-node
    * [[triangles]] table: transitivity = 3·|triangles| / |wedges|
    * (Newman's global coefficient; the per-node triangle counts already
    * sum to 3T, so no new counting pass runs) and the Watts–Strogatz
    * average local coefficient, both floored to exact integer permille.
    * Web graphs score high transitivity inside template clusters and low
    * across hosts — the single number that flags template-farm subgraphs
    * before community detection runs.
    *
    * Scale shape: [[triangles]]' plan plus ONE single-row aggregate.
    * Output: (n_nodes, n_wedges, n_triangles, transitivity_pm,
    * avg_local_x1000). */
  def globalClustering(nodes: DataFrame, edges: DataFrame): DataFrame = {
    triangles(nodes, edges).agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("degree * (degree - 1) div 2")).as("n_wedges"),
      expr("sum(n_triangles) div 3").as("n_triangles"),
      expr("""CASE WHEN sum(degree * (degree - 1) div 2) = 0 THEN 0
              ELSE sum(n_triangles) * 1000 div sum(degree * (degree - 1) div 2)
              END""").as("transitivity_pm"),
      expr("sum(clustering_x1000) div count(1)").as("avg_local_x1000"))
  }

  /** Deterministic random walks (the DeepWalk/node2vec corpus generator,
    * Perozzi et al. KDD 2014): one walker per node, `len` steps; the
    * step choice is hash-derived — idx = md5("walk:start:step:cur") mod
    * outdeg over the SORTED neighbor list — so walks are bit-identical
    * on any partitioning/engine and the oracle replays them. Dangling
    * nodes end their walk early.
    *
    * Scale shape: the adjacency table is built once with a hard `maxDeg`
    * cap (deterministic smallest-dst selection — the hub-bounding
    * analog of the dedup salt caps); each step is ONE join shuffling
    * (start, cur) pairs — 16-byte rows — against it. Steps are a fixed
    * count, so lineage is bounded. Emits (start, step, node) rows. */
  def randomWalks(nodes: DataFrame, edges: DataFrame, len: Int,
                  maxDeg: Int = 64): DataFrame = {
    val adj = edges.groupBy("src")
      .agg(slice(sort_array(array_distinct(collect_list(col("dst")))), 1, maxDeg).as("nb"))
      .localCheckpoint(true)
    var walkers = nodes.select(col("id").as("start"), col("id").as("cur"))
    val steps = Vector.newBuilder[DataFrame]
    steps += walkers.select(col("start"), lit(0L).as("step"), col("cur").as("node"))
    for (s <- 0 until len) {
      walkers = walkers.join(adj, walkers("cur") === adj("src"))
        .select(col("start"),
          element_at(col("nb"),
            (Sampling.md5Mod(concat(lit("walk:"), col("start").cast("string"),
              lit(s":$s:"), col("cur").cast("string")), 1L << 40)
              % size(col("nb")) + 1).cast("int")).as("cur"))
      steps += walkers.select(col("start"), lit((s + 1).toLong).as("step"),
        col("cur").as("node"))
    }
    steps.result().reduce(_ unionAll _)
  }

  /** k-core decomposition for a fixed k (Seidman 1983; the link-farm /
    * dense-community peel used to separate tightly interlinked spam
    * clusters and hub cores from the long tail): repeatedly delete every
    * vertex whose surviving undirected degree is < k until fixpoint. The
    * survivors are exactly the k-core; `core_degree` is each survivor's
    * degree INSIDE the core (≥ k by fixpoint).
    *
    * Peeling is deterministic and round-synchronous, so the DuckDB oracle
    * replays it by unrolling the same number of rounds (post-fixpoint
    * rounds are identities). The loop throws if `maxRounds` doesn't reach
    * fixpoint — matching the clusters operator's convergence contract.
    *
    * Scale shape per round: one partial-aggregated (id, deg) shuffle of
    * 16-byte rows plus two left-semi joins that only ever SHRINK the edge
    * table; each round's survivor set is localCheckpoint-truncated so the
    * loop's lineage stays O(1). Rounds are bounded by the peeling depth
    * (degeneracy ordering length), which for web graphs is tens, not
    * thousands — and the hard `maxRounds` bound keeps the plan finite. */
  def kCore(nodes: DataFrame, edges: DataFrame, k: Int,
            maxRounds: Int = 20): DataFrame = {
    val und0 = edges
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg0 = und0.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    var und = und0
    var nEdges = und.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val alive = deg.where(col("d") >= k).select(col("id"))
      val next = und
        .join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("id").as("b")), Seq("b"), "left_semi")
        // lazy: the count below materializes the checkpoint in-job
        .localCheckpoint(false)
      val n2 = next.count()
      converged = n2 == nEdges
      if (und ne und0) und.unpersist()
      und = next; nEdges = n2; round += 1
    }
    require(converged, s"kCore: no fixpoint after $maxRounds rounds")
    val coreDeg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
    val out = nodes.select(col("id"))
      .join(deg0, Seq("id"), "left")
      .join(coreDeg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        (coalesce(col("core_degree"), lit(0L)) >= k).as("in_kcore"))
    out
  }

  /** Deterministic directed graph with a KNOWN nontrivial SCC structure
    * (the plain affine synthesis of [[synthEdges]] is almost surely one
    * giant SCC — useless for exercising an SCC algorithm). Blocks of 17
    * consecutive ids form directed rings (one SCC each), forward cross
    * edges chain blocks without merging them, a sparse BACK edge at every
    * 7th block (block index ≡ 5 mod 7) merges exactly three consecutive
    * blocks into one SCC, and the tail ids past the last full block are
    * edge-sinks pointing at node 0 — they reach block 0's SCC but nothing
    * reaches them, so they are singleton SCCs whose forward min-label lies
    * OUTSIDE their own component (the case that forces a second
    * forward-backward round). Mirrored verbatim in the DuckDB oracle,
    * which re-derives components independently via transitive closure. */
  def synthSccEdges(nodes: DataFrame, n: Long): DataFrame = {
    val B = 17L
    val nfull = n - n % B
    val id = col("id")
    val base = id - (id % B)
    val full = nodes.where(id < nfull)
    val ring = full.select(id.as("src"), (base + (id % B + 1) % B).as("dst"))
    val chord = full.where(id % 2 === 0)
      .select(id.as("src"), (base + (id % B + 5) % B).as("dst"))
    val cross = full.where(id % 3 === 0 && id + B < nfull)
      .select(id.as("src"), (id + B).as("dst"))
    val back = full
      .where(id % B === 4 && expr(s"(id DIV $B) % 7") === 5 && id - 2 * B >= 0)
      .select(id.as("src"), (id - 2 * B).as("dst"))
    val tail = nodes.where(id >= nfull).select(id.as("src"), lit(0L).as("dst"))
    ring.unionByName(chord).unionByName(cross).unionByName(back).unionByName(tail)
      .where(col("src") =!= col("dst")).distinct()
  }

  /** Full core decomposition — every node's CORENESS (the largest k for
    * which it survives k-core peeling), not just membership at one k:
    * the standard graph-mining centrality for crawl-frontier triage and
    * community-density profiling. Computed by the distributed h-index
    * fixpoint (Montresor, De Pellegrini & Miorandi, 2011; Lü et al.,
    * Nature Comm. 2016): h₀(v) = deg(v); hₜ₊₁(v) = min(hₜ(v), H(hₜ of
    * neighbors)) where H is the h-index — monotonically non-increasing,
    * converges to coreness exactly. Termination by order-independent
    * (count, xor) signature; `maxRounds` throws rather than mislabels.
    *
    * Scale shape: per round one edge-sized (node, neighbor-h) shuffle
    * whose h-index reduces via a per-node descending window (bounded by
    * degree) + a node-sized min join; no neighborhood materialization,
    * lineage truncated per round. Real graphs converge in a handful of
    * rounds (the fixture converges ≤ 8 — the oracle unrolls 10, no-op
    * past the fixpoint since the iteration is stationary there). */
  def coreness(nodes: DataFrame, edges: DataFrame,
               maxRounds: Int = 32): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("h"))
    val h0 = nodes.select(col("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("h"))
      .localCheckpoint(true)
    var h = h0
    var prevSig = (-1L, -1L)
    var round = 0
    var stable = false
    while (!stable) {
      round += 1
      require(round <= maxRounds, s"coreness: no fixpoint in $maxRounds rounds")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("hv").desc, col("dst").asc)
      val hIdx = und
        .join(h.select(col("id").as("dst"), col("h").as("hv")), Seq("dst"))
        .select(col("src"), col("hv"), row_number().over(w).as("rn"))
        .groupBy(col("src"))
        .agg(max(when(col("hv") >= col("rn"), col("rn")).otherwise(0L)).as("hi"))
      val next = h.join(hIdx.select(col("src").as("id"), col("hi")), Seq("id"), "left")
        .select(col("id"),
          least(col("h"), coalesce(col("hi"), lit(0L))).as("h"))
        // lazy: the signature aggregate below is the first action and
        // materializes the checkpoint in the same job (unpersist of the
        // previous iterate happens only after that action)
        .localCheckpoint(false)
      val s = next.select(xxhash64(col("id"), col("h")).as("hh"))
        .agg(count(lit(1)), expr("bit_xor(hh)")).collect()(0)
      val nextSig = (s.getLong(0), if (s.isNullAt(1)) 0L else s.getLong(1))
      if (h ne h0) h.unpersist(false)
      h = next
      stable = nextSig == prevSig
      prevSig = nextSig
    }
    und.unpersist(false)
    h.select(col("id"), col("h").as("coreness"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the LPA
    * community-detection baseline), made DETERMINISTIC: labels start as
    * node ids; each round every node adopts the most frequent label among
    * its undirected neighbors, ties broken by SMALLEST label (classic LPA
    * breaks ties randomly — that nondeterminism is exactly what a
    * retry-safe distributed job cannot have); isolated nodes keep their
    * own label. A FIXED round count (not a convergence loop) bounds
    * lineage and lets the oracle unroll the same rounds.
    *
    * Scale shape: the symmetrized edge list is computed once and each
    * round shuffles (node, label) pairs — 16-byte rows with map-side
    * combine on (node, label) — plus one node-sized argmin aggregate
    * (lexicographic min of (−count, label): min over structs IS the
    * deterministic tie-break, no window, no sort). Lineage truncated per
    * round. Output: (id, community) for every node. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       iters: Int = 3): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true) // reused every round
    val labels0 = nodes.select(col("id"), col("id").as("label"))
    var labels = labels0
    for (_ <- 1 to iters) {
      val counts = und
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("c"))
      val best = counts
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("negc"), col("label").as("l"))).as("b"))
        .select(col("src").as("id"), col("b.l").as("label"))
      val next = nodes.select(col("id"))
        .join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("label"))
        // lazy for the same reason as hopDistance: one consumer per
        // round, no per-round action — all rounds compute in the final
        // job (the unpersist below is the Dataset-level no-op on
        // checkpoint blocks, so nothing is dropped before that job)
        .localCheckpoint(false)
      if (labels ne labels0) labels.unpersist(false)
      labels = next
    }
    und.unpersist(false)
    labels.select(col("id"), col("label").as("community"))
  }

  /** Strongly connected components over a directed edge list (`src`,`dst`)
    * → (`id`, `scc_id` = component-minimum id), every node labeled.
    * Forward-backward coloring (the FW-BW-MIN family — Slota et al.,
    * IPDPS'14; the standard distributed SCC shape):
    *
    *  1. forward min-label propagation to fixpoint over the REMAINING
    *     subgraph: lab(u) = min id reachable from u (so u reaches lab(u));
    *  2. roots are nodes with lab(r) = r; a forward BFS from each root,
    *     restricted to its own label class, collects exactly SCC(r)
    *     (any intermediate node w on a path r→u with u ∈ SCC(r) satisfies
    *     r→w and w→u→r, hence lab(w) = r — the restriction loses nothing);
    *  3. assigned nodes leave; unassigned nodes (they reach a smaller-id
    *     SCC they don't belong to) repeat on the shrunken subgraph.
    *
    * Every label class assigns at least its root per round, so the loop
    * terminates; each inner step shuffles only 16-byte (id,label) rows —
    * no neighborhood materialization, no collect — and every iterate is
    * localCheckpoint'd so join lineage never stacks. On web-scale graphs
    * the propagation rounds are bounded by the reachability diameter,
    * which real link graphs keep in the tens. Convergence is detected by
    * an order-independent signature (count + xor of row hashes); `maxRounds`
    * / `maxProp` are runaway bounds that throw rather than mislabel. */
  /** Active-subgraph size (node AND edge count) under which [[scc]] /
    * [[reachFrom]] finish on the driver instead of running O(diameter)
    * Spark rounds. Same principle as AQE's broadcast threshold: the
    * distributed algorithm is the 10^12-node path, but paying dozens of
    * per-round job latencies on a sub-cap residual graph is pure overhead —
    * real distributed SCC implementations (FW-BW-MIN, GraphX's Pregel
    * variants) all short-circuit small remainders. The gate is measured
    * (a count on the checkpointed edge table), lossless (identical labels,
    * asserted by Wave74Spec's cap=0 equality test), and 2M rows ≈ 32 MB of
    * driver arrays — far under any sane driver heap. */
  private val LocalGraphCap = 2000000L

  /** Driver-local SCC labels (component-minimum id, aligned with `nodeIds`)
    * via iterative Tarjan over a CSR adjacency — the sub-cap kernel behind
    * [[scc]]. Edges with either endpoint outside `nodeIds` are ignored
    * (mirrors the distributed path's semi-joins onto the remaining set). */
  private[ops] def sccLocalKernel(nodeIds: Array[Long],
                                  srcIds: Array[Long],
                                  dstIds: Array[Long]): Array[Long] = {
    val n = nodeIds.length
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) { idx.put(nodeIds(i), i); i += 1 }
    val m0 = srcIds.length
    val sArr = new Array[Int](m0); val dArr = new Array[Int](m0)
    var m = 0
    i = 0
    while (i < m0) {
      val si = idx.get(srcIds(i)); val di = idx.get(dstIds(i))
      if (si != null && di != null) { sArr(m) = si; dArr(m) = di; m += 1 }
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0; while (i < m) { off(sArr(i) + 1) += 1; i += 1 }
    i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0; while (i < m) { adj(fill(sArr(i))) = dArr(i); fill(sArr(i)) += 1; i += 1 }
    val UNVISITED = -1
    val num = new Array[Int](n); java.util.Arrays.fill(num, UNVISITED)
    val low = new Array[Int](n)
    val comp = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val sccStack = new Array[Int](n); var sccTop = 0
    val callV = new Array[Int](n); val callE = new Array[Int](n); var callTop = 0
    var counter = 0
    var compCount = 0
    var root = 0
    while (root < n) {
      if (num(root) == UNVISITED) {
        num(root) = counter; low(root) = counter; counter += 1
        sccStack(sccTop) = root; sccTop += 1; onStk(root) = true
        callV(0) = root; callE(0) = off(root); callTop = 1
        while (callTop > 0) {
          val v = callV(callTop - 1)
          val e = callE(callTop - 1)
          if (e < off(v + 1)) {
            callE(callTop - 1) = e + 1
            val w = adj(e)
            if (num(w) == UNVISITED) {
              num(w) = counter; low(w) = counter; counter += 1
              sccStack(sccTop) = w; sccTop += 1; onStk(w) = true
              callV(callTop) = w; callE(callTop) = off(w); callTop += 1
            } else if (onStk(w) && num(w) < low(v)) low(v) = num(w)
          } else {
            callTop -= 1
            if (callTop > 0 && low(v) < low(callV(callTop - 1)))
              low(callV(callTop - 1)) = low(v)
            if (low(v) == num(v)) {
              var go = true
              while (go) {
                sccTop -= 1
                val w = sccStack(sccTop)
                onStk(w) = false
                comp(w) = compCount
                go = w != v
              }
              compCount += 1
            }
          }
        }
      }
      root += 1
    }
    val minId = new Array[Long](compCount)
    java.util.Arrays.fill(minId, Long.MaxValue)
    i = 0; while (i < n) { val c = comp(i); if (nodeIds(i) < minId(c)) minId(c) = nodeIds(i); i += 1 }
    val out = new Array[Long](n)
    i = 0; while (i < n) { out(i) = minId(comp(i)); i += 1 }
    out
  }

  /** Driver-local forward BFS (seeds inclusive) — the sub-cap kernel behind
    * [[reachFrom]]. Node universe = seeds ∪ edge endpoints. */
  private def reachLocalKernel(seeds: Array[Long],
                               srcIds: Array[Long],
                               dstIds: Array[Long]): Array[Long] = {
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def intern(id: Long): Int = {
      val got = idx.get(id)
      if (got != null) got.intValue()
      else { val k = ids.length; idx.put(id, k); ids += id; k }
    }
    val sArr = new Array[Int](srcIds.length)
    val dArr = new Array[Int](srcIds.length)
    var i = 0
    while (i < srcIds.length) { sArr(i) = intern(srcIds(i)); dArr(i) = intern(dstIds(i)); i += 1 }
    val seedIdx = seeds.map(intern)
    val n = ids.length
    val off = new Array[Int](n + 1)
    i = 0; while (i < sArr.length) { off(sArr(i) + 1) += 1; i += 1 }
    i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](sArr.length)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0; while (i < sArr.length) { adj(fill(sArr(i))) = dArr(i); fill(sArr(i)) += 1; i += 1 }
    val seen = new Array[Boolean](n)
    val queue = new Array[Int](n); var qh = 0; var qt = 0
    seedIdx.foreach { s => if (!seen(s)) { seen(s) = true; queue(qt) = s; qt += 1 } }
    while (qh < qt) {
      val v = queue(qh); qh += 1
      var e = off(v)
      while (e < off(v + 1)) {
        val w = adj(e)
        if (!seen(w)) { seen(w) = true; queue(qt) = w; qt += 1 }
        e += 1
      }
    }
    val out = new Array[Long](qt)
    i = 0; while (i < qt) { out(i) = ids(queue(i)); i += 1 }
    out
  }

  def scc(nodes: DataFrame, edges: DataFrame,
          maxRounds: Int = 32, maxProp: Int = 96,
          localCap: Long = LocalGraphCap): DataFrame = {
    val spark = nodes.sparkSession
    if (localCap > 0 && edges.count() <= localCap && nodes.count() <= localCap) {
      val nodeIds = nodes.select(col("id")).collect().map(_.getLong(0))
      val eRows = edges.select(col("src"), col("dst")).collect()
      val labels = sccLocalKernel(nodeIds,
        eRows.map(_.getLong(0)), eRows.map(_.getLong(1)))
      return spark.createDataFrame(nodeIds.zip(labels).toIndexedSeq)
        .toDF("id", "scc_id")
    }
    def sig(df: DataFrame, c1: String, c2: String): (Long, Long) = {
      val r = df.select(xxhash64(col(c1), col(c2)).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var remaining = nodes.select(col("id")).localCheckpoint(true)
    var out: DataFrame = null
    var round = 0
    var remN = remaining.count()
    while (remN > 0 && round < maxRounds) {
      val e = edges
        .join(remaining.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")).localCheckpoint(true)
      // (1) forward min-label to fixpoint
      var lab = remaining.select(col("id"), col("id").as("lab")).localCheckpoint(true)
      var labSig = sig(lab, "id", "lab")
      var fixed = false
      var p = 0
      while (!fixed && p < maxProp) {
        val nbrMin = e.join(lab.select(col("id").as("dst"), col("lab")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("lab")).as("nmin"))
          .withColumnRenamed("src", "id")
        val next = lab.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab"))
          .localCheckpoint(true)
        val s2 = sig(next, "id", "lab")
        fixed = s2 == labSig
        lab = next; labSig = s2; p += 1
      }
      require(fixed, s"Graph.scc: min-label propagation hit maxProp=$maxProp")
      // (2) forward BFS from roots inside their own label class
      var reached = lab.where(col("id") === col("lab"))
        .select(col("id"), col("lab").as("root")).localCheckpoint(true)
      var frontier = reached
      var fN = frontier.count()
      var b = 0
      while (fN > 0 && b < maxProp) {
        val step = e.join(frontier.select(col("id").as("src"), col("root")), Seq("src"))
          .select(col("dst").as("id"), col("root"))
          .join(lab, Seq("id"))
          .where(col("lab") === col("root"))
          .select(col("id"), col("root"))
          .distinct()
          .join(reached, Seq("id"), "left_anti")
          .localCheckpoint(true)
        fN = step.count()
        if (fN > 0) reached = reached.unionByName(step).localCheckpoint(true)
        frontier = step
        b += 1
      }
      require(fN == 0, s"Graph.scc: BFS hit maxProp=$maxProp")
      out = if (out == null) reached else out.unionByName(reached)
      remaining = remaining.join(reached.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
      remN = remaining.count()
      round += 1
    }
    require(remN == 0, s"Graph.scc: $remN nodes unassigned after $maxRounds rounds")
    out.select(col("id"), col("root").as("scc_id"))
  }

  /** Forward BFS to fixpoint: all nodes reachable from `seed` (inclusive).
    * Frontier rows are single longs; O(diameter) rounds, each one keyed
    * join + distinct + anti-join — the same bounded-lineage discipline as
    * [[scc]] (localCheckpoint per round). */
  private def reachFrom(seed: DataFrame, edges: DataFrame,
                        maxProp: Int = 96,
                        localCap: Long = LocalGraphCap): DataFrame = {
    if (localCap > 0 && edges.count() <= localCap) {
      val spark = seed.sparkSession
      val seeds = seed.select(col("id")).collect().map(_.getLong(0))
      val eRows = edges.select(col("src"), col("dst")).collect()
      val reached = reachLocalKernel(seeds,
        eRows.map(_.getLong(0)), eRows.map(_.getLong(1)))
      return spark.createDataFrame(reached.map(Tuple1(_)).toIndexedSeq)
        .toDF("id")
    }
    var reached = seed.select(col("id")).distinct().localCheckpoint(true)
    var frontier = reached
    var fN = frontier.count()
    var b = 0
    while (fN > 0 && b < maxProp) {
      val step = edges.join(frontier.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(reached, Seq("id"), "left_anti").localCheckpoint(true)
      fN = step.count()
      if (fN > 0) reached = reached.unionByName(step).localCheckpoint(true)
      frontier = step
      b += 1
    }
    require(fN == 0, s"Graph.reachFrom: BFS hit maxProp=$maxProp")
    reached
  }

  /** Web bow-tie decomposition (Broder et al., "Graph structure in the
    * web", WWW 2000): the canonical macro-map of a crawl graph. The
    * largest SCC is the CORE; IN reaches it, OUT is reached from it;
    * among the rest, TUBEs run IN→OUT avoiding the core, TENDRIL_IN hangs
    * forward off IN, TENDRIL_OUT feeds backward into OUT, and DISC is
    * disconnected from all of it. Crawl planners read the map directly:
    * seeds in IN are cheap reach, OUT-heavy graphs signal link farms.
    *
    * Shape: one [[scc]] run, then four BFS passes ([[reachFrom]] over the
    * forward and reversed edge tables) whose frontiers are single longs;
    * the only driver-side state is the core SCC id (one row). The final
    * classification is five id-keyed left joins of node-sized boolean
    * tables — no payloads, no cartesian products, O(diameter) rounds. */
  def bowtie(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // materialize the edge table ONCE: every BFS round joins it, and an
    // unmaterialized wide plan (e.g. a many-way union of synthesis rules)
    // would re-plan + re-codegen per round — at any scale the edge list
    // is the thing you checkpoint first
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val comp = scc(nodes, e).localCheckpoint(true)
    val coreId = comp.groupBy(col("scc_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc_id").asc).limit(1)
      .collect()(0).getLong(0)
    val core = comp.where(col("scc_id") === coreId).select(col("id"))
      .localCheckpoint(true)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .localCheckpoint(true)
    // the forward and backward BFS pairs are independent of each other —
    // run each pair on concurrent driver threads (guide §2.6); each
    // reachFrom is unchanged internally
    val Seq(fwd, bwd) = Overlap.all("bowtie")(() => reachFrom(core, e), () => reachFrom(core, rev))
    val Seq(inSet, outSet) = Overlap.all("bowtie")(
      () => bwd.join(core, Seq("id"), "left_anti").localCheckpoint(true),
      () => fwd.join(core, Seq("id"), "left_anti").localCheckpoint(true))
    val Seq(f2, b2) = Overlap.all("bowtie")(() => reachFrom(inSet, e), () => reachFrom(outSet, rev))
    def flag(df: DataFrame, name: String): DataFrame =
      df.select(col("id"), lit(true).as(name))
    nodes.select(col("id"))
      .join(flag(core, "is_core"), Seq("id"), "left")
      .join(flag(inSet, "is_in"), Seq("id"), "left")
      .join(flag(outSet, "is_out"), Seq("id"), "left")
      .join(flag(f2, "is_f2"), Seq("id"), "left")
      .join(flag(b2, "is_b2"), Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("is_core"), lit(false)), "core")
          .when(coalesce(col("is_in"), lit(false)), "in")
          .when(coalesce(col("is_out"), lit(false)), "out")
          .when(coalesce(col("is_f2"), lit(false)) &&
            coalesce(col("is_b2"), lit(false)), "tube")
          .when(coalesce(col("is_f2"), lit(false)), "tendril_in")
          .when(coalesce(col("is_b2"), lit(false)), "tendril_out")
          .otherwise("disc").as("cls"))
  }

  /** Deterministic 100-node bow-tie fixture graph over node ids 0..99:
    * CORE = 0..29 (cycle + ×7 chords), IN = 30..44 (chain into the core),
    * OUT = 50..69 (chain out of it), TENDRIL_IN = 70..74 (hangs off IN
    * node 35), TENDRIL_OUT = 75..79 (feeds OUT node 55), TUBE = 80..84
    * (IN node 40 → OUT node 60 avoiding the core), DISC = a separate
    * 15-cycle 85..99 plus isolated 45..49. Every rule is arithmetic over
    * the id, so the DuckDB oracle rebuilds the identical edge table. */
  def bowtieEdges(nodes: DataFrame): DataFrame = {
    val id = col("id")
    def chain(lo: Long, hi: Long): DataFrame =
      nodes.where(id.between(lo, hi)).select(id.as("src"), (id + 1L).as("dst"))
    def one(from: Long, to: Long): DataFrame =
      nodes.where(id === from).select(id.as("src"), lit(to).as("dst"))
    val core = nodes.where(id < 30)
    Seq(
      core.select(id.as("src"), ((id + 1L) % 30L).as("dst")),
      core.select(id.as("src"), ((id * 7L) % 30L).as("dst"))
        .where(col("src") =!= col("dst")),
      chain(30, 43), one(44, 0),                    // IN → core
      one(29, 50), chain(50, 68),                   // core → OUT
      one(35, 70), chain(70, 73),                   // tendril off IN
      chain(75, 78), one(79, 55),                   // tendril into OUT
      one(40, 80), chain(80, 83), one(84, 60),      // tube IN → OUT
      nodes.where(id.between(85, 99))
        .select(id.as("src"), (lit(85L) + ((id - 85L + 1L) % 15L)).as("dst")))
      .reduce(_ unionByName _)
  }
}

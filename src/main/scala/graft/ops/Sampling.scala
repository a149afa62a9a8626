package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the mixture-control step of a training
  * pipeline (per-source rates: keep all of wiki, 10% of web, …).
  *
  * Hash-threshold selection (`md5(salt:doc_id) mod 1000 < rate(source)`)
  * instead of rank-per-stratum: ZERO shuffle — a pure codegen'd filter on
  * the scan, trivially reproducible across reruns and engines, and immune
  * to stratum skew (a rank window would sort every hot stratum). The cost
  * at 10^12 rows is one narrow pass; changing the mix re-runs only the
  * filter. */
object Sampling {

  /** Little-endian uint64 of the first 8 md5 bytes, mod 1000 — exactly
    * DuckDB's `md5_number_upper(s) % 1000`, built from codegen'd builtins:
    * the hex pairs are reversed into the little-endian hex string, conv'd
    * base 16→10 (unsigned), compared in decimal (2^64 needs 20 digits). */
  def md5Bucket(s: Column): Column = md5Mod(s, 1000L).cast("int")

  /** Generalized form: little-endian uint64 of the first 8 md5 bytes mod
    * `m` — exactly DuckDB's `md5_number_upper(s) % m` — as a long.
    * Computed by the codegen'd [[graft.functions.Md5ModExpr]] directly
    * from digest bytes (Long.remainderUnsigned); the former
    * hex-substring/conv/DECIMAL(20,0) pipeline produced the identical
    * value (Md5ModSpec pins them against each other) but paid hex
    * formatting, 8 substring+concat nodes and a decimal parse per call —
    * this column sits under the draw generators that evaluate it
    * millions of times per query (guide step 4). */
  def md5Mod(s: Column, m: Long): Column = graft.functions.NativeColumns.md5Mod(s, m)

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a weighted
    * WITHOUT-replacement sample of k documents with unbiased subset-sum
    * estimators — the principled way to downsample a corpus when weights
    * (here document length) vary by orders of magnitude and a fixed-rate
    * hash filter would either drown in boilerplate or miss the heavy
    * tail. Priority q_i = w_i * 2^20 / (h_i + 1) floor-divided in int64
    * (h_i a 20-bit deterministic hash — the fixed-precision form of
    * w_i/u_i); the k highest priorities are the sample and the (k+1)-th
    * is the threshold τ; est_weight = max(w_i, τ) is the DLT unbiased
    * estimator of each sampled row's contribution to any subset sum.
    *
    * Scale shape: the scoring is a pure codegen'd projection on the scan;
    * the top-(k+1) is TakeOrderedAndProject (per-partition bounded heaps,
    * k+1 rows to the driver-side merge — never a full sort); the
    * threshold re-attaches as a 1-row broadcast. The only window runs
    * over the k+1 survivors. Requires corpus size > k. */
  def prioritySample(docs: DataFrame, k: Int): DataFrame = {
    val M = 1048576L // 2^20 hash domain — keeps w*M far inside int64
    val scored = docs
      .select(col("doc_id"), col("n_chars").cast("long").as("weight"))
      .withColumn("h", md5Mod(concat(lit("prio:"), col("doc_id").cast("string")), M))
      .withColumn("priority", expr(s"weight * CAST($M AS BIGINT) div (h + 1)"))
    val topk1 = scored
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k + 1)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("priority").desc, col("doc_id"))))
    val thr = topk1.where(col("rn") === k + 1).select(col("priority").as("threshold"))
    topk1.where(col("rn") <= k)
      .crossJoin(broadcast(thr))
      .select(col("doc_id"), col("weight"), col("priority"), col("threshold"),
        greatest(col("weight"), col("threshold")).as("est_weight"))
  }

  /** Keep each document iff its salted hash bucket falls under its
    * stratum's per-mille rate. `rates` maps stratum → permille (0–1000);
    * absent strata use `defaultPermille`. The rate map ships as a literal
    * inside the projection — no join, no shuffle, no UDF. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultPermille: Int, stratum: String = "source",
                       salt: String = "sample"): DataFrame = {
    val bucket = md5Bucket(concat(lit(s"$salt:"), col("doc_id").cast("string")))
    val rate = coalesce(element_at(typedLit(rates), col(stratum)),
      lit(defaultPermille))
    docs.select(col("doc_id"), col(stratum), bucket.as("bucket"))
      .where(col("bucket") < rate)
  }

  /** Bounded min-k buffer of (hash, id) pairs, ascending by (h, id) —
    * the quota-sample sibling of the similarity top-k heap: associative,
    * commutative, O(k) state, so map-side partial aggregation keeps the
    * shuffle at k pairs per (task, stratum). */
  private final class MinKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long), List[(Long, Long)], Seq[(Long, Long)]] {
    @inline private def before(x: (Long, Long), y: (Long, Long)): Boolean =
      x._1 < y._1 || (x._1 == y._1 && x._2 < y._2)
    override def zero: List[(Long, Long)] = Nil
    override def reduce(b: List[(Long, Long)], a: (Long, Long)): List[(Long, Long)] = {
      if (b.lengthCompare(k) >= 0 && !before(a, b.last)) b
      else {
        val (pre, post) = b.span(before(_, a))
        (pre ::: a :: post).take(k)
      }
    }
    override def merge(b1: List[(Long, Long)], b2: List[(Long, Long)]): List[(Long, Long)] = {
      val out = List.newBuilder[(Long, Long)]
      var (l, r, n) = (b1, b2, 0)
      while (n < k && (l.nonEmpty || r.nonEmpty)) {
        if (r.isEmpty || (l.nonEmpty && before(l.head, r.head))) { out += l.head; l = l.tail }
        else { out += r.head; r = r.tail }
        n += 1
      }
      out.result()
    }
    override def finish(b: List[(Long, Long)]): Seq[(Long, Long)] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[List[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Long, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
  }

  /** Exact-k quota sample per stratum: the k items with the SMALLEST
    * deterministic hash in each stratum (ties broken by id). Equivalent
    * to `row_number() OVER (PARTITION BY stratum ORDER BY hash, id) <= k`
    * — which is exactly what the oracle runs — but the plan is an
    * ObjectHashAggregate over O(k) bounded buffers, not a Window: at
    * 10^12 rows a per-stratum Window pays a full shuffle + sort of every
    * row, while this shuffles k 16-byte pairs per (task, stratum). The
    * hash rule also makes quotas STABLE under corpus growth: a document
    * leaves the sample only when a smaller-hash newcomer displaces it
    * (bounded churn), where a random re-draw replaces everything.
    *
    * Complements [[stratifiedSample]] (rate-based thinning): rates keep
    * proportions, quotas flatten them (the "equal slices for eval"
    * shape). Input: (stratum, item). Output one row per kept item with
    * its 1-based rank. */
  def quotaSample(docs: DataFrame, k: Int): DataFrame = {
    val mink = udaf(new MinKAgg(k))
    docs
      .select(col("stratum"), col("item").cast("long").as("item"),
        md5Mod(concat(lit("strat:"), col("item").cast("string")), Sketches.KmvDomain).as("h"))
      .groupBy("stratum")
      .agg(mink(col("h"), col("item")).as("kept"))
      .select(col("stratum"), posexplode(col("kept")).as(Seq("pos", "hit")))
      .select(col("stratum"), col("hit._2").as("item"), col("hit._1").as("h"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Leakage-safe train/val/test split: the split key is the REGISTERED
    * DOMAIN hash, not the document hash, so every page of a site lands in
    * the same split — near-duplicate pages within a site (boilerplate,
    * pagination, mirrors) can never straddle train and eval, the classic
    * contamination channel a per-document split leaves open. 90/5/5 by
    * `md5(domain) % 100`; deterministic, so re-runs and incremental
    * snapshots assign identically.
    *
    * The assignment itself is one codegen'd projection (zero shuffle at
    * 10^12 rows — the rollup here is just the audit view). Output:
    * (split, n_docs, n_domains) — and because the key is the domain,
    * Σ n_domains over splits equals the corpus domain count exactly;
    * a per-doc split would double-count. */
  def splitHoldout(normalized: DataFrame): DataFrame = {
    val b = md5Mod(concat(lit("split:"), col("domain")), 100L)
    normalized
      .select(col("doc_id"), col("domain"),
        when(b < 90, "train").when(b < 95, "val").otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("domain")).as("n_domains"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — Data Selection
    * with Importance Resampling, public method): score every source
    * document by how target-like its hashed n-gram profile is,
    * `w(doc) = Σ_grams log p_target(bucket) / p_source(bucket)`,
    * with unigram+bigram features hashed into `buckets` buckets and
    * Laplace-smoothed bucket distributions. Docs on the
    * `doc_id % targetModulus == 0` residue form the target set (the same
    * benchmark residue text_decontaminate uses).
    *
    * Scale shape: gram explosion is map-local; the bucket histograms are
    * two `buckets`-row aggregates (map-side combined — the shuffle is
    * O(tasks × buckets), not O(corpus)); the 64-row log-ratio table
    * BROADCAST-joins back onto the gram stream; per-doc scoring is one
    * doc-keyed aggregation. No driver collect, no all-pairs anything.
    * The per-bucket log-ratio is floored at 1e-6 ONCE (64 values), so
    * per-doc scores are exact integer sums the oracle replays. */
  def dsirWeights(docs: DataFrame, buckets: Int = 64,
                  targetModulus: Long = 25): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val uni = toks.select(col("doc_id"), explode(col("t")).as("g"))
      .where(col("g") =!= "")
    val bi = toks.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")).as("g"))
    // ONE pass over the expensive gram stream (split+md5 per gram): the
    // per-doc bucket histogram is ≤ `buckets` rows per document — every
    // downstream rollup (source/target histograms, scoring) runs on it,
    // never re-deriving grams. This is also the 100-TB shape: docs×64
    // rows ≪ gram occurrences.
    val perDoc = uni.unionByName(bi)
      .withColumn("b", md5Mod(col("g"), buckets))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val cs = perDoc.groupBy("b").agg(sum(col("cnt")).as("cs"))
    val ct = perDoc.where(pmod(col("doc_id"), lit(targetModulus)) === 0)
      .groupBy("b").agg(sum(col("cnt")).as("ct"))
    val totals = cs.agg(sum(col("cs")).as("ts"))
      .crossJoin(ct.agg(sum(col("ct")).as("tt")))
    val lr = cs.join(broadcast(ct), Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"), expr(
        s"""CAST(FLOOR(LN(((CAST(ct AS DOUBLE) + 1.0D) / (CAST(tt AS DOUBLE) + $buckets.0D))
            | / ((CAST(cs AS DOUBLE) + 1.0D) / (CAST(ts AS DOUBLE) + $buckets.0D))) * 1e6) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("lr_x1e6"))
    perDoc.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
           sum(col("cnt") * col("lr_x1e6")).as("dsir_x1e6"))
  }

  /** Deterministic global training-order shuffle: every epoch-level data
    * loader needs documents in a pseudorandom order that is REPRODUCIBLE
    * (resume mid-epoch, re-materialize a shard, audit what example N was)
    * — `orderBy(rand())` is none of those. Key = md5(seed:doc_id); the
    * first `hexDigits` nibbles of the key pick the shard (16^hexDigits
    * shards), and the position within the shard is the rank by (key,
    * doc_id). Because the shard is a PREFIX of the sort key, reading
    * shards in order replays the exact global md5 order — but no global
    * sort ever runs.
    *
    * Scale shape: one hash-partition exchange on shard + a per-shard
    * local sort (Spark sorts each shard's partitions independently); at
    * 10^12 docs set hexDigits so one shard ≈ one output file (4 nibbles =
    * 65k shards ≈ 15M docs each). The nibble lookup is `instr` on the
    * hex alphabet — portable to any engine with md5 + instr, so the
    * assignment is recomputable outside Spark. */
  def corpusShuffle(docs: DataFrame, seed: String = "shuf1",
                    hexDigits: Int = 1): DataFrame = {
    require(hexDigits >= 1 && hexDigits <= 8, "hexDigits in [1,8]")
    val keyed = docs.select(col("doc_id"),
      md5(concat(lit(seed + ":"), col("doc_id").cast("string"))).as("k"))
    val shard = (1 to hexDigits).map(i =>
        (expr(s"instr('0123456789abcdef', substring(k, $i, 1))") - 1)
          .cast("long") * math.pow(16, hexDigits - i).toLong)
      .reduce(_ + _)
    keyed.select(col("doc_id"), shard.as("shard"), col("k"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("k", "doc_id")).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Deterministic bootstrap confidence interval for the corpus mean
    * token count: `nReps` with-replacement resamples, each draw routed by
    * the md5 hash `boot:<rep>:<i> mod n` (the [[md5Mod]] construction —
    * DuckDB regenerates every draw), per-replica mean in exact milli, CI
    * bounds read off the sorted replica means at ranks nReps/40,
    * nReps/2, nReps−nReps/40 (2.5/50/97.5% for nReps=200). One summary
    * row out.
    *
    * Scale shape: the corpus contributes ONE token-count projection; the
    * draw table is ids-only (two longs × nReps·n) and joins on the dense
    * doc_id key — no payload moves. Bootstrap is an eval-stage audit:
    * point it at an eval-sized stratum (the caller filters), not the raw
    * 10^12-row table; the draw inflation is nReps× the stratum, by
    * design. */
  def bootstrapCI(docs: DataFrame, nReps: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(col("doc_id"),
      TextStats.tokenCountCol(col("text")).as("tok"))
    val n = toks.count()
    val draws = spark.range(nReps).select(col("id").as("rep"))
      .crossJoin(spark.range(n).select(col("id").as("i")))
      .select(col("rep"), md5Mod(
        concat(lit("boot:"), col("rep").cast("string"), lit(":"),
          col("i").cast("string")), n).as("doc_id"))
    val reps = draws.join(toks, Seq("doc_id"))
      .groupBy("rep")
      .agg(sum(col("tok")).as("tok_sum"), count(lit(1)).as("n_draws"))
      .select(col("rep"),
        expr("tok_sum * 1000 div n_draws").as("mean_milli"))
    val ranked = reps.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("mean_milli").asc, col("rep").asc)))
    val lo = nReps / 40; val mid = nReps / 2; val hi = nReps - nReps / 40
    ranked.agg(
      lit(n).as("n_docs"), lit(nReps.toLong).as("n_reps"),
      sum(when(col("rk") === lo, col("mean_milli"))).as("ci_lo_milli"),
      sum(when(col("rk") === mid, col("mean_milli"))).as("ci_med_milli"),
      sum(when(col("rk") === hi, col("mean_milli"))).as("ci_hi_milli"))
  }
}

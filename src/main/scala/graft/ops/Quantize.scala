package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NativeColumns

/** Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the
  * embedding-compression step every planet-scale vector store ships:
  * a D-dim vector becomes m small codes (here 4 × 4 bits), a 128×
  * compression that makes a 10^12-row embedding table fit a serving
  * tier, with asymmetric distances computed against the codebook.
  *
  * This is the ENCODE step with a FIXED published codebook (fitting one
  * is a per-subspace k-means — the IVF op here is the same fit shape;
  * serving pipelines ship the codebook as an artifact). Everything is
  * integer-exact: embedding components and centroid values both live in
  * milli-units (floor(x·1000) int64), so squared-L2 distances are
  * integer sums and the encoding is bit-reproducible on any engine or
  * partitioning — the same determinism discipline as integer PageRank /
  * BM25 here. The (dist, code) argmin packs into one int64
  * (dist·ks + j): min over longs IS lexicographic (dist, then lowest
  * code) — deterministic ties.
  *
  * Scale shape: one narrow per-row projection of higher-order built-ins
  * over the embedding array — zero UDFs, zero shuffle; the codebook is a
  * closed-form literal inside the expression (a fitted one would
  * broadcast). Output explodes to (vec_id, sub, code, err) rows — the
  * layout a code-table sink or an ADC scorer consumes.
  */
object Quantize {

  /** Codebook formula: cval(j, t) = ((j·31 + t·17) mod 2001) − 1000 for
    * centroid j at GLOBAL dim t — spans the same milli-unit range as
    * unit-norm embedding components. Mirrored verbatim in the oracle.
    *
    * The argmin runs in the codegen'd [[graft.functions.VecFns.pqEncode]]
    * kernel (one primitive loop per row) instead of the former nested
    * `transform`/`aggregate` HOFs, which are CodegenFallback and paid
    * ~1024 interpreted lambda steps per row — identical integer math,
    * identical packed (dist, code) argmin, two orders of magnitude less
    * per-row cost (guide step 4). */
  def pqEncode(embeddings: DataFrame, dim: Int = 64, m: Int = 4,
               ks: Int = 16): DataFrame = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    require(ks == 16, "ks fixed at 16: the packed argmin decodes by >> 4")
    embeddings.select(col("vec_id"),
      explode(NativeColumns.vecPqEncode(col("embedding"), dim, m, ks)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"),
        col("e.code").as("code"), col("e.err").as("err"))
  }

  /** Codes array column (m entries) for an embedding column — the
    * serving-table layout. Same argmin as [[pqEncode]], same codegen'd
    * kernel. */
  private def codesCol(emb: Column, dim: Int, m: Int, ks: Int): Column =
    NativeColumns.vecPqCodes(emb, dim, m, ks)

  /** Codes as one array<long> per vector (the serving-table layout: m
    * codes per row instead of m rows). Same argmin as [[pqEncode]]. */
  def pqCodes(embeddings: DataFrame, dim: Int = 64, m: Int = 4,
              ks: Int = 16): DataFrame = {
    require(dim % m == 0 && ks == 16)
    embeddings.select(col("vec_id"),
      codesCol(col("embedding"), dim, m, ks).as("codes"))
  }

  /** Asymmetric-distance top-k over PQ codes (the SERVE side of product
    * quantization): each query scores a code row as Σ_s ‖q_s − c(code_s)‖²
    * — the query stays full-precision, the corpus is 4 codes — and takes
    * the k nearest. Milli-unit integer distances end-to-end, so ranking
    * is bit-reproducible.
    *
    * Scale shape: queries BROADCAST against the codes scan (ADC is by
    * design a linear scan over compressed codes; compose with the IVF
    * router here to prune to nprobe cells first); per-candidate work is
    * m·d0 integer ops in one codegen'd higher-order expression; the
    * top-k is the bounded-heap partial aggregate (O(k) state per task,
    * k rows per query per task on the wire — never a corpus-sized
    * window). Output: (vec_id, rank, neighbor_id, dist). */
  def adcTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              dim: Int = 64, m: Int = 4): DataFrame = {
    val codes = pqCodes(embeddings, dim, m)
    // each query ships its m·ks ADC lookup table instead of the raw
    // embedding: LUT[s][j] = Σ_t (q_t − c(j,t))², so per-candidate work
    // drops from m·d0 multiply-adds to m table lookups (Jégou §5.2) —
    // integer addition is associative, the regrouped sum is bit-identical
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        NativeColumns.vecAdcLut(col("embedding"), dim, m, 16).as("lut"))
    val dist = NativeColumns.vecAdcDist(col("lut"), col("codes"), 16)
    val scored = codes.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid")) // self is trivially nearest
      .select(col("qid"), col("vec_id").as("cid"),
        // negate: the shared bounded-heap aggregate ranks sim DESC
        (-dist).cast("double").as("sim"))
    Similarity.topKPerQuery(scored, k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        (-col("sim")).cast("long").as("dist"))
  }

  /** Coarse-router cell of a vector: argmin over `nlist` published
    * centroids C(j,t) = ((j·53 + t·29) mod 2001) − 1000 by milli-unit
    * integer squared-L2 — the same published-codebook discipline as the
    * PQ codebook, over the FULL dimension. Packed argmin (dist·nlist+j),
    * deterministic ties. */
  private def cellOf(emb: Column, dim: Int, nlist: Int): Column =
    NativeColumns.vecIvfCell(emb, dim, nlist)

  /** IVF + ADC — the composed 10^12-row serve pipeline: a coarse router
    * prunes the scan to each query's `nprobe` nearest cells, and PQ
    * asymmetric distances rank only those cells' code rows. This is the
    * shape [[adcTopK]]'s doc promises at scale: the ADC linear scan,
    * bounded to nprobe/nlist of the corpus. Both router and codebook are
    * fixed published artifacts (integer milli-units), so the whole path
    * — routing, probing, scoring, ranking — replays exactly in the
    * oracle. Candidates shuffle ids+codes only; top-k is the shared
    * bounded-heap aggregate. Recall < 1 by design (a probed-out true
    * neighbor is the IVF trade); the oracle replays the SAME algorithm,
    * so exactness is unaffected. */
  def ivfAdcTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                 dim: Int = 64, m: Int = 4, nlist: Int = 16,
                 nprobe: Int = 4): DataFrame = {
    // codes and routing cell in ONE narrow projection — no second
    // embedding scan, no vec_id self-join; both are codegen'd kernels
    val corpus = embeddings.select(col("vec_id"),
      codesCol(col("embedding"), dim, m, ks = 16).as("codes"),
      cellOf(col("embedding"), dim, nlist).as("cell"))
    // queries carry their ADC lookup table (see [[adcTopK]]) and explode
    // to nprobe (cell, qid, lut) rows — nearest cells from the same
    // packed (dist, j) sort as before, in one codegen'd kernel
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        NativeColumns.vecAdcLut(col("embedding"), dim, m, 16).as("lut"),
        explode(NativeColumns.vecIvfProbes(col("embedding"), dim, nlist, nprobe)).as("cell"))
    val dist = NativeColumns.vecAdcDist(col("lut"), col("codes"), 16)
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), (-dist).cast("double").as("sim"))
    Similarity.topKPerQuery(scored, k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        (-col("sim")).cast("long").as("dist"))
  }

  /** SemDeDup (Abbas et al., 2023): semantic deduplication that only ever
    * compares vectors WITHIN a quantizer cell — the observation that makes
    * embedding dedup tractable at 10^12 rows: route once (the coarse
    * router above), then per-cell pairwise cosine, keep the lowest id of
    * each near-dup pair, drop the rest. Complements the sign-LSH pair
    * generator ([[Similarity.embeddingNearDupPairs]]): LSH bands recall
    * pairs probabilistically across the whole corpus; SemDeDup bounds the
    * work to cell-local comparisons and is the shape used to prune
    * LAION/CC-scale image-text corpora.
    *
    * Scale shape: routing is the narrow integer-codebook projection (zero
    * shuffle); one shuffle on (cell, sub) co-locates each cell; oversized
    * cells split into `maxCell`-bounded sub-cells by id hash (the same
    * salt-cap discipline as the LSH buckets — a degenerate hot cell
    * cannot go quadratic, at the cost of missing cross-sub pairs inside
    * that pathological cell); the pair join is cell-local sort-merge,
    * drops shuffle ids+cos only. Deterministic end to end — integer
    * router, float cosine replayed identically by the oracle. Output:
    * (cell, keep_id, drop_id, cos) — `drop_id` has a ≥threshold neighbor
    * with a smaller id in its cell; `keep_id` is the smallest such. */
  def semanticDedup(embeddings: DataFrame, dim: Int = 64, nlist: Int = 16,
                    threshold: Double = 0.95, maxCell: Int = 10000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val routed = embeddings
      .select(col("vec_id"), col("embedding"),
        cellOf(col("embedding"), dim, nlist).as("cell"))
      .localCheckpoint(true) // read twice: sizes + the salted group pass
    val sizes = routed.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val salted = routed.join(sizes, Seq("cell"))
      .withColumn("sub",
        pmod(xxhash64(col("vec_id")), greatest(ceil(col("n") / maxCell), lit(1))))
    // Pairwise stage as a cell-local TYPED kernel: one shuffle co-locates
    // each (cell, sub) group (≤ maxCell rows ≈ a few MB of floats), then
    // primitive-loop cosines emit only the ≥threshold survivors. The
    // DataFrame alternative (self-join + lambda cosine) materializes
    // |cell|²/2 rows CARRYING BOTH ARRAYS through the exchange — measured
    // 14.6 s vs ~1 s at sf0.1. Sums run in ascending-id index order, so
    // doubles match the oracle's sequential list_aggregate bit-for-bit.
    val pairs = salted
      .select(col("cell"), col("sub"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Long, Seq[Float])]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Long, Seq[Float])]) =>
        val cell = key._1
        val vs = it.map(r => (r._3, r._4.toArray)).toArray.sortBy(_._1)
        val norms = vs.map { case (_, e) =>
          var s = 0.0; var i = 0
          while (i < e.length) { s += e(i).toDouble * e(i).toDouble; i += 1 }
          math.sqrt(s)
        }
        val out = Vector.newBuilder[(Long, Long, Long, Double)]
        var x = 0
        while (x < vs.length) {
          var y = x + 1
          while (y < vs.length) {
            val (ea, eb) = (vs(x)._2, vs(y)._2)
            var dot = 0.0; var i = 0
            while (i < ea.length) { dot += ea(i).toDouble * eb(i).toDouble; i += 1 }
            val sim = dot / (norms(x) * norms(y))
            if (sim >= threshold) out += ((cell, vs(x)._1, vs(y)._1, sim))
            y += 1
          }
          x += 1
        }
        out.result().iterator
      }
      .toDF("cell", "a", "b", "sim")
    val out = pairs
      .groupBy(col("cell"), col("b").as("drop_id"))
      // lexicographic min of (a, sim) = the smallest-id keeper and ITS cos
      .agg(min(struct(col("a").as("ka"), round(col("sim"), 2).as("kc"))).as("k"))
      .select(col("cell"), col("k.ka").as("keep_id"), col("drop_id"),
        col("k.kc").as("cos"))
      .localCheckpoint(true)
    routed.unpersist(false)
    out
  }
}

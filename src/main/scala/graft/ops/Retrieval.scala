package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval scoring over the corpus — BM25-shaped ranking of documents
  * against a small query set, the lookup side of the inverted index and
  * the relevance signal for query-document training pairs.
  *
  * Arithmetic is INTEGER end-to-end (micro-unit scores, floor division),
  * like domain_rank's PageRank: per-term contributions are quantized
  * before summing, so scores are order-independent — identical bits on
  * any partitioning or engine — which is what makes an exact DuckDB
  * oracle possible where float BM25 would drift ULPs. The idf is the
  * RATIONAL variant idf_u = (10^6·(2(N−df)+1)) // (2·df+1) — the
  * Robertson-Sparck-Jones argument without the log — monotone in df, so
  * ranking behavior matches BM25's idf ordering; documented as a variant.
  *
  * Scale shape: per-doc term frequencies are counted IN-ROW (one typed
  * flatMap, no corpus shuffle), filtered to query terms immediately — so
  * everything downstream is bounded by Σ df(query terms), not corpus
  * size. df and idf for the ≤|queries|·|terms| query vocabulary
  * broadcast back; the only data-sized shuffle is the (query_id, doc_id)
  * partial-aggregated score sum, and the top-k window runs per query on
  * scored rows only.
  */
object Retrieval {

  /** Query terms as (query_id, term) pairs, deduplicated per query —
    * collected to the driver (query sets are human-sized). */
  private def collectQueryTerms(queries: DataFrame): Array[(Long, String)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("query_id"),
        explode(array_distinct(filter(split(col("qtext"), " ", -1),
          t => length(t) > 0))).as("term"))
      .as[(Long, String)].collect()
  }

  /** One narrow pass over the corpus: per-doc length + in-row counts of
    * the query terms ONLY — (doc_id, dl, term, tf). Shared by every
    * lexical run so fused retrieval does not rescan the corpus per run. */
  private def termCounts(docs: DataFrame,
                         termSet: Set[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1).filter(_.nonEmpty)
          val dl = toks.length.toLong
          val counts = new scala.collection.mutable.HashMap[String, Long]()
          toks.foreach { t => if (termSet.contains(t)) counts.update(t, counts.getOrElse(t, 0L) + 1L) }
          counts.iterator.map { case (t, c) => (id, dl, t, c) }
        }
      }.toDF("doc_id", "dl", "term", "tf")
  }

  /** (query_id, doc_id, score_micro, rank ≤ k), ranked per query by
    * (score desc, doc_id asc). `queries` must be small (collected to
    * build the term filter). Query terms are deduplicated. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1Milli: Long = 1200, bMilli: Long = 750): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val qterms = collectQueryTerms(queries)
    val tfq = termCounts(docs, qterms.map(_._2).toSet)

    // corpus stats ride a 2-long aggregate, never a collect of rows;
    // token counting is a typed map — the former size(filter(split(...)))
    // used a CodegenFallback higher-order filter, interpreted per token
    val st = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (_, t) =>
        if (t == null) 0L else t.split(" ", -1).count(_.nonEmpty).toLong
      }
      .agg(count(lit(1)).as("n"), sum(col("value")).as("tdl"))
      .head()
    val nDocs = st.getLong(0)
    val avgdlMilli = math.max(1L, st.getLong(1) * 1000L / math.max(1L, nDocs))

    // df over query terms only (tiny shuffle), idf broadcast back
    val qdf = tfq.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf_micro",
        expr(s"(1000000L * (2 * (${nDocs}L - df) + 1)) div (2 * df + 1)"))
    val qjoin = broadcast(qdf.join(
      qterms.toSeq.toDF("query_id", "term"), Seq("term")))

    val scored = tfq.join(qjoin, Seq("term"))
      .withColumn("norm_m",
        expr(s"(1000 - ${bMilli}L) + ((${bMilli}L * dl * 1000) div ${avgdlMilli}L)"))
      .withColumn("contrib",
        expr(s"(idf_micro * ((tf * (${k1Milli}L + 1000) * 1000) div " +
          s"(tf * 1000 + ((${k1Milli}L * norm_m) div 1000)))) div 1000"))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("score_micro"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Discount table for [[ndcgEval]]: DISC_U(i) = floor(10^6 / log2(i+1))
    * for rank i = 1..10 — the ONLY place a logarithm enters the nDCG
    * computation, frozen here as integer literals so Spark and the oracle
    * share exact constants instead of each trusting its own libm. */
  val NdcgDiscU: Seq[Long] = Seq(1000000L, 630929L, 500000L, 430676L,
    386852L, 356207L, 333333L, 315464L, 301029L, 289064L)

  /** Phrase-graded judged pool: for each 3-term query `w1 w2 w3`,
    * rel(q,d) = [all three terms present] + [token bigram "w1 w2"] +
    * ["w2 w3"] (token-level adjacency, 1-based like the oracle's DuckDB
    * lists), rows with rel ≥ 1 only. One narrow corpus projection against
    * the |queries|-row broadcast literal. Shared by [[ndcgEval]] and
    * [[bm25HardNegatives]]. */
  private def phraseRel(docs: DataFrame, queries: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qdefs = queries.select(col("query_id"), col("qtext"))
      .as[(Long, String)].collect()
      .map { case (q, txt) => (q, txt.split(" ").filter(_.nonEmpty)) }
    require(qdefs.forall(_._2.length == 3),
      "phrase grading needs 3-term queries (two phrase bigrams)")
    // typed pass: per doc ONE token-set + bigram-set build, then O(1)
    // lookups per query — the former crossJoin form re-scanned the token
    // array per query through interpreted exists(sequence(...)) HOFs
    // (~2×|tokens|×|queries| lambda evals per doc). Identical rel values:
    // same filtered token list, same membership/adjacency semantics.
    val bq = spark.sparkContext.broadcast(
      qdefs.map { case (q, ts) => (q, ts(0), ts(1), ts(2)) })
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val qs = bq.value
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1).filter(_.nonEmpty)
          val tokSet = toks.toSet
          val bigrams = new java.util.HashSet[String]()
          var i = 0
          while (i < toks.length - 1) { bigrams.add(toks(i) + " " + toks(i + 1)); i += 1 }
          qs.iterator.flatMap { case (q, w1, w2, w3) =>
            val rel = (if (tokSet(w1) && tokSet(w2) && tokSet(w3)) 1L else 0L) +
              (if (bigrams.contains(w1 + " " + w2)) 1L else 0L) +
              (if (bigrams.contains(w2 + " " + w3)) 1L else 0L)
            if (rel >= 1) Some((q, id, rel)) else None
          }
        }
      }
      .toDF("query_id", "doc_id", "rel")
  }

  /** Graded-relevance ranking quality: nDCG@k of the [[bm25TopK]] ranking
    * against the deterministic [[phraseRel]] judgments. Phrase adjacency
    * is exactly what unigram BM25 cannot see, so the metric genuinely
    * discriminates (grade-3 docs are rare; a perfect 1000 would require
    * the ranker to luck onto them), while staying deterministic and
    * engine-reproducible — the pooled-judgment shape of a real relevance
    * eval, synthesized.
    *
    * DCG_u = Σ_{i≤k} (2^rel − 1)·DISC_U(i) over the ranked list; IDCG_u
    * re-ranks the judged pool ideally — computed WITHOUT any per-query
    * sort: the pool collapses to three counts (n3, n2, n1) and the ideal
    * slot ladder unrolls over a k-row literal sequence. The corpus-sized
    * work is one narrow projection against the 5-row broadcast query
    * table; everything after the rel filter is pool-sized. Integer
    * micro-units end to end → bit-identical on any partitioning. Output
    * per query: (query_id, n_judged, dcg_u, idcg_u, ndcg_pm). */
  def ndcgEval(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    require(k <= NdcgDiscU.length, s"k > ${NdcgDiscU.length}: extend NdcgDiscU")

    val rel = phraseRel(docs, queries)
      // lazy: both consumers sit in the final job's DAG, which computes
      // the pool once and caches it (Dataset.unpersist below is a no-op
      // for checkpoint blocks); the eager form paid a separate job
      .localCheckpoint(false) // pool-sized; feeds DCG join + ideal counts

    val discCol = {
      val pairs = NdcgDiscU.take(k).zipWithIndex
        .map { case (d, i) => (i + 1, d) }
      map(pairs.flatMap { case (i, d) => Seq(lit(i), lit(d)) }: _*)
    }
    val ranked = bm25TopK(docs, queries, k)
    val dcg = ranked.join(rel, Seq("query_id", "doc_id"))
      .select(col("query_id"),
        (expr("shiftleft(1L, cast(rel AS int)) - 1L") *
          element_at(discCol, col("rank"))).as("g"))
      .groupBy("query_id").agg(sum(col("g")).as("dcg_u"))

    val cnts = rel.groupBy("query_id").agg(
      count(lit(1)).as("n_judged"),
      sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n3"),
      sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
    val ideal = cnts
      .select(col("query_id"), col("n_judged"), col("n3"), col("n2"), col("n1"),
        explode(sequence(lit(1L), lit(k.toLong))).as("i"))
      .select(col("query_id"), col("n_judged"),
        (expr("""shiftleft(1L, CASE WHEN i <= n3 THEN 3
                 WHEN i <= n3 + n2 THEN 2
                 WHEN i <= n3 + n2 + n1 THEN 1 ELSE 0 END) - 1L""") *
          element_at(discCol, col("i").cast("int"))).as("g"))
      .groupBy("query_id", "n_judged").agg(sum(col("g")).as("idcg_u"))

    val out = ideal.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_judged"),
        coalesce(col("dcg_u"), lit(0L)).as("dcg_u"), col("idcg_u"),
        when(col("idcg_u") === 0, -1L)
          .otherwise(expr("coalesce(dcg_u, 0L) * 1000 div idcg_u")).as("ndcg_pm"))
    rel.unpersist(false)
    out
  }

  /** Lexical hard-negative mining for contrastive retrieval training —
    * the BM25 counterpart of the embedding-side
    * [[Similarity]] hard-negative op: for each query, the POSITIVE is its
    * best phrase-judged candidate (highest-BM25-ranked doc with rel ≥ 2
    * under [[ndcgEval]]'s phrase grading) and the HARD NEGATIVES are the
    * `kNeg` highest-BM25-ranked candidates WITHOUT a phrase match
    * (rel ≤ 1) — lexically confusable (they score on unigrams, often
    * carry every term) yet miss the phrase intent, exactly the pairs a
    * cross-encoder or dense retriever trains on. Queries with no rel ≥ 2 candidate in the top
    * `kCand` emit nothing (deterministic abstention, mirrored by the
    * oracle).
    *
    * Scale shape: candidate generation is [[bm25TopK]] (bounded by
    * Σ df(query terms)); the rel join and both rank filters are
    * candidate-set-sized; output ≤ |queries|·kNeg rows. Integer
    * micro-unit scores → bit-identical on any partitioning. */
  def bm25HardNegatives(docs: DataFrame, queries: DataFrame,
                        kCand: Int = 20, kNeg: Int = 3): DataFrame = {
    val rel = phraseRel(docs, queries)
    val cand = bm25TopK(docs, queries, kCand)
      .join(rel, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("rank"),
        coalesce(col("rel"), lit(0L)).as("rel"))
      .localCheckpoint(false) // candidate-sized; read for pos AND neg sides (lazy: one job)
    // positive: lexicographic min (rank, doc_id) among rel ≥ 2 — no window
    val pos = cand.where(col("rel") >= 2)
      .groupBy("query_id")
      .agg(min(struct(col("rank").as("pos_rank"), col("doc_id").as("pos_doc_id"))).as("p"))
      .select(col("query_id"), col("p.pos_doc_id"), col("p.pos_rank"))
    val wNeg = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rank").asc, col("doc_id").asc)
    val neg = cand.where(col("rel") <= 1)
      .withColumn("neg_ord", row_number().over(wNeg))
      .where(col("neg_ord") <= kNeg)
      .select(col("query_id"), col("doc_id").as("neg_doc_id"),
        col("rank").as("neg_rank"), col("neg_ord"))
    val out = pos.join(neg, Seq("query_id"))
      .select(col("query_id"), col("pos_doc_id"), col("pos_rank"),
        col("neg_doc_id"), col("neg_rank"), col("neg_ord"))
      .localCheckpoint(true)
    cand.unpersist(false)
    out
  }

  /** Rank-position retrieval metrics vs the phrase-relevant set
    * (rel ≥ 2 under [[phraseRel]]): per query the first relevant rank,
    * reciprocal rank (permille, floor), success@k and recall@k — the
    * metrics reported next to nDCG in every retrieval eval. Queries whose
    * relevant pool never enters the top-k report first_rank = -1, rr_pm =
    * 0. Everything after [[bm25TopK]] is candidate-set-sized; integer
    * arithmetic end to end. Output: (query_id, n_rel, n_hits, first_rank,
    * rr_pm, recall_pm). */
  def mrrEval(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val relevant = phraseRel(docs, queries).where(col("rel") >= 2)
      .localCheckpoint(false) // pool-sized; feeds hits join + pool counts (lazy: one job)
    val hits = bm25TopK(docs, queries, k)
      .join(relevant, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(min(col("rank")).as("first_rank"), count(lit(1)).as("n_hits"))
    val pool = relevant.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val out = pool.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("first_rank"), lit(-1)).as("first_rank"),
        when(col("first_rank").isNull, 0L)
          .otherwise(expr("1000 div first_rank")).as("rr_pm"),
        expr("coalesce(n_hits, 0L) * 1000 div n_rel").as("recall_pm"))
    relevant.unpersist(false)
    out
  }

  /** Plain term-frequency run — the "query likelihood" lexical baseline a
    * fusion stack diversifies against BM25: score = Σ tf over the query's
    * terms, ranked (score desc, doc_id asc), top k per query. Shares
    * [[termCounts]] so a two-run fusion still scans the corpus once per
    * run's narrow projection, never per (run × term). */
  def tfTopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = collectQueryTerms(queries)
    val scored = termCounts(docs, qterms.map(_._2).toSet)
      .join(broadcast(qterms.toSeq.toDF("query_id", "term")), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("tf")).as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009 —
    * the standard way to combine retrieval runs without score
    * calibration): for every (query, doc) in the union of the runs'
    * top-k lists, rrf = Σ_runs 1/(κ + rank) with κ = 60, here in exact
    * integer micro-units (10⁶ div (κ + rank)); docs absent from a run
    * simply contribute nothing. Output re-ranks by (rrf desc, doc_id)
    * and keeps the fused top k, carrying n_runs for coverage audits.
    *
    * Scale shape: the inputs are already k-bounded per query, so the
    * union, the (query, doc) rollup, and the per-query window all touch
    * ≤ |queries|·k·runs rows — fusion never sees the corpus. */
  def rrfFuse(runs: Seq[DataFrame], k: Int, kRrf: Long = 60L): DataFrame = {
    require(runs.nonEmpty, "at least one run")
    val union = runs.map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_.unionByName(_))
    val fused = union.groupBy("query_id", "doc_id")
      .agg(sum(expr(s"1000000 div (${kRrf}L + rank)")).as("rrf_micro"),
        count(lit(1)).as("n_runs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_micro").desc, col("doc_id").asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .where(col("fused_rank") <= k)
  }

  /** Deterministic query set over the corpus vocabulary. */
  def synthQueries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "table scan fast"),
      (1L, "window agg group"),
      (2L, "customer query join"),
      (3L, "stream batch merge"),
      (4L, "vector hash sort")).toDF("query_id", "qtext")
  }
}

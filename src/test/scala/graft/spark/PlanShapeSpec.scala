package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSessionFixture}

/** Plan-SHAPE regression guards: the 100-TB properties the docs claim
  * (narrow extraction, bounded Exchange counts, no cartesian blowups) are
  * asserted here against the actual physical plans, so a future edit that
  * quietly adds a shuffle or a nested-loop join fails CI instead of
  * failing at corpus scale. Counts are UPPER bounds — tightening an
  * operator keeps the suite green; widening it does not. */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def ops(name: String): Map[String, Int] = {
    val plan = SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString
    // one operator per tree line: strip the tree-drawing prefix (+- : *)
    // and an optional codegen-stage "(n)" marker, take the first
    // identifier. The earlier "(n) Op" regex matched ONLY codegen-numbered
    // text, which the AQE executedPlan string never contains — every count
    // was 0 and the guards were vacuous (same failure mode as the round-4
    // bench regression-regex finding; caught by probing the counts).
    val counts = plan.linesIterator.flatMap { l =>
      raw"^[\s:+\-*]*(?:\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)".r
        .findFirstMatchIn(l).map(_.group(1))
    }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.nonEmpty, s"$name: plan parser matched nothing:\n$plan")
    counts
  }

  private def assertShape(name: String, maxExchange: Int,
                          forbidden: Seq[String] = Seq("CartesianProduct")): Unit = {
    val o = ops(name)
    val ex = o.getOrElse("Exchange", 0)
    assert(ex <= maxExchange,
      s"$name: $ex Exchanges (bound $maxExchange) — a shuffle crept in: $o")
    forbidden.foreach { f =>
      assert(!o.contains(f), s"$name: forbidden operator $f in plan: $o")
    }
  }

  test("narrow family: parse-where-scanned queries never exceed the display sort's Exchange") {
    // each: one typed map over the scan; the single Exchange is orderBy
    for (q <- Seq("wat_export", "vlm_page_pairs", "pdf_portfolio",
        "pdf_toc_chunks", "text_urls"))
      assertShape(q, maxExchange = 1)
  }

  test("rollup family: one aggregation exchange plus display sort at most") {
    for (q <- Seq("sketch_kmv", "sketch_hll", "split_holdout",
        "url_param_stats", "html_templates", "text_scripts"))
      assertShape(q, maxExchange = 3)
  }

  test("join family: bounded exchanges, no nested-loop joins on data tables") {
    assertShape("heavy_hitters", maxExchange = 2)
    assertShape("sitemap_coverage", maxExchange = 4)
    assertShape("events_bot_detect", maxExchange = 2)
    assertShape("events_transitions", maxExchange = 3)
    // the 1-row broadcast totals are BroadcastNestedLoopJoin by design
    // (constant cost); CartesianProduct of data tables stays forbidden
    assertShape("corpus_concentration", maxExchange = 2)
    assertShape("frontier_budget", maxExchange = 3)
  }

  test("wave 37-42 narrow family: per-row kernels keep one display-sort Exchange at most") {
    for (q <- Seq("extract_eval", "dedup_containment", "text_c4_clean",
        "url_shard_assign", "text_script_segments", "html_jsonld",
        "events_conversion_window", "dedup_cdc", "text_ocr_artifacts"))
      assertShape(q, maxExchange = 1)
  }

  test("wave 37-42 rollup family: bounded exchanges, no cartesian products") {
    assertShape("events_ab_test", maxExchange = 2)  // user rollup + global row
    assertShape("pdf_page_phash", maxExchange = 3)  // hash rollup + join back + sort
    // the broadcast(queries) crossJoin is the LABELED exactness baseline
    // (BroadcastNestedLoopJoin over a 20-row side, constant cost)
    assertShape("embedding_truncate_recall", maxExchange = 2)
    // LM fit: the real corpus-scale exchange is the bigram count; the rest
    // join vocab-sized aggregate tables (bigram types ≪ corpus tokens)
    assertShape("text_kn_bigram", maxExchange = 7)
    // DSIR: two 64-rows-per-task histogram exchanges + doc rollup + sort;
    // the log-ratio table joins back as a broadcast
    assertShape("quality_dsir", maxExchange = 8)
  }

  test("wave 43-45 narrow family: per-row kernels keep one display-sort Exchange at most") {
    for (q <- Seq("html_microdata", "pdf_xmp", "pdf_struct_tree", "text_mojibake"))
      assertShape(q, maxExchange = 1)
  }

  test("wave 43-45 rollup/join family: bounded exchanges, no cartesian products") {
    // CCNet line dedup: line-hash rollup + semi-join back + doc rebuild + sort
    assertShape("dedup_lines_ccnet", maxExchange = 5)
    // count-min: per-key rollup; the 256-cell table joins back as broadcast
    assertShape("sketch_countmin", maxExchange = 4)
    // KN scoring: bigram-count exchange + vocab-sized model joins + doc rollup
    assertShape("text_kn_score", maxExchange = 9)
    // bitext: two bounded-heap top-k aggregations (queries broadcast both
    // passes — the labeled exactness baseline) + the stats join
    assertShape("bitext_margin", maxExchange = 5)
  }

  test("wave 50 narrow family: dehyphenate and code-detect are one display-sort Exchange") {
    for (q <- Seq("text_dehyphenate", "text_code_detect"))
      assertShape(q, maxExchange = 1)
  }

  test("wave 50 rollup family: quantile sample is one per-key rollup") {
    // hash + collect into per-key buffers: one agg Exchange + display sort
    assertShape("sketch_quantile", maxExchange = 2)
  }

  test("wave 51: quota sample is an aggregate (no Window over the corpus); revisit is one join + rollup") {
    val o = ops("sample_quota")
    assert(!o.contains("Window"),
      s"sample_quota must not plan a Window sort: $o")
    assertShape("sample_quota", maxExchange = 2)
    assertShape("warc_revisit", maxExchange = 5)
  }

  test("wave 52: tfidf top-k has no corpus Window; ewma is rollup + per-key map") {
    val o = ops("text_tfidf_terms")
    assert(!o.contains("Window"), s"tfidf must not plan a Window: $o")
    // distinct-term explode + df rollup/broadcast-back + doc rollup + sort
    assertShape("text_tfidf_terms", maxExchange = 4)
    assertShape("events_ewma", maxExchange = 3)
  }

  test("wave 53: sentence stats are a zero-shuffle array pipeline") {
    assertShape("text_sentences", maxExchange = 1)
  }

  test("waves 60-64: narrow fixture queries stay at the display sort") {
    for (q <- Seq("html_image_captions", "html_tracking_pixels",
        "html_caption_quality", "url_hygiene", "pdf_dates"))
      assertShape(q, maxExchange = 1)
  }

  test("wave 61/62/63 rollups: bounded exchanges, no cartesian blowups") {
    // link prediction: adjacency window + wedge self-join + score rollup +
    // anti join + global top-k — every Exchange keyed, the und/capped
    // subtrees read from cache (InMemoryTableScan) instead of replaying,
    // and the top-50 plans as TakeOrdered, never a full candidate Sort
    SparkEntry.queries("q1_agg")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(
      org.apache.spark.sql.functions.col("doc_id").as("id"))
    val n = docs.count()
    val lpPlan = graft.ops.Graph.linkPredict(
        graft.ops.Graph.synthEdges(docs, n), maxDeg = 8, topN = 50,
        materialize = false)
      .queryExecution.executedPlan.toString
    // the plan STRING repeats each cached subtree under every
    // InMemoryTableScan, so count DISTINCT Exchange lines (cached-subtree
    // repeats are verbatim, outer Exchanges are unique) — the true
    // number of shuffles the job executes
    val distinctExchanges = lpPlan.linesIterator
      .filter(_.matches(raw"^[\s:+\-*]*(?:\(\d+\)\s*)?Exchange.*"))
      .map(_.replaceAll("^.*?Exchange", "Exchange")).toSet
    assert(distinctExchanges.size <= 8,
      s"link-predict: ${distinctExchanges.size} distinct shuffles:\n${distinctExchanges.mkString("\n")}")
    assert(!lpPlan.contains("CartesianProduct"), "cartesian product crept in")
    assert(lpPlan.contains("TakeOrderedAndProject"),
      s"link-predict top-50 must be TakeOrderedAndProject:\n$lpPlan")
    assert(lpPlan.contains("InMemoryTableScan"),
      "link-predict must reuse the cached adjacency")
    spark.catalog.clearCache()
    assertShape("dedup_simhash_buckets", maxExchange = 3)
    assertShape("events_seasonality", maxExchange = 4)
    assertShape("events_holt", maxExchange = 3)
  }

  test("waves 76-79: narrow text gates stay at the display sort; route/param/bloom rollups bounded") {
    for (q <- Seq("text_markup_leak", "text_dates", "text_entropy", "text_boilerplate"))
      assertShape(q, maxExchange = 1)
    assertShape("url_route_templates", maxExchange = 3)
    assertShape("url_param_infer", maxExchange = 4)
    assertShape("sketch_bloom", maxExchange = 4)
    assertShape("emb_abtt", maxExchange = 1)
  }

  test("waves 88-93: retrieval metrics bounded by the candidate stage; audits stay at the display sort") {
    // bm25-based evals: every exchange is df-bounded candidate/pool data —
    // the corpus contributes only the narrow tf pass (measured 8)
    assertShape("retrieval_ndcg", maxExchange = 9)
    assertShape("retrieval_mrr", maxExchange = 9)
    // negatives: final assembly after the checkpointed candidate set
    assertShape("retrieval_hard_negatives", maxExchange = 2)
    // one gram-keyed shuffle per n plus rollup
    assertShape("corpus_distinct_n", maxExchange = 4)
    // LPA rounds materialize via localCheckpoint; the tail is one sort
    assertShape("graph_communities", maxExchange = 2)
    assertShape("quality_calibration", maxExchange = 2)
    assertShape("events_ctr_smoothing", maxExchange = 2)
    // broadcast evals: corpus-side scan + per-doc argmax + display sort
    assertShape("decontaminate_semantic", maxExchange = 4)
    assertShape("pdf_conformance", maxExchange = 2)
    assertShape("extract_poison_audit", maxExchange = 2)
    // coreness rounds materialize via localCheckpoint; tail is one sort
    assertShape("graph_coreness", maxExchange = 2)
    // TakeOrderedAndProject: no full-sort Exchange beyond the rollup
    assertShape("quality_uncertainty_sample", maxExchange = 2)
    // user rollup + arm rollup materialize via localCheckpoint; tail sort
    assertShape("events_cuped", maxExchange = 2)
  }

  test("wave 96: experimentation guards and the training shuffle stay narrow") {
    // user agg + 2-row arm rollup + 1-row pivot
    assertShape("events_did", maxExchange = 3)
    // expand-style distinct + per-type rollup + display sort
    assertShape("events_srm", maxExchange = 3)
    // ONE shard exchange for the window + display sort — never a global sort
    assertShape("corpus_shuffle", maxExchange = 2)
    // user agg + per-type rollup + display sort
    assertShape("events_power", maxExchange = 3)
    // edge join + dst rollup + node-sized join back + display sort
    assertShape("graph_smooth", maxExchange = 5)
    // chain math is driver-side; the RESULT plan is a local scan + sort
    assertShape("events_markov_attrib", maxExchange = 1)
    // two k-bounded runs (each: narrow tf pass + bounded rollup/window)
    // + the fused rollup/window — the bm25 run alone measures 8
    assertShape("retrieval_rrf", maxExchange = 12)
    // RAKE is a pure per-row flatMap; the only Exchange is the display sort
    assertShape("text_keywords", maxExchange = 1)
    // fp agg + journey window + walked rollup + anti-join distinct +
    // path rollup; the top-k is TakeOrderedAndProject, never a global sort
    assertShape("events_paths", maxExchange = 6)
    assert(ops("events_paths").contains("TakeOrderedAndProject"),
      "events_paths top-k must plan as TakeOrderedAndProject")
    // bin rollup + <=10-row windows + display sort
    assertShape("quality_roc", maxExchange = 5)
    // md5 rollup + digest join back + gate joins + 4-row bucket rollup
    assertShape("corpus_dup_quality", maxExchange = 8)
    // 400-row literal grid of codegen'd folds + 4-row window
    assertShape("dedup_lsh_tune", maxExchange = 4)
    // ONE events pass (day rollup); both median windows run over days
    assertShape("events_anomaly_mad", maxExchange = 6)
    // edge-union rollup + node join + <=64-row bucket rollup
    assertShape("graph_degree_hist", maxExchange = 5)
    // purchase rollup + distinct users + segment pivot rollup
    assertShape("events_uplift", maxExchange = 5)
    // cross-scoring pass + <=8-row rollup (fits ran in the driver fold)
    assertShape("quality_label_noise", maxExchange = 4)
    // ONE purchase rollup; cumulative windows run over <=5 look rows
    assertShape("events_sequential", maxExchange = 4)
    // fused conditional mins per user + 5-row bucket rollup
    assertShape("events_time_to_convert", maxExchange = 5)
    // ONE word-count shuffle; rank window runs on the vocab-sized table
    assertShape("tok_coverage", maxExchange = 5)
    // the triangles plan + one single-row aggregate
    assertShape("graph_clustering", maxExchange = 12)
    // codegen'd scoring projection + doc_id join + tiny matrix rollup
    assertShape("text_langid_eval", maxExchange = 6)
    // one fused user aggregate + <=27-row segment rollup
    assertShape("events_rfm", maxExchange = 4)
    // ONE (site, min, max) aggregate; LCP scans the site-sized result
    assertShape("text_boilerplate_prefix", maxExchange = 3)
    // first-ts agg + purchase join + broadcast gamma + cohort rollup
    assertShape("events_ltv", maxExchange = 6)
    // gram-min agg + two doc_id counts + doc_id joins + display sort;
    // novelty needs NO gram join-back (first table re-keyed by min doc_id)
    assertShape("text_ngram_novelty", maxExchange = 7)
    // benchmark-gram distinct + doc_id window + island/doc rollups + sort;
    // positional corpus grams reach the window only as (doc_id, pos) hits
    assertShape("text_contamination_spans", maxExchange = 6)
    // D-sized typed reduce + driver-built 64-row result: no data Exchange
    // beyond the reduce's own partial collection
    assertShape("emb_effective_rank", maxExchange = 2)
    // 2 edge grams/doc: gram-keyed cap window + same-key self-join + sort
    assertShape("text_continuation_pairs", maxExchange = 6)
    // ONE (bucket) count aggregate; windows run on the ≤5-row result
    assertShape("corpus_snapshot_drift", maxExchange = 4)
    // site LCP agg + broadcast-back + two md5 rollups + union of 1-row halves
    assertShape("dedup_boilerplate_masked", maxExchange = 8)
  }

  test("waves 115-121 queries: bounded exchanges, no cartesian products") {
    // measured 2026-08-20 at sf0.001; bounds are the measured counts —
    // a widening diff fails here before it fails at corpus scale.
    // corpus-touching exchanges are far fewer than the totals: e.g.
    // gate_shapley's 9 include 8 over ≤16-row subset tables
    assertShape("text_collocations", maxExchange = 8)
    assertShape("dedup_titles", maxExchange = 4)
    assertShape("events_survival", maxExchange = 5)
    assertShape("events_scd2", maxExchange = 2)
    for (q <- Seq("code_langid", "code_minified", "code_sloc"))
      assertShape(q, maxExchange = 1)
    assertShape("emb_jl_audit", maxExchange = 8)
    assertShape("er_customers", maxExchange = 4)
    assertShape("corpus_bootstrap", maxExchange = 4)
    assertShape("privacy_k_anonymity", maxExchange = 3)
    assertShape("privacy_release_gate", maxExchange = 3)
    assertShape("gate_cascade_plan", maxExchange = 1)
    assertShape("shard_balance", maxExchange = 1)
    assertShape("gate_shapley", maxExchange = 9)
    assertShape("text_burstiness", maxExchange = 2)
  }

  test("waves 122-128 queries: bounded exchanges, no cartesian/nested-loop on data tables") {
    assertShape("range_bucket_join", maxExchange = 3,
      forbidden = Seq("CartesianProduct", "BroadcastNestedLoop"))
    assertShape("join_skew_estimate", maxExchange = 2)
    assertShape("stats_ks_test", maxExchange = 3)
    assertShape("source_length_quantiles", maxExchange = 2)
    assertShape("blocklist_match", maxExchange = 1)
    assertShape("ivm_merge_audit", maxExchange = 5)
    assertShape("truncation_curve", maxExchange = 1)
    assertShape("feature_hash_audit", maxExchange = 3)
    assertShape("hamilton_allocation", maxExchange = 2)
    assertShape("train_interleave", maxExchange = 1)
    assertShape("quality_rank_blend", maxExchange = 2)
    assertShape("mixture_waterfill", maxExchange = 2)
    assertShape("emb_centroid_confusion", maxExchange = 7)
    // wave 131-132 closers (measured)
    assertShape("crawl_novelty_forecast", maxExchange = 2)
    assertShape("events_croston", maxExchange = 3)
    assertShape("dedup_threshold_curve", maxExchange = 5)
    assertShape("conformal_length_bounds", maxExchange = 3)
  }

  test("flagship extraction is shuffle-free") {
    val pages = PagesTable.synthesize(spark, 16, 4)
    // payload parsed where produced, zero Exchange
    val narrow = ExtractPipeline.extract(pages)
      .queryExecution.executedPlan.toString
    assert(!narrow.contains("Exchange"),
      s"default extraction must stay narrow:\n$narrow")
  }
}

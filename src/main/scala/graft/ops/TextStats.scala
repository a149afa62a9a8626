package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, heuristic language scoring, and document
  * fingerprinting. Every expression is arithmetic over length/replace/
  * split/md5 — engine-portable semantics, so each query has an exact DuckDB
  * oracle. All codegen'd built-ins, no UDFs. */
object TextStats {

  /** Whitespace token count via occurrence arithmetic (exact and portable:
    * (len - len(remove ' ')) + 1, 0 for empty). */
  def tokenCountCol(text: Column): Column =
    when(length(trim(text)) === 0, 0L)
      .otherwise(length(text) - length(regexp_replace(text, " ", "")) + 1L)
      .cast("long")

  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenCountCol(col("text")).as("n_tokens"))

  /** Quality score components: char count, token count, mean token length,
    * punctuation count, stopword-ish density ("the"/"a" occurrences), upper
    * ratio. Scores are ×1000 integers to stay float-free across engines. */
  def quality(docs: DataFrame): DataFrame = {
    val nTok = tokenCountCol(col("text"))
    val nChar = length(col("text")).cast("long")
    val punct = (length(col("text")) -
      length(expr("replace(text, '.', '')"))).cast("long")
    val theCount = floor(
      (length(concat(lit(" "), col("text"), lit(" "))) -
        length(expr("replace(' ' || text || ' ', ' the ', '')"))).cast("double") / 5.0).cast("long")
    docs.select(
      col("doc_id"),
      nChar.as("n_chars"),
      nTok.as("n_tokens"),
      when(nTok > 0, floor((nChar - (nTok - 1)).cast("double") * 1000.0 / nTok.cast("double")))
        .otherwise(0L).cast("long").as("mean_tok_len_x1000"),
      punct.as("n_periods"),
      theCount.as("n_the"))
  }

  /** Gopher-style quality filter rules (Rae et al. 2021 §A1.1, the standard
    * web-corpus cleaning gate): token-count bounds, mean-word-length band,
    * symbol ratios, stopword presence. Pure codegen'd built-ins; the flags
    * and the aggregate keep/drop verdict are SQL-replicable bit-for-bit.
    * Thresholds are the published ones (50..100k tokens, mean word length
    * 3..10, <20%% non-alphanumeric-ish symbols, ≥2 distinct stopwords). */
  def gopherRules(docs: DataFrame, minTokens: Int = 50, maxTokens: Int = 100000): DataFrame = {
    val nTok = tokenCountCol(col("text"))
    val nChar = length(col("text")).cast("long")
    // mean word length ×1000 (integer arithmetic → identical in DuckDB)
    val meanLen = when(nTok > 0,
      floor((nChar - (nTok - 1)).cast("double") * 1000.0 / nTok.cast("double")))
      .otherwise(lit(0.0)).cast("long")
    val hashCnt = (nChar - length(expr("replace(text, '#', '')"))).cast("long")
    val dotsCnt = (length(col("text")) -
      length(expr("replace(text, '...', '')")).cast("long")) / lit(3)
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopwordHits = stopwords.map(w =>
      when(concat(lit(" "), col("text"), lit(" ")).contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      meanLen.as("mean_tok_len_x1000"),
      hashCnt.as("n_hash"),
      dotsCnt.cast("long").as("n_ellipsis"),
      stopwordHits.as("n_stopwords"),
      (nTok >= minTokens && nTok <= maxTokens &&
        meanLen >= 3000 && meanLen <= 10000 &&
        hashCnt * 10 <= nTok &&         // >0.1 #/word → drop
        stopwordHits >= 2).as("keep"))
  }

  /** Heuristic language-ID scores: per-language marker-token densities
    * (whitespace-delimited occurrence counts ×1000 / token count). The
    * marker lists are the classifier; argmax is the prediction. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "de"),
    "fr" -> Seq("le", "les", "et"))

  private def occurrences(word: String): Column = {
    val needle = s" $word "
    // non-overlapping occurrence count via replace-length arithmetic
    // (markers are alphanumeric; semantics identical in Spark and DuckDB)
    floor((length(expr("' ' || text || ' '")) -
      length(expr(s"replace(' ' || text || ' ', '$needle', '')"))).cast("double") /
      needle.length.toDouble).cast("long")
  }

  def langScores(docs: DataFrame): DataFrame = langScoresKeyed(docs, "doc_id")

  /** [[langScores]] over any key column (urls, hosts, …). */
  def langScoresKeyed(docs: DataFrame, key: String): DataFrame = {
    val nTok = tokenCountCol(col("text"))
    val scoreCols = markers.map { case (lang, words) =>
      val cnt = words.map(occurrences).reduce(_ + _)
      when(nTok > 0, floor(cnt.cast("double") * 1000.0 / nTok.cast("double")))
        .otherwise(0L).cast("long").as(s"score_$lang")
    }
    docs.select((col(key) +: scoreCols): _*)
  }

  /** Deterministic argmax over [[langScores]] columns: highest score wins,
    * marker order (en, de, es, fr) breaks ties, all-zero → "und". */
  def langArgmax(scored: DataFrame): DataFrame = {
    val langs = markers.map(_._1)
    val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    val pickFirstWins = langs.foldRight(lit("und"): Column) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0, l).otherwise(acc)
    }
    scored.withColumn("detected", pickFirstWins)
  }

  /** Deterministic boilerplate-planted corpus for [[boilerplatePrefix]]:
    * every doc gets its site-group's navigation header prepended — the
    * per-site constant prefix a template engine emits. */
  def corpusWithSitePrefix(docs: DataFrame, groups: Int = 25): DataFrame =
    docs.select(col("doc_id"), (col("doc_id") % groups).as("site"),
      concat(lit("SITE"), (col("doc_id") % groups).cast("string"),
        lit(" NAV HOME ABOUT | "), col("text")).as("text"))

  /** Per-site common-prefix boilerplate detection — the template-header
    * finder that decides how many leading characters to strip before
    * text enters the training corpus. Uses the classic order-statistics
    * identity: the longest common prefix of a SET of strings equals
    * LCP(lexicographic min, lexicographic max) — so a site with millions
    * of pages costs ONE min/max aggregate (map-side combined) and one
    * tiny per-site character scan, never a pairwise or positional
    * comparison. Output: (site, n_docs, lcp_len, lcp_md5).
    *
    * Scale shape: one (site, min, max) aggregate over the corpus; the
    * LCP loop runs on the site-count-sized result in a typed map. */
  def boilerplatePrefix(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.groupBy(col("site"))
      .agg(count(lit(1)).as("n"), min(col("text")).as("lo"),
        max(col("text")).as("hi"))
      .as[(Long, Long, String, String)]
      .map { case (site, n, lo, hi) =>
        val m = math.min(lo.length, hi.length)
        var i = 0
        while (i < m && lo.charAt(i) == hi.charAt(i)) i += 1
        (site, n, i.toLong, Dedup.md5Hex(lo.substring(0, i)))
      }
      .toDF("site", "n_docs", "lcp_len", "lcp_md5")
  }

  /** Language-ID EVALUATION against the table's labeled `lang` column —
    * the confusion matrix the marker detector ships with (a detector
    * without its error profile routes zh docs silently into 'und' or a
    * false positive; the matrix makes that cost visible before routing
    * decisions depend on it). Counts per (label, detected) plus each
    * cell's integer permille share of its label row.
    *
    * Scale shape: the scoring projection is the same codegen'd pass as
    * [[langScores]]; the rollup is (langs × langs+1)-sized, and the
    * per-label window runs on that tiny table. Output: (lang, detected,
    * n, lang_n, share_pm). */
  def langidEval(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val detected = langArgmax(langScores(docs))
      .select(col("doc_id"), col("detected"))
    docs.select(col("doc_id"), col("lang")).join(detected, "doc_id")
      .groupBy("lang", "detected").agg(count(lit(1)).as("n"))
      .withColumn("lang_n", sum(col("n")).over(Window.partitionBy("lang")))
      .withColumn("share_pm", expr("n * 1000 div lang_n"))
  }

  /** Document fingerprint: md5 of case-folded, punctuation-stripped,
    * space-normalized text — the cheap exact-dedup key for web corpora. */
  /** Benchmark decontamination — the training-data pipeline staple: flag
    * every corpus document sharing at least one word n-gram with an
    * evaluation/benchmark set (the n-gram–overlap rule of GPT-3 appendix C
    * / Gopher §A.3-style decontamination). The benchmark side is SMALL by
    * nature, so its distinct gram set broadcasts and the corpus side stays
    * a narrow scan + broadcast semi-join — at 10^12 rows the only shuffle
    * is the per-doc hit count aggregation (doc_id-keyed, map-side
    * combined). Gram strings (not hashes) keep the semantics bit-portable
    * to the DuckDB oracle; a production run at web scale would hash grams
    * to 8 bytes on both sides (same join shape). */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bGrams = benchmark.select(col("text")).as[String]
      .flatMap(t => graft.ops.Dedup.ngramStrings(t, n))
      .distinct().toDF("g")
    val dGrams = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => graft.ops.Dedup.ngramStrings(t, n).map(g => (id, g)) }
      .toDF("doc_id", "g")
    val hits = dGrams.join(broadcast(bGrams), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Span-level decontamination — the refinement every serious eval-hygiene
    * pass applies on top of any-gram flagging ([[decontaminate]]): a doc
    * quoting one benchmark sentence and a doc embedding three benchmark
    * paragraphs both flag "contaminated", but the LENGTH of the longest
    * CONTIGUOUS overlap separates fair-use quotation from true leakage
    * (the ≥N-consecutive-token rules of the GPT-4 / Llama decontamination
    * reports). Consecutive hit positions merge into islands via the
    * classic pos − row_number() grouping; per doc: total hit grams, span
    * count, and the longest span in words (island length + n−1).
    *
    * Scale shape: benchmark grams broadcast (eval sets are small by
    * nature); positional corpus grams never shuffle — only the surviving
    * (doc_id, pos) hit pairs enter the doc_id-keyed window, and a doc's
    * hit count is bounded by its own word count. Output rows only for
    * contaminated docs. */
  def contaminationSpans(docs: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val bGrams = benchmark.select(col("text")).as[String]
      .flatMap(t => graft.ops.Dedup.ngramStrings(t, n))
      .distinct().toDF("g")
    // positional grams, 1-based start index, NOT deduped — span geometry
    // needs every occurrence, unlike the distinct-gram flagging pass
    val pGrams = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = (if (t == null) "" else t).split(" ", -1)
        if (toks.length < n) Iterator.empty
        else (0 to toks.length - n).iterator.map { i =>
          (id, (i + 1).toLong, toks.slice(i, i + n).mkString(" "))
        }
      }.toDF("doc_id", "pos", "g")
    val hits = pGrams.join(broadcast(bGrams), Seq("g")).select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val islands = hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("len"))
    islands.groupBy("doc_id").agg(
      sum(col("len")).as("n_hit_grams"),
      count(lit(1)).as("n_spans"),
      (max(col("len")) + lit((n - 1).toLong)).as("max_span_words"))
  }

  /** Per-document n-gram NOVELTY — the marginal-value curve of corpus
    * growth: of each doc's distinct word 8-grams, how many occur in NO
    * earlier document (first occurrence = min doc_id over the corpus)?
    * High-novelty docs add content; near-zero novelty marks template
    * echoes and syndication tails that any dedup pass will later fight —
    * this is the signal for ORDERING ingestion, not just deduping it.
    *
    * Scale shape: novelty needs NO gram-to-doc join-back — the
    * first-occurrence table itself, re-keyed by its min doc_id, counts
    * each doc's novel grams. So: one gram-keyed min aggregate (map-side
    * combined), two doc_id-keyed counts, and a doc_id join; gram strings
    * cross the wire once (a web-scale run would hash them to 8 bytes,
    * same shape). `novel_pm` = −1 sentinels docs with no 8-grams. */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => graft.ops.Dedup.ngramStrings(t, n).map(g => (id, g)) }
      .toDF("doc_id", "g")
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("doc_id"))
    val nGrams = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val nNovel = first.groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    docs.select(col("doc_id"))
      .join(nGrams, Seq("doc_id"), "left")
      .join(nNovel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novel_pm", when(col("n_grams") === 0, lit(-1L))
        .otherwise(expr("n_novel * 1000 div n_grams")))
  }

  /** Fragment stitching — boundary-window continuation pairs: doc A's
    * trailing word n-gram equals doc B's leading n-gram. This is the
    * markup-free reassembly signal for re-chunked corpora (overlapping
    * chunk exports, WET-style text that lost its rel=next links, syndicated
    * articles that lead with the feed summary's tail); [[Dedup]] removes
    * copies, this finds SEQUENCE. Output one row per ordered candidate
    * pair with the shared boundary's md5.
    *
    * Scale shape: each doc contributes exactly TWO edge grams (head +
    * tail) — the join input is 2 rows/doc regardless of length, so the
    * gram-keyed shuffle is corpus-count-sized, never corpus-content-sized.
    * A boilerplate boundary gram (site chrome) fans out head×tail; the
    * `maxBucket` salt-cap drops those buckets the same way the LSH paths
    * do, keeping worst-case quadratic blowup bounded. */
  def continuationPairs(docs: DataFrame, n: Int = 8,
                        maxBucket: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edges = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = (if (t == null) "" else t).split(" ", -1)
        if (toks.length < n) Iterator.empty
        else Iterator(
          (id, "H", toks.take(n).mkString(" ")),
          (id, "T", toks.takeRight(n).mkString(" ")))
      }.toDF("doc_id", "side", "g")
    val capped = edges
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .where(col("bn") <= maxBucket)
    capped.where(col("side") === "T")
      .select(col("doc_id").as("prev_id"), col("g"))
      .join(capped.where(col("side") === "H")
        .select(col("doc_id").as("next_id"), col("g")), Seq("g"))
      .where(col("prev_id") =!= col("next_id"))
      .select(col("prev_id"), col("next_id"), md5(col("g")).as("boundary_md5"))
  }

  /** Deterministic continuation-planted corpus for [[continuationPairs]]:
    * every doc_id % 13 == 0 base doc gets a partner (id + 940000) whose
    * text OPENS with the base doc's trailing n words — the ground-truth
    * stitched pair set. */
  def corpusWithContinuations(docs: DataFrame, n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val partners = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .filter(r => r._1 % 13 == 0 && r._2.split(" ", -1).length >= n)
      .map { case (id, t) =>
        val tail = t.split(" ", -1).takeRight(n).mkString(" ")
        (id + 940000L, tail + s" continuation body of doc $id carries on here")
      }.toDF("doc_id", "text")
    docs.select(col("doc_id"), col("text")).unionByName(partners)
  }

  /** Boilerplate-MASKED dedup — the integration the two standalone ops
    * exist for: site chrome (nav headers) makes cross-site mirror pages
    * hash-distinct, so exact dedup under-counts until the per-site
    * boilerplate prefix ([[boilerplatePrefix]]'s LCP(min,max)) is
    * stripped. Reports the md5-group histogram summary BEFORE and AFTER
    * the strip: docs, groups, docs-in-dup-groups, and Σ C(n,2) dup pairs
    * — the before→after delta is exactly the duplication the chrome hid.
    *
    * Scale shape: the LCP table is site-sized and broadcasts back; each
    * phase is one md5-keyed count (map-side combined) + a single-row
    * rollup. Input contract: (doc_id, site, text). */
  def maskedDedupStats(corpus: DataFrame): DataFrame = {
    // a single-doc site's LCP is its whole text — stripping would leave ""
    // and glue unrelated singletons into one spurious dup group
    val lcp = boilerplatePrefix(corpus)
      .select(col("site"),
        when(col("n_docs") === 1, 0L).otherwise(col("lcp_len")).as("lcp_len"))
    val stripped = corpus.join(broadcast(lcp), Seq("site"))
      .select(col("text"),
        expr("substring(text, cast(lcp_len as int) + 1)").as("stext"))
    def stats(key: String, phase: String): DataFrame =
      stripped.groupBy(md5(col(key)).as("g")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)).as("n_dup_docs"),
          sum(expr("n * (n - 1) div 2")).as("dup_pairs"))
        .select(lit(phase).as("phase"), col("n_docs"), col("n_groups"),
          col("n_dup_docs"), col("dup_pairs"))
    stats("text", "before").unionByName(stats("stext", "after"))
  }

  /** Deterministic mirrored-body corpus for [[maskedDedupStats]]: doc i
    * lives on site i mod `sites` with that site's nav header; its BODY
    * depends only on i div `sites`, so every body appears once per site —
    * cross-site duplicates that full-text hashing cannot see. Body first
    * letters cycle a 23-letter alphabet so the site LCP stops exactly at
    * the header (bodies share no common prefix within a site). */
  def corpusWithMirroredBodies(docs: DataFrame, sites: Int = 5): DataFrame =
    docs.select(col("doc_id"))
      .withColumn("site", col("doc_id") % sites)
      .withColumn("k", expr(s"doc_id div $sites"))
      .select(col("doc_id"), col("site"),
        concat(lit("SITE"), col("site").cast("string"),
          lit(" NAV HOME ABOUT | "),
          expr("substr('abcdefghijklmnopqrstuvw', cast(k % 23 as int) + 1, 1)"),
          lit("body "), col("k").cast("string"),
          lit(" shared content tail for dedup")).as("text"))

  /** Corpus distribution DRIFT between two crawl snapshots — the data-
    * quality monitor that catches a silently-changed extractor or a
    * crawler policy shift before it poisons training mixes: token-count
    * distribution over PINNED buckets (no data-dependent quantiles — the
    * monitor must mean the same thing every run), per-snapshot floored
    * permille shares, per-bucket deltas, and the total-variation distance
    * Σ|Δ|/2 in permille. Integer-exact end to end: shares floor BEFORE
    * differencing, so both engines agree bit-for-bit (documented
    * quantization ±1 pm per bucket).
    *
    * Scale shape: one map-side-combined (snapshot, bucket) count — the
    * corpus contributes a single scan; everything after runs on ≤5 rows. */
  def snapshotDrift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = tokenCountCol(col("text"))
    val bucket = when(nTok < 50, "a_lt50")
      .when(nTok < 100, "b_50_99")
      .when(nTok < 200, "c_100_199")
      .when(nTok < 500, "d_200_499")
      .otherwise("e_ge500")
    val counts = docs
      .select(bucket.as("bucket"), (col("doc_id") % 2 === 0).as("snap_a"))
      .groupBy("bucket")
      .agg(sum(when(col("snap_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("snap_a"), 1L).otherwise(0L)).as("n_b"))
    val w = Window.partitionBy()
    counts
      .withColumn("tot_a", sum(col("n_a")).over(w))
      .withColumn("tot_b", sum(col("n_b")).over(w))
      .withColumn("share_a_pm", expr("n_a * 1000 div tot_a"))
      .withColumn("share_b_pm", expr("n_b * 1000 div tot_b"))
      .withColumn("delta_pm", col("share_a_pm") - col("share_b_pm"))
      .withColumn("sum_abs", sum(abs(col("delta_pm"))).over(w))
      .withColumn("tvd_pm", expr("sum_abs div 2"))
      .drop("tot_a", "tot_b", "sum_abs")
  }

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))).as("fp"))

  /** PII patterns — kept to the Java∩RE2 common dialect (\b, \d, classes,
    * bounded reps) so Spark's codegen'd regexp_count/regexp_replace and the
    * DuckDB oracle agree match-for-match. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Deterministic PII-bearing correctness corpus: appends a synthetic
    * email / IPv4 / phone span to documents on fixed doc_id residues —
    * reproduced verbatim in the oracle SQL (concat + CAST arithmetic only),
    * so detection counts and the redacted text are value-checkable. */
  def corpusWithPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com soon"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
          lit("."), ((col("doc_id") * 7) % 250).cast("string"), lit(".44 today"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" call 555-"), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), (col("doc_id") % 9000 + 1000).cast("string"), lit(" now"))).otherwise(lit("")))
      .as("text"))

  /** PII detection + redaction — the training-data scrubbing staple.
    * Per-row regexp scans (codegen'd, no shuffle, no UDF — the 100-TB shape
    * is a narrow map over the corpus scan). Counts per category plus the
    * md5 of the fully-redacted text (email→<EMAIL>, then IP→<IP>, then
    * phone→<PHONE>, in that fixed order), which proves the replacement
    * itself — not just the counts — matches the oracle byte-for-byte. */
  def piiStats(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ipv4"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      md5(redacted).as("redacted_md5"))
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010 — the
    * document-local keyword staple for corpus indexing and topic audits):
    * candidate phrases are the maximal runs of non-stopword tokens;
    * word score = degree/freq where degree sums the lengths of the
    * phrases the word occurs in and freq counts its occurrences; a
    * phrase scores the sum of its words' scores. All INTEGER: word score
    * floors to milli (degree·1000 div freq), phrase score sums exactly;
    * duplicate phrases in a doc dedupe (their stats already counted
    * every occurrence); top `k` per doc by (score desc, phrase asc).
    *
    * Scale shape: pure per-row flatMap — each document's phrases, word
    * stats, and ranking live entirely in that row's task; the corpus
    * never shuffles (the only Exchange is the caller's display sort).
    * Output: (doc_id, phrase, score_m, rank). */
  def rakeKeywords(docs: DataFrame, k: Int = 3,
                   stopwords: Set[String] = Set("a", "the")): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = if (text == null) Array.empty[String]
          else text.split(" ", -1).filter(_.nonEmpty)
        // maximal non-stopword runs
        val phrases = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
        var run = scala.collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { t =>
          if (stopwords.contains(t)) {
            if (run.nonEmpty) { phrases += run.toArray; run = scala.collection.mutable.ArrayBuffer.empty }
          } else run += t
        }
        if (run.nonEmpty) phrases += run.toArray
        val freq = new scala.collection.mutable.HashMap[String, Long]()
        val degree = new scala.collection.mutable.HashMap[String, Long]()
        phrases.foreach { p =>
          p.foreach { w =>
            freq.update(w, freq.getOrElse(w, 0L) + 1L)
            degree.update(w, degree.getOrElse(w, 0L) + p.length.toLong)
          }
        }
        val scored = phrases.map { p =>
          (p.mkString(" "), p.map(w => degree(w) * 1000L / freq(w)).sum)
        }.distinct
        scored.sortBy { case (phrase, s) => (-s, phrase) }
          .take(k).zipWithIndex
          .map { case ((phrase, s), i) => (id, phrase, s, i + 1) }
      }
      .toDF("doc_id", "phrase", "score_m", "rank")
  }

  /** Within-document repetition signals — the second half of the Gopher
    * §A1.1 rule set (Rae et al. 2021: top-n-gram fraction, duplicate-line
    * fraction), adapted to word-stream documents: the most-frequent unigram
    * and bigram's share of the document, and the share of tokens belonging
    * to any repeated unigram. One typed-map pass per row (two hash maps of
    * the row's own tokens — O(tokens) memory, narrow plan, no shuffle);
    * ×1000 floor-integer ratios keep the values engine-portable. */
  def repetition(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val toks = if (t == null || t.trim.isEmpty) Array.empty[String] else t.split(" ", -1)
        val n = toks.length
        val uni = new scala.collection.mutable.HashMap[String, Long]()
        toks.foreach(w => uni.update(w, uni.getOrElse(w, 0L) + 1L))
        val bi = new scala.collection.mutable.HashMap[String, Long]()
        var i = 0
        while (i + 1 < n) { val b = toks(i) + " " + toks(i + 1); bi.update(b, bi.getOrElse(b, 0L) + 1L); i += 1 }
        val topUni = if (uni.isEmpty) 0L else uni.values.max
        val topBi = if (bi.isEmpty) 0L else bi.values.max
        val dupToks = uni.values.filter(_ > 1L).sum
        def frac(num: Long, den: Long): Long =
          if (den == 0L) 0L else math.floor(num.toDouble * 1000.0 / den.toDouble).toLong
        (id, n.toLong, frac(topUni, n), frac(topBi, math.max(n - 1, 0)), frac(dupToks, n))
      }
      .toDF("doc_id", "n_tokens", "top_unigram_x1000", "top_bigram_x1000", "dup_token_x1000")
  }

  /** CCNet-style corpus-LM quality scoring (Wenzek et al. 2020 §4.3): a
    * unigram language model is fit on the corpus itself, then each
    * document is scored by its mean token surprisal — fluent/typical text
    * scores low, repetitive or out-of-distribution text scores high — plus
    * its out-of-vocabulary rate.
    *
    * Two distributed passes:
    *  1. vocab fit: token counts (classic word-count — one hash shuffle,
    *     map-side combined), top `vocabSize` by (count desc, token asc);
    *     the fitted model is `vocabSize` (token, surprisal) pairs — driver
    *     collect is O(vocabSize), never O(corpus).
    *  2. scoring: the tiny model ships as a LITERAL map inside a
    *     whole-stage-codegen'd projection (transform + element_at +
    *     aggregate higher-order functions, zero UDFs, zero joins, zero
    *     shuffle) — at 10^12 rows the scoring pass is a pure narrow scan.
    *
    * Numbers stay engine-portable: per-token surprisal is quantized ONCE
    * (floor(ln(total/count)·1000), integers from there on), so the DuckDB
    * oracle reproduces every value bit-for-bit; ln differences between
    * libms are ~1e-13 against measured floor-boundary margins of ≥1e-3 on
    * the fitted counts. */
  def lmScore(docs: DataFrame, vocabSize: Int = 16): DataFrame = {
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c"))).collect()(0).getLong(0)
    val vocab = counts.orderBy(col("c").desc, col("w")).limit(vocabSize).collect()
      .map(r => r.getString(0) ->
        math.floor(math.log(total.toDouble / r.getLong(1)) * 1000.0).toLong)
      .toMap
    val lpMap = typedLit(vocab)
    val arr = filter(split(col("text"), " "), t => length(t) > 0)
    val lps = transform(arr, t => element_at(lpMap, t))
    val nTok = size(arr).cast("long")
    val nOov = size(filter(lps, x => x.isNull)).cast("long")
    val nInv = nTok - nOov
    val sumLp = aggregate(filter(lps, x => x.isNotNull), lit(0L), (a, x) => a + x)
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      nOov.as("n_oov"),
      when(nInv > 0, floor(sumLp.cast("double") / nInv.cast("double")))
        .otherwise(0L).cast("long").as("lm_score_x1000"),
      when(nTok > 0, floor(nOov.cast("double") * 1000.0 / nTok.cast("double")))
        .otherwise(0L).cast("long").as("oov_x1000"))
  }

  /** Cross-document repeated n-grams — the memorization-risk signal
    * (Lee et al. 2022's exact-substring dedup at n-gram granularity):
    * token n-grams occurring in ≥ minDocs DISTINCT documents, with exact
    * doc counts and the smallest containing doc id as the exemplar.
    *
    * Scale shape: gram expansion is IN-ROW (transform over the token
    * array, array_distinct per doc so a doc contributes each gram once);
    * the aggregate is algebraic (count + min) so hot grams combine
    * map-side before the single gram-keyed Exchange — per-gram state is
    * two longs, never a posting list. Complements decontaminate (external
    * benchmark grams, broadcast semi-join) and Dedup.repeatedSpans (the
    * per-DOC shared-position shares): this is the gram-side inventory —
    * which spans repeat, how widely, and where to look first. */
  def repeatedNgrams(docs: DataFrame, n: Int = 5, minDocs: Long = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed gram expansion: one pass per doc with an insertion-ordered
    // distinct set — the former transform(sequence)+slice+concat_ws HOF
    // chain evaluated ~8 interpreted sub-expressions per position per doc.
    // Same gram strings (space-joined n-token windows over the nonempty
    // token list), same distinct-per-doc set feeding the same rollup.
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = if (t == null) Array.empty[String] else t.split(" ", -1).filter(_.nonEmpty)
        if (toks.length < n) Iterator.empty
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i <= toks.length - n) {
            val sb = new java.lang.StringBuilder(toks(i))
            var j = i + 1
            while (j < i + n) { sb.append(' ').append(toks(j)); j += 1 }
            seen.add(sb.toString)
            i += 1
          }
          val out = new scala.collection.mutable.ArrayBuffer[(Long, String)](seen.size)
          seen.forEach(g => out += ((id, g)))
          out.iterator
        }
      }
      .toDF("doc_id", "gram")
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** GPT-2-style BPE pre-tokenization (Radford et al. 2019 §2.2), ASCII,
    * lookahead-free so the SAME pattern source behaves identically under
    * java.util.regex (Spark) and RE2 (DuckDB): both engines use
    * leftmost-first alternation, and the classes are explicit ASCII sets
    * (no \s, whose membership differs between the engines). Pieces are
    * ` ?letters | ?digits | ?symbol-run | whitespace-run`. */
  val bpePiecePattern: String =
    " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\r]+|[ \\t\\n\\r]+"

  /** BPE-ish token statistics per document: regex pre-tokenizer piece count,
    * a subword estimate (each piece contributes ceil(len/4) — the ~4
    * bytes/token BPE rate of web English), subword fertility per whitespace
    * word, and bytes per subword. The plan is a pure narrow scan — one
    * codegen'd regexp_extract_all plus higher-order aggregate per row, no
    * shuffle, no UDFs — so at 10^12 rows it runs at scan speed. All derived
    * ratios are ×1000 floor integers (exact in binary64: products < 2^53),
    * which is what makes the DuckDB oracle bit-exact. */
  def bpeTokenStats(docs: DataFrame): DataFrame = {
    val pieces = regexp_extract_all(col("text"), lit(bpePiecePattern), lit(0))
    val sub = aggregate(pieces, lit(0L),
      (a, p) => a + floor((length(p) + lit(3)).cast("double") / 4.0).cast("long"))
    val nTokens = tokenCountCol(col("text"))
    val nChars = length(col("text")).cast("long")
    docs.select(
      col("doc_id"),
      size(pieces).cast("long").as("n_pieces"),
      sub.as("n_subwords"),
      when(nTokens > 0, floor(sub.cast("double") * 1000.0 / nTokens.cast("double")))
        .otherwise(0L).cast("long").as("subwords_per_word_x1000"),
      when(sub > 0, floor(nChars.cast("double") * 1000.0 / sub.cast("double")))
        .otherwise(0L).cast("long").as("bytes_per_subword_x1000"))
  }

  /** The assembled quality GATE — the keep/drop decision a corpus
    * pipeline actually executes after computing its signals: Gopher-style
    * structural rules plus repetition caps, first-failing-reason-wins so
    * every dropped doc carries an auditable reason code (the reason
    * distribution is the dashboard every data team watches). Signals
    * compute in their own passes (a column projection and a typed
    * repetition map); the gate itself is one doc_id-keyed sort-merge join
    * plus a codegen'd CASE — at 10^12 rows the join is the only
    * shuffle, and co-partitioned/bucketed signal tables make it
    * Exchange-free (the BucketedJoinSpec shape). */
  def corpusGate(docs: DataFrame,
                 maxTopUnigramX1000: Long = 200,
                 maxDupTokenX1000: Long = 500): DataFrame = {
    val g = gopherRules(docs).select(col("doc_id"), col("keep").as("gopher_keep"))
    val r = repetition(docs)
      .select(col("doc_id"), col("top_unigram_x1000"), col("dup_token_x1000"))
    val reason = when(!col("gopher_keep"), "gopher")
      .when(col("top_unigram_x1000") > maxTopUnigramX1000, "top_unigram")
      .when(col("dup_token_x1000") > maxDupTokenX1000, "dup_tokens")
      .otherwise("keep")
    g.join(r, Seq("doc_id"))
      .select(col("doc_id"), col("gopher_keep"),
        col("top_unigram_x1000"), col("dup_token_x1000"),
        reason.as("reason"), (reason === "keep").as("keep"))
  }

  /** Duplication × quality interaction matrix — the curation sanity check
    * "does dedup remove disproportionately low-quality documents?" that
    * decides whether to dedup before or after the quality gate (CCNet and
    * RefinedWeb both report this interaction): exact-dup cluster size per
    * doc (md5 groups) bucketed {unique, 2-3, 4-7, 8+} crossed with the
    * assembled [[corpusGate]] keep/drop decision, with integer permille
    * keep rates per bucket.
    *
    * Scale shape: one md5 rollup + one hash join back (both on the
    * 16-byte digest), the gate's own joins, and a 4-row bucket rollup —
    * no pairwise work anywhere. Output: (bucket, n_docs, n_keep,
    * keep_pm). */
  def dupQualityMatrix(corpus: DataFrame): DataFrame = {
    val sizes = corpus.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("csize"))
    val withSize = corpus.select(col("doc_id"), md5(col("text")).as("h"))
      .join(sizes, "h")
    val gate = corpusGate(corpus).select(col("doc_id"), col("keep"))
    withSize.join(gate, Seq("doc_id"))
      .select(when(col("csize") === 1, "unique")
        .when(col("csize") <= 3, "dup_2_3")
        .when(col("csize") <= 7, "dup_4_7")
        .otherwise("dup_8_plus").as("bucket"), col("keep"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_pm", expr("n_keep * 1000 div n_docs"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every char k-gram, slide a w-window over
    * the hash sequence, select each window's MINIMUM (rightmost on ties),
    * dedupe selections. Guarantees every shared substring of length
    * ≥ k+w-1 contributes a shared fingerprint — the POSITIONAL
    * complement of MinHash/SimHash here: those detect whole-document
    * near-duplication; winnowing localizes which spans match (plagiarism
    * / quote / license-block detection in a training corpus).
    *
    * Entirely per-row higher-order built-ins (substr → md5 hash →
    * window-min): narrow plan, zero shuffle, zero UDFs. The k-gram hash
    * is the md5 little-endian construction mod 2^31 — bit-identical to
    * DuckDB's `md5_number_upper % 2^31`, so the oracle replays selection
    * exactly. Output pins the selection set per doc (count, xor of
    * selected hashes, sum of selected positions) rather than exploding
    * fingerprint rows — at 10^12 docs the fingerprint INDEX would be
    * built by a downstream groupBy(h) on the exploded set; the pins here
    * verify the selection algorithm itself. */
  /** Winnow selection core: k-gram hashes (md5 little-endian u64 mod 2³¹
    * — bit-identical to DuckDB's `md5_number_upper % 2^31`) and
    * rightmost-min window selection, ONE md5 per gram in a tight typed
    * loop. Deliberately NOT a Catalyst higher-order expression: a lambda
    * that windows over a computed gram array re-evaluates the whole
    * array per window after projection collapse — O(G²) md5 calls per
    * row. Returns (n_grams, packed
    * selections) with each selection packed pos·2³¹ + hash (hash < 2³¹,
    * lossless), first-occurrence deduped. */
  private[ops] def winnowSelect(text: String, k: Int, w: Int): (Int, Array[Long]) = {
    val M = 2147483648L
    if (text == null || text.length < k) return (0, Array.emptyLongArray)
    val g = new Array[Long](text.length - k + 1)
    var i = 0
    while (i < g.length) {
      g(i) = java.lang.Long.remainderUnsigned(
        Dedup.shingleHashMd5(text.substring(i, i + k)), M)
      i += 1
    }
    if (g.length < w) return (g.length, Array.emptyLongArray)
    val sel = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j + w <= g.length) {
      var m = g(j); var rel = 0
      var t = 1
      // <= keeps the LAST index attaining the minimum: rightmost tie-break
      while (t < w) { if (g(j + t) <= m) { m = g(j + t); rel = t }; t += 1 }
      sel.add((j + rel + 1).toLong * M + m) // 1-based gram position
      j += 1
    }
    val arr = new Array[Long](sel.size)
    val it = sel.iterator(); var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    (g.length, arr)
  }

  def winnow(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val M = 2147483648L
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val (ng, sel) = winnowSelect(text, k, w)
        var xor = 0L; var sumPos = 0L
        sel.foreach { p => xor ^= (p & (M - 1)); sumPos += (p >>> 31) }
        (id, ng.toLong, sel.length.toLong, xor, sumPos)
      }
      .toDF("doc_id", "n_grams", "n_selected", "xor_sig", "sum_pos")
  }

  /** The DISTINCT winnow fingerprint hashes per doc (positions dropped) —
    * the per-doc half of the cross-doc shared-span join. Same selection
    * as [[winnow]]. */
  def winnowHashes(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val M = 2147483648L
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val sel = winnowSelect(text, k, w)._2
        val hs = new java.util.LinkedHashSet[java.lang.Long]()
        sel.foreach(p => hs.add(p & (M - 1)))
        val arr = new Array[Long](hs.size)
        val it = hs.iterator(); var x = 0
        while (it.hasNext) { arr(x) = it.next(); x += 1 }
        (id, arr)
      }
      .toDF("doc_id", "hs")
  }

  /** Cross-doc shared-span pairs — the distributed MOSS join: invert the
    * winnow fingerprints, pair docs inside each fingerprint bucket, count
    * distinct shared fingerprints per pair, keep pairs sharing at least
    * `minShared`. Every shared substring of length ≥ k+w−1 lands a
    * shared fingerprint, so heavy quote / license-block / template reuse
    * shows up even when whole-doc similarity is low — the span-level
    * complement of MinHash.
    *
    * Scale shape: fingerprint rows are two longs, and fingerprints in
    * more than `maxDf` documents are DROPPED before pairing — the
    * standard MOSS move, and the load-bearing one: an over-common span
    * ("the and of…", site chrome, license boilerplate) carries no
    * match signal but would pair quadratically (one fingerprint in 10⁶
    * docs = 5·10¹¹ pairs). The df filter is one algebraic count; what
    * survives pairs in buckets of ≤ maxDf docs, and the per-pair count
    * is map-side combined. The oracle applies the identical df cut, so
    * the join is exhaustive over retained fingerprints. */
  def winnowPairs(docs: DataFrame, minShared: Long = 10,
                  maxDf: Long = 50): DataFrame = {
    // fingerprints are consumed three times (df count + both join sides):
    // persist so the per-doc selection runs once, release after the
    // (tiny, threshold-pruned) pair set materializes — the minhashLsh
    // cache discipline
    val fp = winnowHashes(docs).select(col("doc_id"), explode(col("hs")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = fp.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= maxDf)
    val kept = fp.join(sizes, Seq("h"))
    val out = kept.select(col("h"), col("doc_id").as("a"))
      .join(kept.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .localCheckpoint(true)
    fp.unpersist(false)
    out
  }

  /** Deterministic bare-URL planting (the corpus text has none): three
    * independent residue channels append mentions with the messiness an
    * extractor must survive — trailing punctuation, parenthesized
    * scheme-less www forms, host case noise. Mirrored verbatim in the
    * DuckDB oracle. */
  def corpusWithUrlMentions(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" see https://ref"), col("doc_id") % 7,
            lit(".example/x?b=2&a=1"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" via http://Mirror"), col("doc_id") % 4,
            lit(".Example.org/path."))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" (www.bare"), col("doc_id") % 3,
            lit(".example/q)"))).otherwise(lit(""))))

  /** Bare-URL mining from plain text — the reference-graph enrichment a
    * text corpus gets without any html: every http(s)/www mention,
    * trailing punctuation stripped, host lowercased. Per doc: mention
    * count, distinct-host count, and the sorted host list. One codegen'd
    * projection of regexp/array built-ins — zero shuffle, zero UDFs; at
    * 100 TB this is a narrow pass whose output is 10³× smaller than its
    * input. */
  def urlMentions(docs: DataFrame): DataFrame = {
    val raw = expr("""regexp_extract_all(text, '(?:https?://|www\\.)[^\\s)]+', 0)""")
    val cleaned = transform(raw, m => regexp_replace(m, "[.,;!?]+$", ""))
    val hosts = transform(cleaned, c =>
      lower(regexp_extract(c, "^(?:https?://)?([^/?#]+)", 1)))
    docs
      .select(col("doc_id"), cleaned.as("mentions"), hosts.as("hosts"))
      .where(size(col("mentions")) > 0)
      .select(col("doc_id"),
        size(col("mentions")).cast("long").as("n_urls"),
        size(array_distinct(col("hosts"))).cast("long").as("n_hosts"),
        array_join(array_sort(array_distinct(col("hosts"))), ",").as("hosts_csv"))
  }

  /** Citation graph from plain-text mentions — [[urlMentions]] composed
    * into (citing domain → cited host) edges with mention counts: the
    * reference-graph a text-only corpus can still build (papers, forums,
    * and docs cite by bare URL, not <a>). One narrow extraction, one
    * doc-keyed join to attach the citing domain, one algebraic edge
    * rollup. Self-citations kept (consumers filter — internal citation
    * density is itself a signal). */
  def citationGraph(mentions: DataFrame, normalized: DataFrame): DataFrame =
    mentions
      .select(col("doc_id"), explode(split(col("hosts_csv"), ",")).as("dst_host"))
      .join(normalized.select(col("doc_id"), col("domain").as("src_domain")), "doc_id")
      .groupBy("src_domain", "dst_host")
      // hosts_csv is per-doc-distinct, so this counts CITING DOCUMENTS —
      // the presence metric a citation graph wants (not raw mention spam)
      .agg(count(lit(1)).as("n_docs"))

  /** Integer IDF rarity score per document — the corpus-relative novelty
    * signal (boilerplate-heavy docs score near 0, jargon/OOV-heavy docs
    * score high; mixture designers use it to up-weight rare content).
    * Per-token rarity is the BIT WIDTH of N div df — floor(log2(N/df)) —
    * computed from `length(bin(x)) − 1`, pure string built-ins, so unlike
    * float log-IDF it is bit-exact on any engine and summation order.
    * Doc score = Σ occurrence-rarity · 1000 div n_tokens.
    *
    * Scale shape: token explode is narrow; the df table is one algebraic
    * (token, countDistinct doc) rollup; the re-attach join shuffles on
    * the token key (sort-merge, partial-agg'd both sides); the per-doc
    * rollup shuffles (doc_id, bits) pairs. No collect, no windows —
    * at 10^12 docs every stage is a standard keyed exchange. */
  def rarity(docs: DataFrame): DataFrame = {
    // tok is deliberately NOT checkpointed despite feeding two branches
    // (df rollup + re-attach join): the exploded token table is LARGER
    // than the text it came from, so materializing it costs more than the
    // second scan+split — the opposite trade from the small intermediates
    // this repo checkpoints (domain tables, pair sets). docs.count() is a
    // parquet-statistics read, not a data scan.
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "")
    val n = docs.count()
    val dfreq = tok.groupBy("t").agg(countDistinct(col("doc_id")).as("df"))
    tok.join(dfreq, "t")
      .select(col("doc_id"),
        (length(bin(expr(s"CAST($n AS BIGINT) div df"))) - 1)
          .cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           expr("sum(bits) * 1000 div count(1)").as("rarity_milli"))
  }

  /** Interpolated Kneser-Ney bigram LM fit (Kneser & Ney 1995; Chen &
    * Goodman 1999 eq. 4.25) over the corpus — the n-gram LM a CCNet-style
    * quality scorer trains: absolute discount d = 0.75, continuation
    * probability from distinct-left-context counts.
    *
    *   p_kn(w2|w1) = (c(w1w2) − d)/c(w1·) + d·N1+(w1·)/c(w1·) · N1+(·w2)/D
    *
    * Distributed shape: ONE bigram-count shuffle (map-side combined); the
    * follower/continuation tables are groupBys OF THE COUNTED table (vocab-
    * sized, far smaller than the corpus); the bigram-type total D joins in
    * as a broadcast 1-row aggregate, not a driver collect. Probability is
    * emitted as floor(p·1e9) with the arithmetic written identically in the
    * SQL oracle — bit-identical IEEE doubles, exact compare. Output: the
    * `topN` bigrams by count (ties by bigram), with counts and p_kn. */
  def knBigramFit(docs: DataFrame, topN: Int = 30): DataFrame = {
    val toks = docs.select(split(col("text"), " ").as("t")).where(size(col("t")) >= 2)
    val bg = toks
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .where(col("w1") =!= "" && col("w2") =!= "")
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val fw = bc.groupBy("w1").agg(sum(col("c")).as("ct"), count(lit(1)).as("nf"))
    val cw = bc.groupBy("w2").agg(count(lit(1)).as("nc"))
    val dd = bc.agg(count(lit(1)).as("dd"))
    bc.join(fw, "w1").join(cw, "w2").crossJoin(broadcast(dd))
      .select(col("w1"), col("w2"), col("c"),
        expr("""CAST(FLOOR(((CAST(c AS DOUBLE) - 0.75D) / CAST(ct AS DOUBLE)
                 + 0.75D * CAST(nf AS DOUBLE) / CAST(ct AS DOUBLE)
                   * (CAST(nc AS DOUBLE) / CAST(dd AS DOUBLE))) * 1e9) AS BIGINT)""")
          .as("p_kn_x1e9"))
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Document scoring under the corpus-fitted interpolated-KN bigram LM —
    * the CCNet quality signal proper (Wenzek et al. 2020 §4.3 score docs
    * with an LM trained on a REFERENCE corpus): the model fits on the
    * doc_id % fitModulus == 0 slice, every document scores against it, so
    * held-out docs genuinely exercise the backoff classes (bigram seen /
    * w1-seen backoff / w1 OOV → uniform 1/V). Per-position probability is
    * quantized floor(p·1e9) with the arithmetic written identically in the
    * oracle (the [[knBigramFit]] IEEE-replay trick); sums and means are
    * then exact integers.
    *
    * Distributed shape: the fit is [[knBigramFit]]'s one bigram-count
    * shuffle + vocab-sized rollups; scoring is three hash joins of the
    * positional gram stream against vocab-sized model tables (the standard
    * LM-scoring join — at 10^12 docs the model side would bucket or
    * broadcast per-shard), then one map-side-combined per-doc aggregate.
    * No collects, no windows. */
  def knScore(docs: DataFrame, fitModulus: Long = 4): DataFrame = {
    val bgExpr =
      "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
    val fitToks = docs.where(col("doc_id") % fitModulus === 0)
      .select(split(col("text"), " ").as("t")).where(size(col("t")) >= 2)
    val fbg = fitToks.select(explode(expr(bgExpr)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .where(col("w1") =!= "" && col("w2") =!= "")
    // materialize the bigram-count table once: fw/cw/dd and the scoring
    // join all derive from it — without this the corpus-scale bigram
    // shuffle re-runs four times (vocab-sized table, cheap to hold)
    val bc = fbg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val fw = bc.groupBy("w1").agg(sum(col("c")).as("ct"), count(lit(1)).as("nf"))
    val cw = bc.groupBy("w2").agg(count(lit(1)).as("nc"))
    val dd = bc.agg(count(lit(1)).as("dd"))
    val voc = fitToks.select(explode(col("t")).as("u")).where(col("u") =!= "")
      .agg(countDistinct(col("u")).as("v"))
    val pos = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(bgExpr)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .where(col("w1") =!= "" && col("w2") =!= "")
    pos.join(bc, Seq("w1", "w2"), "left")
      .join(fw, Seq("w1"), "left")
      .join(cw, Seq("w2"), "left")
      .crossJoin(broadcast(dd)).crossJoin(broadcast(voc))
      .select(col("doc_id"),
        expr("""CASE WHEN c IS NOT NULL THEN
                  CAST(FLOOR(((CAST(c AS DOUBLE) - 0.75D) / CAST(ct AS DOUBLE)
                    + 0.75D * CAST(nf AS DOUBLE) / CAST(ct AS DOUBLE)
                      * (CAST(nc AS DOUBLE) / CAST(dd AS DOUBLE))) * 1e9) AS BIGINT)
                WHEN ct IS NOT NULL THEN
                  CAST(FLOOR((0.75D * CAST(nf AS DOUBLE) / CAST(ct AS DOUBLE)
                    * (CAST(coalesce(nc, 0) AS DOUBLE) / CAST(dd AS DOUBLE))) * 1e9) AS BIGINT)
                ELSE CAST(1000000000 AS BIGINT) div v END""").as("p"),
        expr("c IS NOT NULL").as("seen"),
        expr("c IS NULL AND ct IS NOT NULL").as("backoff"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST(count_if(seen) AS BIGINT)").as("n_seen"),
        expr("CAST(count_if(backoff) AS BIGINT)").as("n_backoff"),
        sum(col("p")).as("score_x1e9"),
        expr("sum(p) div count(1)").as("mean_x1e9"))
  }

  /** OCR-noise planting: residue %6==0 gets a spaced-letters run (the
    * classic per-glyph OCR failure), %6==3 gets digit-for-letter
    * substitutions. Mirrored verbatim in the oracle. */
  def corpusWithOcrNoise(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 6 === 0,
          lit(" t h i s i s b r o k e n o c r t e x t")).otherwise(lit("")),
        when(col("doc_id") % 6 === 3,
          lit(" w0rd c0rrupt10n m1xed d1g1ts everywh3re")).otherwise(lit(""))))

  /** OCR-artifact detection — the quality gate for scanned-PDF text:
    * per-glyph splits ("t h i s") inflate single-char tokens, confusion
    * substitutions ("c0rrupt10n") inflate digit-letter-mixed tokens.
    * Three fixed-shape array lambdas over one split (codegen'd, zero
    * shuffle); thresholds integer-permille so the oracle replays the
    * decision exactly. */
  def ocrArtifacts(docs: DataFrame,
                   maxSingleX1000: Long = 150,
                   maxMixedX1000: Long = 100): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(expr("filter(t, x -> length(x) = 1)")).cast("long").as("n_single"),
        size(expr("filter(t, x -> x rlike '[0-9]' AND x rlike '[a-z]')"))
          .cast("long").as("n_mixed"))
      .withColumn("single_x1000", expr("CASE WHEN n_tokens = 0 THEN 0 ELSE n_single * 1000 div n_tokens END"))
      .withColumn("mixed_x1000", expr("CASE WHEN n_tokens = 0 THEN 0 ELSE n_mixed * 1000 div n_tokens END"))
      .withColumn("ocr_suspect",
        col("single_x1000") >= maxSingleX1000 || col("mixed_x1000") >= maxMixedX1000)
      .select("doc_id", "n_tokens", "single_x1000", "mixed_x1000", "ocr_suspect")

  /** Line-structured corpus for the C4 cleaning rules: rebuild each
    * document as newline-joined 12-token lines (the corpus text has no
    * natural line breaks), give ~2/3 of lines a terminal period (residue
    * `(doc_id + idx) % 3 != 2`), and plant one deterministic junk line per
    * `doc_id % 4` residue — a "javascript" notice (line rule), a
    * curly-brace code line (page rule), a lorem-ipsum filler (page rule);
    * residue 3 stays clean. Fully replayable in SQL. */
  def corpusWithLines(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val toks = (if (text == null) "" else text).split(" ", -1)
      val nLines = math.max(1, (toks.length + 11) / 12)
      val body = (0 until nLines).map { i =>
        val line = toks.slice(i * 12, (i + 1) * 12).mkString(" ")
        if ((id + i) % 3 != 2) line + "." else line
      }
      val junk = (id % 4) match {
        case 0 => Seq("enable javascript and cookies to continue browsing now.")
        case 1 => Seq("function() { return spam; }")
        case 2 => Seq("lorem ipsum dolor sit amet placeholder text for padding.")
        case _ => Seq.empty
      }
      (id, (body ++ junk).mkString("\n"))
    }.toDF("doc_id", "text")
  }

  /** Frequent-word subsampling (Mikolov et al. 2013 §2.3, the word2vec
    * preprocessing): occurrence i of word w survives with probability
    * √(t / f(w)) — rare words always keep, stopword-frequency words thin
    * aggressively. The keep decision is INTEGER-EXACT: with h a
    * deterministic per-occurrence hash in [0, 1024), keep ⟺
    * h²·10⁶·count < t_ppm·total·1024² (squaring both sides removes the
    * √ — no float anywhere). int64-safe while the most frequent word's
    * count stays ≤ ~8.7×10⁶ and total ≤ ~8.7×10⁹; beyond that fold the
    * 10⁶ into t_ppm on both sides before multiplying.
    *
    * Scale shape: one token explode (the standard gram stage), the
    * vocab-sized frequency table broadcast back, per-doc re-aggregation.
    * Output per (doc, term): occurrences and survivors. */
  def subsampleFreq(docs: DataFrame, tPpm: Long = 20000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed positional tokens — the former interpreted filter-HOF
    // tokenization ran once per consumer; the typed flatMap is cheap
    // enough that recomputing it per leg beats caching it (measured: a
    // persist+checkpoint variant cost more in materialization jobs than
    // the recomputes). pos is the index in the nonempty-token list,
    // exactly posexplode's ordinal.
    val toks = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        var pos = 0
        val words = if (t == null) Iterator.empty else t.split(" ", -1).iterator
        words.filter(_.nonEmpty).map { w =>
          val r = (id, pos, w); pos += 1; r
        }
      }
      .toDF("doc_id", "pos", "term")
    val freqs = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    // corpus total = Σ vocab counts — a vocab-sized aggregate instead of
    // a separate corpus-length count pass
    val total = freqs.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    val out = toks.join(broadcast(freqs), Seq("term"))
      .withColumn("h", Sampling.md5Mod(
        concat(lit("ss:"), col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string")), 1024L))
      .withColumn("kept",
        expr(s"h * h * 1000000 * cnt < $tPpm * CAST($total AS BIGINT) * 1048576"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("n_occ"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    out
  }

  /** Sentence segmentation stats — the primitive under sentence-level
    * dedup and chunking: sentences split on terminal [.!?] (newlines
    * flattened to spaces first so cross-line sentences merge), empty
    * segments dropped, token counts per sentence from the whitespace
    * split. Everything is one codegen'd array pipeline, zero shuffle,
    * integer outputs the oracle replays. */
  def sentenceStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(transform(split(replace(text, '\\n', ' '), '[.!?]'), s -> trim(s)), s -> s <> '')")
          .as("sents"))
      .select(col("doc_id"),
        size(col("sents")).cast("long").as("n_sentences"),
        expr("transform(sents, s -> CAST(size(filter(split(s, ' '), w -> w <> '')) AS BIGINT))")
          .as("ls"))
      .select(col("doc_id"), col("n_sentences"),
        expr("CAST(coalesce(aggregate(ls, CAST(0 AS BIGINT), (a, x) -> a + x), 0) AS BIGINT)")
          .as("n_tokens"),
        expr("CAST(coalesce(array_max(ls), 0) AS BIGINT)").as("max_tokens"))
      .withColumn("avg_tokens_x10",
        expr("CASE WHEN n_sentences = 0 THEN 0 ELSE n_tokens * 10 div n_sentences END"))

  /** License-marker corpus: plant license phrases by residue — CC
    * attribution (%11==0), all-rights-reserved (%11==1), public-domain
    * dedication (%11==2); the rest carry no marker. Mirrored verbatim. */
  def corpusWithLicenses(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 11 === 0,
        lit(" licensed under a creative commons attribution license"))
        .when(col("doc_id") % 11 === 1, lit(" all rights reserved"))
        .when(col("doc_id") % 11 === 2, lit(" this work is in the public domain"))
        .otherwise(lit(""))))

  /** License-marker filtering — the provenance gate a lawful training
    * corpus runs before anything else: phrase-level detection of the
    * big three marker families (Creative Commons, all-rights-reserved,
    * public domain) and a keep/drop class. Marker detection is
    * `contains` on lowercased text — one codegen'd projection, zero
    * shuffle, replayed exactly in SQL. Phrase lists are a starting
    * taxonomy, not legal advice (the standard caveat). */
  def licenseFilter(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lower(col("text")).as("lt"))
      .select(col("doc_id"),
        (col("lt").contains("creative commons") || col("lt").contains("cc by"))
          .as("has_cc"),
        col("lt").contains("all rights reserved").as("has_arr"),
        col("lt").contains("public domain").as("has_pd"))
      .withColumn("license_class",
        when(col("has_arr"), "restricted")
          .when(col("has_cc") || col("has_pd"), "permissive")
          .otherwise("unmarked"))
      .withColumn("keep", col("license_class") =!= "restricted")

  /** Integer Flesch reading-ease over sentence/token/syllable-proxy
    * counts: flesch_x1000 = 206835 − (1015·W) div S − (84600·Y) div W,
    * with Y the vowel-group count (the standard syllable proxy). All
    * int64 floor arithmetic — engine-exact. Zero shuffle. */
  def readability(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(transform(split(replace(text, '\\n', ' '), '[.!?]'), s -> trim(s)), s -> s <> '')")
          .as("sents"),
        expr("CAST(size(filter(split(replace(text, '\\n', ' '), ' '), w -> w <> '')) AS BIGINT)")
          .as("n_tokens"),
        expr("CAST(size(regexp_extract_all(text, '[aeiou]+', 0)) AS BIGINT)")
          .as("n_syllables"))
      .select(col("doc_id"),
        size(col("sents")).cast("long").as("n_sentences"),
        col("n_tokens"), col("n_syllables"))
      .withColumn("flesch_x1000",
        expr("""CASE WHEN n_sentences = 0 OR n_tokens = 0 THEN 0
                ELSE 206835 - (1015 * n_tokens) div n_sentences
                     - (84600 * n_syllables) div n_tokens END"""))
      .withColumn("band",
        when(col("flesch_x1000") >= 70000, "easy")
          .when(col("flesch_x1000") >= 50000, "medium")
          .otherwise("hard"))

  /** Per-document top-k keyword terms by integer tf·idf — the topic-tag
    * projection a corpus index builds per document: tf = in-row term
    * count, idf_m = (N·1000) div df (the same rational-idf family as
    * text_bm25 — monotone in 1/df, engine-exact), score = tf·idf_m,
    * ties broken by term.
    *
    * Scale shape: per-doc DISTINCT terms explode (bounded by doc
    * vocabulary, not doc length); df is a vocab-sized aggregate that
    * broadcast-joins back; top-k selects in-row by sorted slice over the
    * per-doc collected terms — no Window over the corpus. */
  def tfidfTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nDocs = docs.count()
    // typed per-doc counting: one hash-map pass per document — the former
    // explode(array_distinct) + size(filter(t, x -> x = term)) re-scanned
    // the whole token array through an interpreted lambda once PER
    // DISTINCT TERM (|vocab|·|tokens| steps per doc). Same (doc_id, term,
    // tf) rows: identical token filter, identical counts.
    val terms = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val counts = new java.util.LinkedHashMap[String, Long]()
        if (t != null) t.split(" ", -1).foreach { w =>
          if (w.nonEmpty) counts.merge(w, 1L, (a, b) => a + b)
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)](counts.size)
        counts.forEach((term, tf) => out += ((id, term, tf)))
        out.iterator
      }
      .toDF("doc_id", "term", "tf")
    val dfs = terms.groupBy("term").agg(count(lit(1)).as("df"))
    terms.join(broadcast(dfs), Seq("term"))
      .withColumn("score", col("tf") * expr(s"CAST($nDocs AS BIGINT) * 1000 div df"))
      .groupBy("doc_id")
      .agg(slice(sort_array(collect_list(struct(
        (-col("score")).as("ns"), col("term"), col("tf"), col("df")))), 1, k).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("term"), col("h.tf").as("tf"), col("h.df").as("df"),
        (-col("h.ns")).as("score"))
  }

  /** The dehyphenation repair itself — the production column expression:
    * join `letter-\nletter` back into one word (the classic line-wrap
    * artifact of PDF/column text extraction; reference text output keeps
    * the raw break, a training-data pipeline wants it healed). */
  def dehyphenateCol(text: Column): Column =
    regexp_replace(text, "([a-z])-\n([a-z])", "$1$2")

  /** Dehyphenation audit: break the corpus by planting an "exam-\nple"-style
    * soft line break inside every word of ≥ 5 lowercase letters followed by
    * a space (the regex `([a-z]{3})([a-z]{2}) ` splits the last five
    * letters of each such word; a fixed-length, non-overlapping global
    * replace that Java regex and RE2 match identically, so the DuckDB
    * oracle replays it verbatim), heal it with [[dehyphenateCol]], and
    * prove the repair is the exact inverse — `restored` pins string equality with the original, and the
    * healed text is value-pinned by md5. Break/repair counts come from
    * length arithmetic (each planted break adds exactly "-\n" = 2 chars;
    * each repair removes them). One codegen'd projection, zero shuffle. */
  def dehyphenateAudit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        regexp_replace(col("text"), "([a-z]{3})([a-z]{2}) ", "$1-\n$2 ")
          .as("broken"))
      .select(col("doc_id"), col("text"), col("broken"),
        dehyphenateCol(col("broken")).as("repaired"))
      .select(col("doc_id"),
        expr("CAST((length(broken) - length(text)) div 2 AS BIGINT)").as("n_breaks"),
        expr("CAST((length(broken) - length(repaired)) div 2 AS BIGINT)").as("n_repairs"),
        (col("repaired") === col("text")).as("restored"),
        md5(col("repaired").cast("binary")).as("repaired_md5"))

  /** Code-block corpus: append a deterministic JS-flavored snippet to
    * `doc_id % 5 == 0` and a Python/C-flavored one to `doc_id % 5 == 2`
    * (none of the code keywords or `{};` glyphs occur in the natural
    * corpus vocabulary). Mirrored verbatim in the oracle. */
  def corpusWithCodeBlocks(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 5 === 0,
        lit(" function calc(x) { return x * 2; } var total = calc(7); if (total > 10) { emit(total); }"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 2,
        lit(" import util; def helper(a): return a + 1; class thing { int n; };"))
        .otherwise(lit(""))))

  /** Code-vs-prose detection — the routing gate that keeps code out of a
    * prose corpus (or routes it INTO a code corpus): brace/semicolon
    * occurrence counts via length arithmetic plus a keyword-hit count via
    * `regexp_extract_all` (group 0, identical in Java regex and RE2), all
    * weighted into one integer score. `is_code` is an absolute-score
    * threshold — natural prose scores exactly 0 here, and density
    * (`score_x1000`) is emitted for corpora where prose can contain stray
    * glyphs. Pure codegen'd projection, zero shuffle. */
  def codeDetect(docs: DataFrame, minScore: Long = 8): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        expr("CAST(length(text) - length(replace(text, '{', '')) + length(text) - length(replace(text, '}', '')) AS BIGINT)")
          .as("n_braces"),
        expr("CAST(length(text) - length(replace(text, ';', '')) AS BIGINT)").as("n_semis"),
        expr("CAST(size(regexp_extract_all(text, '\\\\b(function|return|var|def|import|class|int)\\\\b', 0)) AS BIGINT)")
          .as("kw_hits"))
      .select(col("doc_id"), col("n_braces"), col("n_semis"), col("kw_hits"),
        (col("n_braces") * 4 + col("n_semis") * 2 + col("kw_hits") * 3).as("score"),
        expr("CAST((n_braces * 4 + n_semis * 2 + kw_hits * 3) * 1000 div greatest(length(text), 1) AS BIGINT)")
          .as("score_x1000"))
      .withColumn("is_code", col("score") >= minScore)

  /** C4-style corpus cleaning (Raffel et al. 2020 §2.2, public heuristics):
    * LINE rules keep only lines that end in terminal punctuation
    * (`.` `!` `?` `"`), have ≥ 5 words, and do not mention "javascript";
    * PAGE rules drop any page containing `{` (code), the phrase
    * "lorem ipsum" (placeholder), or fewer than 3 surviving lines.
    *
    * One typed map per row — the per-line loop is data-dependent, so it
    * belongs in a typed kernel, not a Catalyst lambda (the winnow/SemDeDup
    * lesson); plan stays narrow, no shuffle. Output pins the cleaned text
    * by md5 (computed whether or not the page survives, so the line filter
    * is verified even on dropped pages). */
  def c4Clean(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val lines = text.split("\n", -1)
      val kept = lines.filter { l =>
        l.nonEmpty &&
          ".!?\"".indexOf(l.charAt(l.length - 1)) >= 0 &&
          l.split(" ", -1).count(_.nonEmpty) >= 5 &&
          !l.toLowerCase(java.util.Locale.ROOT).contains("javascript")
      }
      val lower = text.toLowerCase(java.util.Locale.ROOT)
      val reason =
        if (text.contains("{")) "curly"
        else if (lower.contains("lorem ipsum")) "lorem_ipsum"
        else if (kept.length < 3) "too_few_lines"
        else "ok"
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      (id, lines.length.toLong, kept.length.toLong, reason, reason == "ok", md)
    }.toDF("doc_id", "n_lines", "n_kept", "reason", "page_kept", "clean_md5")
  }

  /** Invisible/bidi-control character audit — the trojan-source and
    * token-hygiene gate every web corpus needs before tokenization:
    * zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) silently split tokens,
    * bidi embedding/override/isolate controls (U+202A–E, U+2066–69) can
    * visually reorder text (CVE-2021-42574 "Trojan Source"), soft hyphens
    * and NBSPs break whitespace tokenizers. Per doc: category counts, a
    * `suspicious` verdict (unbalanced push/pop or ANY override), and the
    * md5 of the cleaned text (invisibles stripped, NBSP → space) so the
    * repair itself is value-checked. One typed pass per row, narrow plan,
    * zero shuffle; counts are replayed in DuckDB via chr()-built regex
    * classes. */
  def invisibleChars(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, t) =>
      var zw = 0L; var push = 0L; var pop = 0L; var ovr = 0L
      var nbsp = 0L; var shy = 0L
      val sb = new java.lang.StringBuilder(t.length)
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        (c: @annotation.switch) match {
          case '\u200B' | '\u200C' | '\u200D' | '\uFEFF' => zw += 1
          case '\u202A' | '\u202B' | '\u2066' | '\u2067' | '\u2068' => push += 1
          case '\u202D' | '\u202E' => push += 1; ovr += 1
          case '\u202C' | '\u2069' => pop += 1
          case '\u00AD' => shy += 1
          case '\u00A0' => nbsp += 1; sb.append(' ')
          case other => sb.append(other)
        }
        i += 1
      }
      (id, zw, push, pop, ovr, nbsp, shy, push != pop || ovr > 0,
        Dedup.md5Hex(sb.toString))
    }.toDF("doc_id", "n_zero_width", "n_bidi_push", "n_bidi_pop",
      "n_override", "n_nbsp", "n_soft_hyphen", "suspicious", "clean_md5")
  }

  /** Leftover-markup hygiene gate: text that survived extraction but still
    * carries HTML entities, raw tags, markdown/wiki/BBCode residue is a
    * broken-extractor symptom (double-escaped feeds, wikitext dumps,
    * forum exports) — a training corpus wants those rows flagged, not
    * silently learned. Five marker families counted per doc with plain
    * regex built-ins (codegen'd, zero shuffle); `leak` at total ≥ 3 —
    * one entity in clean prose is normal, clusters are not.
    * Every pattern uses the regex subset Java and RE2 count identically,
    * so the oracle replays bit-for-bit in DuckDB. */
  def markupLeak(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nEntity = regexp_count(t, lit("&(amp|lt|gt|quot|nbsp|#[0-9]+);"))
    val nTag = regexp_count(t, lit("</?[a-zA-Z][a-zA-Z0-9]*( [^>]*)?>"))
    val nMd = regexp_count(t, lit("\\*\\*[^*]+\\*\\*")) +
      regexp_count(t, lit("(^|\\n)#{1,6} "))
    val nWiki = regexp_count(t, lit("\\{\\{[^}]*\\}\\}"))
    val nBb = regexp_count(t, lit("\\[/?(b|i|url|img|quote)\\]"))
    docs.select(col("doc_id"),
        nEntity.cast("long").as("n_entity"), nTag.cast("long").as("n_tag"),
        nMd.cast("long").as("n_md"), nWiki.cast("long").as("n_wiki"),
        nBb.cast("long").as("n_bbcode"))
      .withColumn("n_total", col("n_entity") + col("n_tag") + col("n_md") +
        col("n_wiki") + col("n_bbcode"))
      .withColumn("leak", col("n_total") >= 3)
  }

  private val isoPat =
    "(19|20)[0-9]{2}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])"
  private val monthNames = Seq("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")
  private val mnPat =
    s"(${monthNames.mkString("|")}) ([1-9]|[12][0-9]|3[01]), ((?:19|20)[0-9]{2})"
  private val slashPat =
    "(0?[1-9]|1[0-2])/(0?[1-9]|[12][0-9]|3[01])/((?:19|20)[0-9]{2})"

  /** Date-mention extraction: corpus freshness/provenance scoring wants the
    * publication date buried in body text, and dedup of re-syndicated
    * articles wants a normalized date key. Three families — ISO
    * `YYYY-MM-DD`, long-form `Month D, YYYY`, US `M/D/YYYY` — are counted,
    * and the FIRST match (ISO wins, then long-form, then slash) normalizes
    * to an ISO `date_norm` string. Patterns stay in the regex subset Java
    * and RE2 evaluate identically (no lookaround, no backrefs), so the
    * whole projection replays in DuckDB. Codegen'd built-ins, zero
    * shuffle. */
  def textDates(docs: DataFrame): DataFrame = {
    val t = col("text")
    val mnMonth = regexp_extract(t, mnPat, 1)
    val mnIso = concat(regexp_extract(t, mnPat, 3), lit("-"),
      monthNames.zipWithIndex.foldLeft(lit("00")) { case (acc, (m, i)) =>
        when(mnMonth === m, lit(f"${i + 1}%02d")).otherwise(acc)
      }, lit("-"), lpad(regexp_extract(t, mnPat, 2), 2, "0"))
    val slIso = concat(regexp_extract(t, slashPat, 3), lit("-"),
      lpad(regexp_extract(t, slashPat, 1), 2, "0"), lit("-"),
      lpad(regexp_extract(t, slashPat, 2), 2, "0"))
    val iso = regexp_extract(t, isoPat, 0)
    val nIso = regexp_count(t, lit(isoPat)).cast("long")
    val nMn = regexp_count(t, lit(mnPat)).cast("long")
    val nSl = regexp_count(t, lit(slashPat)).cast("long")
    docs.select(col("doc_id"),
      nIso.as("n_iso"), nMn.as("n_monthname"), nSl.as("n_slash"),
      when(iso =!= "", iso)
        .when(mnMonth =!= "", mnIso)
        .when(regexp_extract(t, slashPat, 3) =!= "", slIso)
        .otherwise(lit("")).as("date_norm"),
      (nIso + nMn + nSl > 0).as("has_date"))
  }

  private val boilerFamilies: Seq[(String, Seq[String])] = Seq(
    "n_cookie" -> Seq("we use cookies", "accept all cookies", "cookie policy"),
    "n_subscribe" -> Seq("subscribe to our newsletter",
      "sign up for our newsletter", "enter your email"),
    "n_social" -> Seq("share on facebook", "follow us on twitter",
      "share this article"),
    "n_nav" -> Seq("skip to content", "back to top"),
    "n_legal" -> Seq("all rights reserved", "privacy policy",
      "terms of service"))

  /** Chrome-phrase residue gate: cookie banners, newsletter prompts,
    * share buttons, footer legalese that a boilerplate stripper missed.
    * Unlike [[markupLeak]] (markup residue) this catches PHRASE residue —
    * the page chrome that reads as fluent English and so survives
    * perplexity filters, yet repeats millions of times across a crawl.
    * Occurrence counts are pure length/replace arithmetic over the
    * lowercased text (the diff is an exact multiple of the phrase length,
    * so the division is integer-exact and replays in DuckDB bit-for-bit).
    * Codegen'd built-ins, zero shuffle. `boiler` at total ≥ 2: one footer
    * phrase is normal, clusters are chrome. */
  def boilerplatePhrases(docs: DataFrame): DataFrame = {
    val lt = lower(col("text"))
    def cnt(p: String): Column =
      ((length(lt) - length(replace(lt, lit(p), lit("")))) / p.length)
        .cast("long")
    val fams = boilerFamilies.map { case (name, ps) =>
      ps.map(cnt).reduce(_ + _).as(name)
    }
    docs.select(col("doc_id") +: fams: _*)
      .withColumn("n_total", boilerFamilies.map(f => col(f._1)).reduce(_ + _))
      .withColumn("boiler", col("n_total") >= 2)
  }

  /** Character-entropy gate: keyboard-mash spam, repeated-phrase SEO
    * filler, and single-token floods all collapse letter-frequency entropy
    * well below prose (~4.1 bits for English). Counted over ASCII letters
    * of the lowercased text in ONE pass per row (typed map, zero shuffle,
    * 26-long state). Shannon entropy is made engine-exact by the repo's
    * ln-quantization discipline (cf. knScore): each per-letter term floors
    * to milli-nats FIRST (`floor(c·ln c·1000)` — integers from there on),
    * so the sum is order-independent and DuckDB replays `ent_milli`
    * bit-for-bit; the final milli-bit value divides integers by the ln 2
    * literal both engines parse identically. `low_entropy` flags docs with
    * ≥ 20 letters under 3.0 bits. */
  def charEntropy(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val lower = text.toLowerCase(java.util.Locale.ROOT)
        val counts = new Array[Long](26)
        var i = 0
        while (i < lower.length) {
          val c = lower.charAt(i)
          if (c >= 'a' && c <= 'z') counts(c - 'a') += 1
          i += 1
        }
        var n = 0L; var nd = 0L; var s = 0L
        var j = 0
        while (j < 26) {
          val k = counts(j)
          if (k > 0) {
            n += k; nd += 1
            s += math.floor(k.toDouble * math.log(k.toDouble) * 1000.0).toLong
          }
          j += 1
        }
        val entMilli =
          if (n > 0) {
            val nlnn = math.floor(n.toDouble * math.log(n.toDouble) * 1000.0).toLong
            math.floor((nlnn - s).toDouble / n.toDouble / 0.6931471805599453).toLong
          } else 0L
        (id, n, nd, s, entMilli, n >= 20 && entMilli < 3000)
      }
      .toDF("doc_id", "n_letters", "n_distinct", "sum_clnc", "ent_milli",
        "low_entropy")
  }

  /** PMI-style collocation mining: adjacent word pairs whose corpus
    * frequency exceeds the independence expectation. The PMI *ordering*
    * statistic is kept exact by replacing log(p_xy/(p_x·p_y)) with the
    * monotone integer lift
    *
    *   lift_micro = floor(1e6 · c_xy · N / (c_x · c_y))
    *
    * computed in DECIMAL(38,0): at 10^12 tokens the worst product is
    * 1e6·1e12·1e12 = 1e30 < 1e38, so the arithmetic stays exact at any
    * realistic corpus size (BIGINT would overflow at ~1e6 docs), and the
    * DuckDB oracle replays it bit-for-bit in HUGEINT.
    *
    * Shape: one token explode feeding two count shuffles (bigram keyed by
    * the pair, unigram keyed by the word — the vocab table), then two
    * vocab-keyed joins of the *count* tables (never token instances) and a
    * global top-k via sort-limit (TakeOrderedAndProject). N = Σ c_x comes
    * from the unigram table — no second corpus pass. */
  def pmiCollocations(docs: DataFrame, minPair: Long = 5, minWord: Long = 20,
                      k: Int = 40): DataFrame = {
    val toks = docs.select(
      expr("filter(split(text, ' '), x -> x <> '')").as("t"))
    val uni = toks
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val pairs = toks
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
      .where(col("c_pair") >= minPair)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .where(col("c1") >= minWord && col("c2") >= minWord)
      .crossJoin(broadcast(nTok))
      .withColumn("lift_micro", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * CAST(c_pair AS DECIMAL(38,0))
          |      * CAST(n_tok AS DECIMAL(38,0)))
          |     div (CAST(c1 AS DECIMAL(38,0)) * CAST(c2 AS DECIMAL(38,0)))
          |     AS BIGINT)""".stripMargin))
      .select(col("w1"), col("w2"), col("c_pair"), col("c1"), col("c2"),
        col("lift_micro"))
      .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Word burstiness (Church–Gale dispersion): the variance-to-mean ratio
    * of per-document counts, zeros included — Poisson-like words sit at
    * ~1000 milli, topical/bursty words far above, rigid boilerplate below.
    * The separator between function words and content words that raw
    * frequency can't see. Exact integer identity over the full corpus
    * (zero docs enter only through n):
    *
    *   vmr_milli = 1000·(n·Σx² − T²) div (n·T)
    *
    * carried in DECIMAL(38,0) — n·Σx² reaches ~1e12·(1e12)² at web scale,
    * far past int64 (worst case ~1e36 < 1e38; DuckDB replays in HUGEINT
    * up to its 1.7e38 ceiling).
    *
    * Shape: one token explode → (word, doc) count rollup → word rollup
    * (two shuffles on well-spread word keys), top-k by total via
    * sort-limit. */
  def burstiness(docs: DataFrame, k: Int = 30): DataFrame = {
    val n = docs.count()
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w", "doc_id").agg(count(lit(1)).as("x"))
      .groupBy("w").agg(count(lit(1)).as("df"), sum(col("x")).as("t"),
        sum(col("x") * col("x")).as("sx2"))
      .withColumn("vmr_milli", expr(
        s"""CAST((CAST(1000 AS DECIMAL(38,0)) *
           |  (CAST($n AS DECIMAL(38,0)) * CAST(sx2 AS DECIMAL(38,0))
           |   - CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))))
           | div (CAST($n AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
           | AS BIGINT)""".stripMargin))
      .select(col("w"), col("df"), col("t"), col("sx2"), col("vmr_milli"))
      .orderBy(col("t").desc, col("w"))
      .limit(k)
  }
}

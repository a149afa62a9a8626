package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table relational operators a web-scale pipeline needs beyond the
  * built-in joins: as-of joins and gap sessionization. Both are expressed
  * so ONE hash shuffle on the entity key does all the work — no range
  * joins, no per-key collects, no cartesian blowups.
  *
  * The as-of join is on the build brief's explicit list of operators Spark
  * lacks natively; the composition below (tagged union + running
  * last-non-null window) is preference order (a) from the brief — existing
  * ops compose to the exact semantics, so no custom plan node is needed. */
object Relational {

  /** As-of join: for each probe row, the build row with the greatest
    * `time` ≤ the probe's `time`, per `key` (DuckDB/kdb `ASOF JOIN`
    * semantics; ties on `time` match, build-before-probe).
    *
    * Scale shape: instead of a range join (which Spark would plan as a
    * key-equi join + per-key time filter, exploding on hot keys), the two
    * sides are TAGGED and UNIONED, then a single window
    * `last(build-attr, ignoreNulls) OVER (PARTITION BY key ORDER BY time,
    * is_probe ROWS UNBOUNDED PRECEDING..CURRENT)` carries each build row
    * forward to every later probe row — the classic merge-scan as-of. One
    * Exchange on `key` total, each row visited once, no row inflation;
    * hot keys cost a sort, never a product.
    *
    * `probe` columns pass through; `build` contributes `buildCols`
    * (renamed by `asOfPrefix`), null where no build row precedes. */
  def asOfJoin(probe: DataFrame, build: DataFrame, key: String, time: String,
               buildCols: Seq[String], asOfPrefix: String = "asof_"): DataFrame = {
    val probeCols = probe.columns.filterNot(c => c == key || c == time).toSeq
    val pTagged = probe.select(
      (Seq(col(key), col(time), lit(1).as("is_probe")) ++
        probeCols.map(col) ++
        buildCols.map(c => lit(null).cast(build.schema(c).dataType).as(s"b_$c"))): _*)
    val bTagged = build.select(
      (Seq(col(key), col(time), lit(0).as("is_probe")) ++
        probeCols.map(c => lit(null).cast(probe.schema(c).dataType).as(c)) ++
        buildCols.map(c => col(c).as(s"b_$c"))): _*)
    // build rows sort before probe rows at equal time (is_probe 0 < 1), so
    // an equal-time build row is visible to the probe — the ≤ semantics
    val w = Window.partitionBy(key).orderBy(col(time), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = pTagged.unionByName(bTagged).select(
      (Seq(col(key), col(time), col("is_probe")) ++
        probeCols.map(col) ++
        buildCols.map(c => last(col(s"b_$c"), ignoreNulls = true).over(w)
          .as(s"$asOfPrefix$c"))): _*)
    carried.where(col("is_probe") === 1).drop("is_probe")
  }

  /** Gap sessionization: split each key's event stream into sessions at
    * inactivity gaps > `gapMinutes`, and aggregate per session.
    *
    * One Exchange on `key` feeds the lag/running-sum windows; the session
    * aggregation on (key, session_id) is a second, partial-aggregated
    * shuffle of SESSION rows (bounded by session count, not event count).
    * Monetary values quantize to integer cents per row BEFORE summing, so
    * sums are order-independent and engine-exact. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 key: String = "user_id", time: String = "ts"): DataFrame = {
    val w = Window.partitionBy(key).orderBy(time)
    val gapMicros = gapMinutes.toLong * 60L * 1000000L
    // timestamp_diff is timezone-free on TIMESTAMP_NTZ columns (unix_micros
    // would force an LTZ cast through the session timezone)
    val prev = lag(col(time), 1).over(w)
    val isNew = when(prev.isNull ||
        timestamp_diff("MICROSECOND", prev, col(time)) > gapMicros, 1L)
      .otherwise(0L)
    events
      .withColumn("session_id",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("value_cents", floor(col("value") * 100.0 + 0.5).cast("long"))
      .groupBy(col(key), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(time)).as("start_ts"),
        max(col(time)).as("end_ts"),
        sum(col("value_cents")).as("value_cents"),
        countDistinct(col("event_type")).as("n_event_types"))
  }

  /** CUPED variance reduction for A/B metrics (Deng, Xu, Kohavi & Walker,
    * WSDM 2013 — the experimentation-platform standard): the post-period
    * metric is adjusted by the pre-period covariate, y' = y − θ(x − x̄),
    * with pooled θ = cov(x,y)/var(x); the treatment/control delta keeps
    * its expectation but sheds the variance the pre-period explains, so
    * experiments need a fraction of the traffic.
    *
    * Everything is INTEGER-exact: values quantize to cents, θ and the
    * means come from the five pooled sums (n, Σx, Σy, Σxy, Σx²) via
    * FLOOR division implemented as `(a − ((a%b + b)%b)) div b` — the
    * identity that makes Spark's truncating `div` and DuckDB's flooring
    * `//` agree for any sign of `a` (b > 0), since the corrected
    * numerator is exactly divisible. The adjustment multiplies through
    * by n (x̄ = Σx/n stays rational): adj_u = y_u·1000·n − θ_pm·(x_u·n −
    * Σx), so no intermediate division happens per user at all.
    *
    * Scale shape: one user-keyed aggregate (pre/post sums per user), one
    * 5-long pooled rollup, one 2-row arm rollup. Pre = first half of the
    * event window, post = second half; arm = user parity. Output per arm:
    * (arm, n_users, theta_pm, mean_post_m, mean_adj_m). */
  def cuped(events: DataFrame): DataFrame = {
    val bounds = events.agg(
      unix_timestamp(min(col("ts"))).as("t0"),
      unix_timestamp(max(col("ts"))).as("t1")).head()
    val (t0, t1) = (bounds.getLong(0), bounds.getLong(1))
    val mid = t0 + (t1 - t0) / 2
    val perUser = events
      .select(col("user_id"),
        (unix_timestamp(col("ts")) < mid).as("pre"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
      .select(col("user_id"), (col("user_id") % 2).as("arm"),
        col("x"), col("y"))
      .localCheckpoint(true) // user-sized; feeds pooled sums AND arm rollup
    val p = perUser.agg(count(lit(1)), sum(col("x")), sum(col("y")),
      sum(col("x") * col("y")), sum(col("x") * col("x"))).head()
    val (n, sx, sy, sxy, sxx) =
      (p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3), p.getLong(4))
    val thetaDen = n * sxx - sx * sx
    val thetaPm =
      if (thetaDen == 0L) 0L else Math.floorDiv((n * sxy - sx * sy) * 1000L, thetaDen)
    // adj_u (scaled by 1000·n): y·1000·n − θ_pm·(x·n − Σx)
    val out = perUser
      .select(col("arm"),
        (col("y") * 1000L * n - lit(thetaPm) * (col("x") * n - sx)).as("adj"),
        col("y"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("y")).as("sy"),
        sum(col("adj")).as("sadj"))
      .select(col("arm"), col("n_users"), lit(thetaPm).as("theta_pm"),
        // floor-div identity: both operands of div exactly divisible
        expr("(sy * 1000 - ((sy * 1000 % n_users + n_users) % n_users)) div n_users")
          .as("mean_post_m"),
        expr(s"(sadj - ((sadj % (n_users * ${n}L) + n_users * ${n}L) % (n_users * ${n}L))) div (n_users * ${n}L)")
          .as("mean_adj_m"))
      .localCheckpoint(true)
    perUser.unpersist(false)
    out
  }

  /** Empirical-Bayes counter smoothing (the m-estimate / additive prior —
    * the standard fix for small-sample rate estimates in ranking and
    * quality pipelines): per cohort, CTR = clicks/views shrinks toward
    * the GLOBAL rate with `mPseudo` pseudo-observations —
    * smoothed_pm = (clicks·1000 + m·p0_pm) div (views + m). Sparse
    * cohorts collapse to the prior, dense cohorts keep their own rate;
    * raw_pm = −1 flags zero-view cohorts the raw estimate can't rank at
    * all. Integer permille end to end.
    *
    * Scale shape: one map-side-combined cohort aggregate; the global
    * prior is a 2-long driver fold broadcast back as a literal. */
  def ctrSmoothed(events: DataFrame, mPseudo: Long = 100L,
                  cohorts: Int = 40): DataFrame = {
    val base = events.select((col("user_id") % cohorts).as("cohort"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("v"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("c"))
      .groupBy("cohort")
      .agg(sum(col("v")).as("views"), sum(col("c")).as("clicks"))
      .localCheckpoint(true) // cohort-sized; feeds prior AND output
    val g = base.agg(coalesce(sum(col("views")), lit(0L)),
      coalesce(sum(col("clicks")), lit(0L))).head()
    val p0pm = if (g.getLong(0) == 0L) 0L else g.getLong(1) * 1000L / g.getLong(0)
    val out = base.select(col("cohort"), col("views"), col("clicks"),
        expr("CASE WHEN views = 0 THEN -1 ELSE clicks * 1000 div views END")
          .as("raw_pm"),
        expr(s"(clicks * 1000 + ${mPseudo}L * ${p0pm}L) div (views + ${mPseudo}L)")
          .as("smoothed_pm"))
      .localCheckpoint(true)
    base.unpersist(false)
    out
  }

  /** Difference-in-differences (Card & Krueger 1994; the quasi-experiment
    * workhorse when assignment isn't randomized — e.g. a crawler-policy or
    * ranking change rolled out to half the fleet): the treatment effect is
    * the change in the treated arm minus the change in the control arm,
    * which nets out any shared trend between the periods. Pre = first half
    * of the event window, post = second half, arm = user parity — the same
    * split discipline as [[cuped]] so the two estimators are directly
    * comparable on one events table.
    *
    * INTEGER-exact: values quantize to cents; per-arm period means are
    * milli-cents via truncating `div` (sums are non-negative, so Spark's
    * `div` and DuckDB's `//` agree with no identity needed); the deltas
    * and the DiD are exact integer subtractions of those means.
    *
    * Scale shape: one user-keyed pre/post aggregate (map-side combined),
    * one 2-row arm rollup, one 1-row pivot — driver traffic is a single
    * row of longs. Output (one row): n_c, n_t, mean_pre_c_m,
    * mean_post_c_m, mean_pre_t_m, mean_post_t_m, delta_c_m, delta_t_m,
    * did_m. */
  def diffInDiff(events: DataFrame): DataFrame = {
    val bounds = events.agg(
      unix_timestamp(min(col("ts"))).as("t0"),
      unix_timestamp(max(col("ts"))).as("t1")).head()
    val (t0, t1) = (bounds.getLong(0), bounds.getLong(1))
    val mid = t0 + (t1 - t0) / 2
    val perUser = events
      .select(col("user_id"),
        (unix_timestamp(col("ts")) < mid).as("pre"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
      .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
      .select(col("arm"), col("n_users"),
        expr("sx * 1000 div n_users").as("pre_m"),
        expr("sy * 1000 div n_users").as("post_m"))
    def pick(arm: Int, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      max(when(col("arm") === arm, c))
    arms.agg(
      pick(0, col("n_users")).as("n_c"),
      pick(1, col("n_users")).as("n_t"),
      pick(0, col("pre_m")).as("mean_pre_c_m"),
      pick(0, col("post_m")).as("mean_post_c_m"),
      pick(1, col("pre_m")).as("mean_pre_t_m"),
      pick(1, col("post_m")).as("mean_post_t_m"),
      pick(0, col("post_m") - col("pre_m")).as("delta_c_m"),
      pick(1, col("post_m") - col("pre_m")).as("delta_t_m"),
      (pick(1, col("post_m") - col("pre_m")) -
        pick(0, col("post_m") - col("pre_m"))).as("did_m"))
  }

  /** Sample-ratio-mismatch guard (Fabijan et al., KDD 2019 — the first
    * check every experimentation platform runs): under 50/50 assignment
    * by user parity, the per-event-type distinct-user counts of the two
    * arms should differ only by chance; a chi-square far in the tail
    * means the assignment or logging is broken and every downstream
    * metric (cuped, DiD, funnels) is garbage. For a 2-cell test the
    * statistic collapses to χ² = (a−b)²/(a+b), computed here in
    * micro-units of exact int64 — valid while |a−b| < 3·10⁶ per event
    * type (beyond that, pre-scale the counts); the 0.05 critical value
    * for 1 df is 3.841459 → 3841459 micro.
    *
    * Scale shape: one expand-style distinct aggregate keyed on
    * (event_type, user) then the per-type rollup — two shuffles of
    * narrow rows, no distinct-user set ever materializes. Output:
    * (event_type, n_even, n_odd, chi2_micro, srm_flag). */
  def srmCheck(events: DataFrame): DataFrame = {
    events.groupBy(col("event_type"))
      .agg(
        countDistinct(when(col("user_id") % 2 === 0, col("user_id")))
          .as("n_even"),
        countDistinct(when(col("user_id") % 2 === 1, col("user_id")))
          .as("n_odd"))
      .select(col("event_type"), col("n_even"), col("n_odd"),
        expr("(n_even - n_odd) * (n_even - n_odd) * 1000000 div (n_even + n_odd)")
          .as("chi2_micro"))
      .withColumn("srm_flag",
        when(col("chi2_micro") > 3841459L, 1L).otherwise(0L))
  }

  /** Experiment power analysis (the textbook two-sample formula every
    * platform quotes before launch): per event type, the users-per-arm
    * needed to detect a mean shift of δ cents at α=0.05 two-sided with
    * 80% power — n = 2(z₀.₉₇₅+z₀.₈)²σ²/δ², constant (1.95996+0.84162)² =
    * 7.848880 pinned in micro-units. INTEGER-exact with a documented
    * floor order: the per-user population variance in cents² floors
    * FIRST, var_c2 = (n·Σy² − (Σy)²) div n², then n_req =
    * ceil(2·C·var_c2 / (10⁶·δ²)) via the non-negative ceil-div identity
    * (a + b − 1) div b. Valid while var_c2 < 5.8·10¹¹ cents²
    * (σ < $7.6k/user) and n·Σy² < 9·10¹⁸ — pre-scale to dollars beyond.
    *
    * Scale shape: one user-keyed aggregate (map-side combined) + one
    * per-type 3-long rollup; no row ever carries more than five longs.
    * Output: (event_type, n_users, mean_c, var_c2, n_req_mde5,
    * n_req_mde10) for δ = $5 and $10. */
  /** Markov removal-effect attribution (Anderl, Becker, von Wangenheim &
    * Schumann 2014 — the data-driven successor to last-touch): user
    * journeys (event sequences up to the FIRST purchase) define a
    * first-order Markov chain over channels with absorbing states `conv`
    * and `null`; a channel's credit is how much the start→conv absorption
    * probability DROPS when that channel is removed (its in-edges
    * redirected to `null`, its out-edges deleted). Everything is
    * INTEGER-exact: transition probabilities floor to micro-units AFTER
    * redirect-merge, and absorption runs a fixed `rounds` unrolled
    * iterations of v(s) ← (Σ_d p(s,d)·v(d)) div 10⁶ with conv/null pinned
    * — the same bounded-rounds discipline as [[Graph.pageRankInt]], so any
    * engine replays the trajectory bit-for-bit.
    *
    * Scale shape: the corpus-sized work is ONE user-keyed window pass
    * (first-purchase struct-min, lag/lead over each user's pre-purchase
    * events) plus a (src, dst) count rollup; the chain itself is ≤
    * (channels+3)² count rows — driver math, like the perceptron-θ fold.
    * Output per channel: (channel, p_base_micro, p_removed_micro,
    * removal_micro). */
  def markovAttribution(events: DataFrame, rounds: Int = 12): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col("user_id"),
      unix_timestamp(col("ts")).as("s"), col("event_id"), col("event_type"))
    val fp = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("s"), col("event_id"))).as("fp"))
    val pre = ev.join(fp, Seq("user_id"), "left")
      .where(col("event_type") =!= "purchase")
      .where(col("fp").isNull || struct(col("s"), col("event_id")) < col("fp"))
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val lagged = pre.select(col("user_id"), col("event_type"),
      lag(col("event_type"), 1).over(w).as("prev"),
      lead(col("event_type"), 1).over(w).as("next"),
      col("fp").isNotNull.as("converted"))
    val steps = lagged
      .select(coalesce(col("prev"), lit("start")).as("src"),
        col("event_type").as("dst"))
      .unionByName(lagged.where(col("next").isNull)
        .select(col("event_type").as("src"),
          when(col("converted"), "conv").otherwise("null").as("dst")))
      .unionByName(fp.join(pre.select("user_id").distinct(),
          Seq("user_id"), "left_anti")
        .select(lit("start").as("src"), lit("conv").as("dst")))
    val trans = steps.groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val channels = (trans.map(_._1) ++ trans.map(_._2)).distinct
      .filterNot(Set("start", "conv", "null")).sorted
    def absorbProb(removed: Option[String]): Long = {
      val redirected = trans.iterator
        .filter(t => !removed.contains(t._1))
        .map { case (s, d, c) => ((s, if (removed.contains(d)) "null" else d), c) }
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.map { case ((s, d), c) => (s, d, c) }
      val out = redirected.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val pm = redirected.map { case (s, d, c) => (s, d, c * 1000000L / out(s)) }
      val live = channels.filterNot(removed.contains) :+ "start"
      var v = Map("conv" -> 1000000L, "null" -> 0L) ++ live.map(_ -> 0L)
      for (_ <- 1 to rounds) {
        v = Map("conv" -> 1000000L, "null" -> 0L) ++ live.map { s =>
          s -> pm.iterator.filter(_._1 == s)
            .map { case (_, d, p) => p * v.getOrElse(d, 0L) }.sum / 1000000L
        }
      }
      v("start")
    }
    val base = absorbProb(None)
    val rows = channels.map { c =>
      val removedP = absorbProb(Some(c))
      (c, base, removedP, base - removedP)
    }
    spark.createDataset(rows.toSeq)
      .toDF("channel", "p_base_micro", "p_removed_micro", "removal_micro")
  }

  /** RFM segmentation (Hughes 1994 — the marketing-analytics workhorse
    * for user-base composition): per user, Recency = whole days from the
    * last event to the corpus end, Frequency = event count, Monetary =
    * purchase cents; each scored 1–3 on FIXED operational boundaries
    * (recency ≤1d/≤7d, frequency ≥50/≥10, monetary ≥$100/≥$10 — pinned
    * integers, no data-dependent quantiles, so segments are stable
    * across reruns and engines), composed into the familiar 3-digit
    * segment code (RFM: 333 = best). Rollup reports users, revenue, and
    * the integer permille share of the user base per segment.
    *
    * Scale shape: one user-keyed aggregate with fused conditional sums
    * (one pass for all three letters), a ≤27-row segment rollup, and a
    * window over those rows. Output: (segment, n_users, sum_cents,
    * share_pm). */
  def rfmSegments(events: DataFrame): DataFrame = {
    val endS = events.agg(unix_timestamp(max(col("ts")))).head().getLong(0)
    val perUser = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"),
        col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(max(col("s")).as("last_s"), count(lit(1)).as("f"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("m"))
      .select(
        expr(s"($endS - last_s) div 86400").as("rd"),
        col("f"), col("m"))
    val seg = (when(col("rd") <= 1L, 3L).when(col("rd") <= 7L, 2L).otherwise(1L) * 100L +
      when(col("f") >= 50L, 3L).when(col("f") >= 10L, 2L).otherwise(1L) * 10L +
      when(col("m") >= 10000L, 3L).when(col("m") >= 1000L, 2L).otherwise(1L))
      .as("segment")
    val all = org.apache.spark.sql.expressions.Window.orderBy("segment")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perUser.select(seg, col("m"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum(col("m")).as("sum_cents"))
      .withColumn("total", sum(col("n_users")).over(all))
      .withColumn("share_pm", expr("n_users * 1000 div total"))
      .drop("total")
  }

  /** Group-sequential experiment monitoring (Pocock 1977 — the guard
    * against peeking: a fixed z-bound per interim look keeps the overall
    * α at 0.05 across K looks): cumulative per-arm purchase-event counts
    * at weekly looks, the 2-cell chi-square z² = (a−b)²/(a+b) in exact
    * micro-units (the same collapse as [[srmCheck]]), and a crossing
    * flag against the pinned Pocock bound for K = 5 looks at α = 0.05 —
    * c_P = 2.413, c² = 5822569 micro. A look that crosses justifies an
    * early stop; the bound is a literal, so any engine replays the
    * decision bit-for-bit.
    *
    * Scale shape: one (week, arm) rollup over the events table, then
    * cumulative windows over ≤ K look rows. Output per look: (look,
    * n_a, n_b, z2_micro, cross). */
  def sequentialMonitor(events: DataFrame, looks: Int = 5,
                        boundMicro: Long = 5822569L): DataFrame = {
    val bounds = events.agg(
      unix_timestamp(min(col("ts"))).as("t0"),
      unix_timestamp(max(col("ts"))).as("t1")).head()
    val (t0, t1) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, t1 - t0 + 1L)
    val weekly = events.where(col("event_type") === "purchase")
      .select(
        least(expr(s"(unix_timestamp(ts) - ${t0}L) * ${looks}L div ${span}L"),
          lit(looks - 1L)).as("look"),
        (col("user_id") % 2).as("arm"))
      .groupBy("look")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("wa"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("wb"))
    val cum = org.apache.spark.sql.expressions.Window.orderBy("look")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    weekly
      .withColumn("n_a", sum(col("wa")).over(cum))
      .withColumn("n_b", sum(col("wb")).over(cum))
      .select(col("look"), col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)").as("z2_micro"))
      .withColumn("cross", col("z2_micro") > boundMicro)
  }

  /** Time-to-conversion histogram (the funnel-latency readout behind
    * "how long do users take to buy?"): per converting user, the delay
    * from their FIRST event to their FIRST purchase, bucketed on fixed
    * operational boundaries (≤1h, ≤6h, ≤24h, ≤7d, >7d), with counts and
    * cumulative permille of all converters — exact integers throughout.
    *
    * Scale shape: two user-keyed min-aggregates fused into one pass
    * (conditional mins), a 5-row bucket rollup, cumulative windows over
    * the 5 rows. Output: (bucket, n_users, cum_users, cum_pm). */
  def timeToConvert(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"),
        col("event_type"))
      .groupBy("user_id")
      .agg(min(col("s")).as("first_s"),
        min(when(col("event_type") === "purchase", col("s"))).as("conv_s"))
      .where(col("conv_s").isNotNull)
      .select((col("conv_s") - col("first_s")).as("delay"))
    val bucket = when(col("delay") <= 3600L, "a_1h")
      .when(col("delay") <= 21600L, "b_6h")
      .when(col("delay") <= 86400L, "c_24h")
      .when(col("delay") <= 604800L, "d_7d")
      .otherwise("e_more")
    val cum = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perUser.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_users"))
      .withColumn("cum_users", sum(col("n_users")).over(cum))
      .withColumn("total", sum(col("n_users")).over(all))
      .withColumn("cum_pm", expr("cum_users * 1000 div total"))
      .drop("total")
  }

  /** Heterogeneous treatment effect by segment (the CATE table every
    * experiment readout ends with — a flat average hides segments where
    * the treatment hurts): users split into `segments` strata ORTHOGONAL
    * to the parity arm assignment (stratum = (user_id div 2) mod
    * segments, so both arms populate every stratum), per-user purchase
    * cents roll up to per-(segment, arm) means in milli-cents, and
    * uplift is the exact integer difference of arm means. Zero-purchase
    * users count with y = 0 — the intent-to-treat convention.
    *
    * Scale shape: one purchase rollup + one distinct-user pass + a
    * segment-sized pivot rollup. Output per segment: (segment, n_c, n_t,
    * mean_c_m, mean_t_m, uplift_m). */
  def upliftBySegment(events: DataFrame, segments: Int = 4): DataFrame = {
    val perUser = events.where(col("event_type") === "purchase")
      .select(col("user_id"), floor(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id").agg(sum(col("cents")).as("y"))
    val users = events.select(col("user_id")).distinct()
    val ju = users.join(perUser, Seq("user_id"), "left")
      .select((col("user_id") % 2).as("arm"),
        expr(s"(user_id div 2) % $segments").as("segment"),
        coalesce(col("y"), lit(0L)).as("y"))
    ju.groupBy("segment")
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sc"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("st"))
      .select(col("segment"), col("n_c"), col("n_t"),
        expr("sc * 1000 div n_c").as("mean_c_m"),
        expr("st * 1000 div n_t").as("mean_t_m"),
        expr("st * 1000 div n_t - sc * 1000 div n_c").as("uplift_m"))
  }

  /** Robust daily-anomaly detection via median absolute deviation (the
    * Hampel / Leys-et-al. recommendation over z-scores — one bad day
    * cannot drag the baseline the way it drags a mean): per event type,
    * the LOWER median of daily counts (element at rank (n+1) div 2 under
    * the deterministic (value, day) order — integer, no interpolation),
    * MAD as the lower median of |x − med|, and a day flags when
    * |x − med|·1000 > 4448·mad — k=3 times the 1.4826 normal-consistency
    * constant, floored to milli. mad = 0 degrades to "any deviation
    * flags", the strict-consistency reading.
    *
    * Scale shape: one (type, day)-keyed count rollup (the only pass over
    * the events table), then two rank windows over the days-per-type
    * series — bounded by the calendar, not the corpus. Output per
    * (event_type, day): (cnt, med, mad, dev_m, anomaly). */
  def madAnomaly(events: DataFrame, kMilli: Long = 4448L): DataFrame = {
    val daily = events
      .select(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // read by both median passes and the output
    def lowerMedian(df: DataFrame, valueCol: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(valueCol), col("day"))
      val n = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as("m"))
    }
    val med = lowerMedian(daily, "cnt")
    val dev = daily.join(med, "event_type")
      .select(col("event_type"), col("day"), col("cnt"), col("m").as("med"),
        abs(col("cnt") - col("m")).as("adev"))
    val mad = lowerMedian(dev.select(col("event_type"), col("day"),
      col("adev").as("cnt")), "cnt")
      .withColumnRenamed("m", "mad")
    val out = dev.join(mad, "event_type")
      .select(col("event_type"), col("day"), col("cnt"), col("med"),
        col("mad"), (col("adev") * 1000L).as("dev_m"))
      .withColumn("anomaly", col("dev_m") > col("mad") * kMilli)
      .localCheckpoint(true)
    daily.unpersist(false)
    out
  }

  /** Top converting journey paths (product-analytics "path analysis" —
    * the qualitative companion to [[markovAttribution]]'s quantitative
    * credit): each user's pre-purchase event sequence (same
    * first-purchase truncation, first `maxSteps` steps) becomes a '>'
    * -joined path string; paths roll up to user counts and integer
    * permille conversion rates, top `topK` by (n_users desc, path asc).
    * Direct conversions (purchase with no prior events) appear as the
    * empty path.
    *
    * Scale shape: one user-keyed window pass (row_number capped at
    * maxSteps bounds the per-user state to 8 structs), one path rollup,
    * and a TakeOrderedAndProject for the top-k — no global sort.
    * Output: (path, n_users, n_conv, conv_pm). */
  def conversionPaths(events: DataFrame, maxSteps: Int = 8,
                      topK: Int = 20): DataFrame = {
    val ev = events.select(col("user_id"),
      unix_timestamp(col("ts")).as("s"), col("event_id"), col("event_type"))
    val fp = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("s"), col("event_id"))).as("fp"))
    val pre = ev.join(fp, Seq("user_id"), "left")
      .where(col("event_type") =!= "purchase")
      .where(col("fp").isNull || struct(col("s"), col("event_id")) < col("fp"))
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val walked = pre.withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxSteps)
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
          .as("path"),
        max(when(col("fp").isNotNull, 1L).otherwise(0L)).as("conv"))
    val direct = fp.join(pre.select("user_id").distinct(),
        Seq("user_id"), "left_anti")
      .select(col("user_id"), lit("").as("path"), lit(1L).as("conv"))
    walked.unionByName(direct)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .withColumn("conv_pm", expr("n_conv * 1000 div n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(topK)
  }

  /** Discounted lifetime value by acquisition cohort (the subscription /
    * marketplace planning staple): each user's purchases are discounted by
    * γ^d for d = whole days since the user's first event, then rolled up
    * by the user's acquisition day. γ = 0.95/day is materialized as the
    * INTEGER power chain g₀ = 10⁶, g_{d+1} = g_d·950 div 1000 (capped at
    * d = 63 — past that the chain is ≈ 0.04 and flat), so the discount
    * factors are bit-identical in any engine that can run the same
    * 64-step recurrence; contribution = cents·g_d summed exactly, one
    * final div 10⁶ to discounted cents.
    *
    * Scale shape: one user-keyed min(ts) aggregate, one broadcast join
    * of the 64-row gamma table, one cohort rollup — the events table is
    * scanned once and never shuffles wider than (user, day, cents).
    * Output: (cohort_day, n_users, raw_cents, ltv_cents). */
  def ltvCohorts(events: DataFrame, gammaPm: Long = 950L,
                 maxDays: Int = 64): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val t0 = events.agg(unix_timestamp(min(col("ts")))).head().getLong(0)
    val gamma = {
      val chain = Iterator.iterate(1000000L)(g => g * gammaPm / 1000L)
        .take(maxDays).zipWithIndex.map { case (g, d) => (d.toLong, g) }.toSeq
      spark.createDataset(chain).toDF("d", "g")
    }
    val firstTs = events.groupBy(col("user_id"))
      .agg(unix_timestamp(min(col("ts"))).as("first_s"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"),
        floor(col("value") * 100).cast("long").as("cents"))
    val contrib = purchases.join(firstTs, "user_id")
      .select(col("user_id"), col("first_s"), col("cents"),
        least(expr("(s - first_s) div 86400"), lit(maxDays - 1L)).as("d"))
      .join(broadcast(gamma), "d")
      .select(col("user_id"), col("first_s"), col("cents"),
        (col("cents") * col("g")).as("disc"))
    // every user keeps a cohort row even with zero purchases
    val perUser = firstTs.join(
        contrib.groupBy("user_id")
          .agg(sum(col("cents")).as("raw"), sum(col("disc")).as("disc")),
        Seq("user_id"), "left")
      .select(expr(s"(first_s - ${t0}L) div 86400").as("cohort_day"),
        coalesce(col("raw"), lit(0L)).as("raw"),
        coalesce(col("disc"), lit(0L)).as("disc"))
    perUser.groupBy("cohort_day")
      .agg(count(lit(1)).as("n_users"), sum(col("raw")).as("raw_cents"),
        expr("sum(disc) div 1000000").as("ltv_cents"))
  }

  def powerAnalysis(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("event_type"), col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("cents")).as("y"))
    val c = 7848880L // (z_0.975 + z_0.80)^2 in micro
    def nReq(deltaCents: Long): org.apache.spark.sql.Column = {
      val den = 1000000L * deltaCents * deltaCents
      expr(s"(2 * $c * var_c2 + ${den - 1}L) div ${den}L")
    }
    perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n_users"),
        expr("sy div n_users").as("mean_c"),
        expr("(n_users * syy - sy * sy) div (n_users * n_users)").as("var_c2"))
      .select(col("event_type"), col("n_users"), col("mean_c"), col("var_c2"),
        nReq(500L).as("n_req_mde5"), nReq(1000L).as("n_req_mde10"))
  }

  /** Ordered-funnel completion (earliest-completion semantics): a user is
    * at stage k iff an event of stage k exists STRICTLY AFTER their
    * earliest completion of stage k−1 — the standard product-analytics
    * funnel, computed as a chain of per-user min-aggregates: each step is
    * one groupBy(user) plus one user-keyed join against the (user-sized,
    * always shrinking) survivor table, so all K steps hash on the same
    * key and AQE/co-partitioning collapses the Exchanges. No per-user
    * event lists ever materialize. Output: one row per stage with user
    * counts and conversion vs stage 1 in integer permille. */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    var cur = events.where(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val survivors = scala.collection.mutable.ArrayBuffer[(String, DataFrame)](
      (stages.head, cur))
    for (stage <- stages.tail) {
      cur = events.where(col("event_type") === stage)
        .join(cur, Seq("user_id"))
        .where(col("ts") > col("t"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      survivors += ((stage, cur))
    }
    val per = survivors.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("stage"), lit(name).as("event_type"),
          col("n_users"))
    }.reduce(_ unionByName _)
    // conversion vs stage 1: the window runs over K rows (K = stage count)
    val first = first_value(col("n_users")).over(Window.orderBy(col("stage")))
    per.withColumn("conv_x1000",
        floor(col("n_users") * 1000 / greatest(first, lit(1L))).cast("long"))
      .select("stage", "event_type", "n_users", "conv_x1000")
  }

  /** Last-touch revenue attribution: each purchase attributes its revenue
    * to the campaign of the most recent PRECEDING click by the same user
    * (≤ semantics — the as-of join above, reused verbatim), campaign
    * parsed from the click's JSON props with the codegen'd
    * get_json_object path (no UDF). Revenue quantizes to integer cents
    * per row before summing, so campaign totals are order-independent
    * and engine-exact; purchases with no preceding click land in
    * campaign −1 (unattributed). One as-of Exchange on user plus one
    * partial-aggregated campaign rollup. */
  def attribution(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("campaign"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("value_cents"))
    asOfJoin(purchases, clicks, "user_id", "ts", Seq("campaign"), "")
      .select(coalesce(col("campaign"), lit(-1L)).as("campaign"), col("value_cents"))
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("value_cents")).as("revenue_cents"))
  }

  /** Error-burst anomaly flags: per-minute error permille compared
    * against the corpus baseline rate — a minute is anomalous when its
    * rate exceeds `factorX1000`/1000 × baseline. Integer permille floor
    * division throughout (order-independent, engine-exact); the baseline
    * is ONE scalar pair re-attached as a broadcast, and the per-minute
    * rollup is algebraic (map-side combined), so the whole op is one
    * shuffle of minute-keyed partial counts. */
  def errorAnomaly(events: DataFrame, factorX1000: Long = 2000): DataFrame = {
    val perMin = events
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
    val totals = perMin.agg(sum(col("n_errors")).as("te"), sum(col("n_events")).as("tn"))
    perMin.crossJoin(broadcast(totals))
      .withColumn("err_permille",
        floor(col("n_errors") * 1000 / col("n_events")).cast("long"))
      .withColumn("base_permille",
        floor(col("te") * 1000 / greatest(col("tn"), lit(1L))).cast("long"))
      .withColumn("is_anomaly",
        col("err_permille") * 1000 > col("base_permille") * factorX1000)
      .select("minute", "n_events", "n_errors", "err_permille",
        "base_permille", "is_anomaly")
  }

  /** Cohort retention: users bucketed by the DAY of their first event;
    * each (cohort_day, day_offset) cell counts distinct users active that
    * many days after joining — the curve every growth dashboard plots.
    * One user-keyed min-aggregate, one user-keyed join back (the
    * first-event table is user-sized), one algebraic distinct count. */
  def retention(events: DataFrame): DataFrame = {
    val first = events.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    events.join(first, Seq("user_id"))
      .select(to_date(col("first_ts")).as("cohort_day"),
        datediff(to_date(col("ts")), to_date(col("first_ts"))).cast("long").as("day_offset"),
        col("user_id"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Bot-traffic detection — the ingest-hygiene filter that keeps scripted
    * clients out of behavioral training data. Two integer signals per
    * user over (user_id, ts) only: sustained event RATE
    * (n·60000 div span_ms — humans browse at ~2 events/min, scripts run
    * orders of magnitude hotter) and TIMING REGULARITY (a metronomic
    * client emits ONE distinct inter-event gap; humans never do). Flagged
    * = rate over threshold OR perfectly regular with enough events.
    *
    * Scale shape: one window (lag over user_id ordered by ts — partitioned
    * by user, bounded per-user row counts) and one algebraic per-user
    * rollup; only flagged users (a tiny set) survive the final filter.
    * All integer (epoch millis), so the oracle replays it exactly. */
  def botDetect(events: DataFrame, minEvents: Long = 50,
                ratePerMinThreshold: Long = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"))
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           (max(col("ms")) - min(col("ms"))).as("span_ms"),
           countDistinct(col("gap")).as("n_gaps"))
      .withColumn("rate_per_min",
        expr("n_events * 60000 div greatest(span_ms, 1)"))
      // BOTH signals need evidence volume: without the n_events floor, a
      // single-event user (span 0) rates at 60000/min and two clicks 10 s
      // apart rate at 12/min — sparse humans would flag
      .where(col("n_events") >= minEvents &&
        (col("rate_per_min") > ratePerMinThreshold || col("n_gaps") === 1))
      .select("user_id", "n_events", "span_ms", "rate_per_min", "n_gaps")
  }

  /** Event-transition mining: the (from → to) bigram matrix of user
    * behavior — the base artifact for Markov session models, funnel
    * discovery, and bot fingerprinting (scripted clients have degenerate
    * transition rows). Per user, events ordered by (ts, event_id) —
    * deterministic under timestamp ties — lag-paired, then one algebraic
    * (from, to) rollup; the per-from totals re-attach via a broadcast
    * (|event types|² rows). Integer permille.
    *
    * Scale shape: the window partitions by user (bounded per-user rows,
    * no global sort); the rollup output is event-type-cardinality-sized
    * regardless of corpus size. */
  def transitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // tiny; read twice (totals + join)
    val fromTotals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("ft"))
    pairs.join(broadcast(fromTotals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000 div ft").as("share_permille"))
  }

  /** DAU / trailing-7-day WAU / stickiness — the engagement triple every
    * behavioral dashboard leads with. Trailing-distinct is the catch: a
    * 7-day distinct-user count is NOT a sum of daily distincts, so the
    * day spine joins back to the event-day table on a range predicate
    * and re-counts distinct users per window. Scale shape: the per-day
    * user table (day, user) is tiny relative to events (one distinct
    * rollup); the 7-day range join multiplies it by ≤7 — bounded
    * fan-out, never corpus-sized. Stickiness = dau·1000 div wau. */
  def dauWau(events: DataFrame): DataFrame = {
    val dayUsers = events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .localCheckpoint(true) // read 3×: dau rollup, spine, window join
    val dau = dayUsers.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    val spine = dayUsers.select(col("day")).distinct()
    val wau = spine.as("s")
      .join(dayUsers.as("d"),
        col("d.day") <= col("s.day") && col("d.day") >= date_sub(col("s.day"), 6))
      .groupBy(col("s.day").as("day"))
      .agg(countDistinct(col("d.user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000 div wau").as("stickiness_permille"))
  }

  /** Deterministic scripted-client synthesis: `nBots` users (ids 9000+b)
    * each firing `perBot` events at exact 2-second intervals from
    * 2024-01-01T00:00:00Z — the planted positives [[botDetect]] must flag
    * (the driver's human events are both slow and irregular). Mirrored
    * verbatim in the DuckDB oracle. */
  def synthBots(spark: org.apache.spark.sql.SparkSession,
                nBots: Int = 3, perBot: Int = 600): DataFrame =
    spark.range(nBots.toLong * perBot)
      .select((lit(9000L) + col("id") % nBots).as("user_id"),
        timestamp_seconds(lit(1704067200L) + expr(s"id div $nBots") * 2)
          .as("ts"))

  /** CUSUM changepoint detection (Page 1954, public method) over per-type
    * daily event volumes — the monitor that catches a crawl source going
    * quiet or a bot burst mid-corpus. All integer x1000 arithmetic:
    * reference = the type's whole-span mean daily count, allowance
    * k = mean/20,
    * alarm threshold h = 2×mean; s_d = max(0, s_{d−1} + c_d − mean − k).
    * Scale shape: one (type, day) count rollup (map-side combined), then a
    * per-TYPE sorted-group scan — state is one long per type, days stream
    * in order; types partition the work. The recursion is per-key and
    * bounded by the day span, exactly replayable as a recursive CTE. */
  def cusumChangepoints(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"), col("day").cast("string").as("day"), col("c"))
      .as[(String, String, Long)]
    daily.groupByKey(_._1).flatMapGroups { (etype, it) =>
      val days = it.toVector.sortBy(_._2)
      val n = days.length.toLong
      val total = days.map(_._3).sum
      val mean = total * 1000L / n
      val k = mean / 20L
      val h = mean * 2L
      var s = 0L
      days.map { case (_, day, c) =>
        s = math.max(0L, s + c * 1000L - mean - k)
        (etype, day, c, s, s > h)
      }
    }.toDF("event_type", "day", "c", "cusum_x1000", "alarm")
  }

  /** Integer EWMA (α = 0.3, permille units) over each event type's daily
    * volume — the short-horizon trend/forecast readout crawl-ops runs
    * next to the CUSUM alarms: ewma₀ = 1000·n₀, ewmaₜ = (300·1000·nₜ +
    * 700·ewmaₜ₋₁) div 1000, all int64 floor arithmetic, so the
    * trajectory is engine-exact and the oracle replays it with a
    * recursive CTE. `resid_m` = |1000·n − ewma| is the deviation feed.
    *
    * Scale shape identical to [[cusumChangepoints]]: the corpus-scale op
    * is the partial-aggregated daily rollup; the sequential recurrence
    * runs per event type over the BOUNDED day domain inside one task. */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day").cast("string").as("day"), col("n"))
      .as[(String, String, Long)]
    daily.groupByKey(_._1).flatMapGroups { (etype, it) =>
      val days = it.toVector.sortBy(_._2)
      var ewma = 0L
      var first = true
      days.map { case (_, day, n) =>
        ewma = if (first) { first = false; n * 1000L }
               else (300L * n * 1000L + 700L * ewma) / 1000L
        (etype, day, n, ewma, math.abs(n * 1000L - ewma))
      }
    }.toDF("event_type", "day", "n", "ewma_m", "resid_m")
  }

  /** Deterministic burst injection for the CUSUM oracle: `perDay` extra
    * 'click' events on each of the LAST `burstDays` days of January 2024 —
    * planted positives the detector must flag. Mirrored in SQL. */
  def synthBurst(spark: org.apache.spark.sql.SparkSession,
                 burstDays: Int = 3, perDay: Int = 400): DataFrame = {
    spark.range(burstDays.toLong * perDay)
      .select((lit(900000L) + col("id")).as("event_id"),
        timestamp_seconds(lit(1706313600L) + expr(s"id div $perDay") * 86400L +
          (col("id") % perDay) * 60L).as("ts"),
        (lit(8000L) + col("id") % 50).as("user_id"),
        lit("click").as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
  }

  /** Deterministic A/B experiment readout: hash-bucket assignment
    * (`md5(salt:user_id) % 2` — the [[Sampling.md5Mod]] construction, so
    * assignment is reproducible across engines and reruns), per-user
    * conversion on `convType`, and the two-proportion pooled z-test.
    * Scale shape: ONE user-keyed aggregation (map-side combined) then a
    * single global rollup row — assignment is a projection, never a join
    * against an assignment table. The z statistic is floored at 1e-6 with
    * oracle-identical IEEE arithmetic; `significant` is the two-sided 5%
    * decision (|z| > 1.96). */
  def abTest(events: DataFrame, convType: String = "purchase",
             minValue: Double = 120.0): DataFrame = {
    // conversion = a big-ticket purchase (value ≥ minValue): near-universal
    // events make the pooled variance 0 and the z-test degenerate — the
    // metric must discriminate, which is an experiment-design fact, not an
    // engine one
    val users = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType && col("value") >= minValue, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("variant",
        Sampling.md5Mod(concat(lit("ab:"), col("user_id")), 2L))
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv_control"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv_treat"))
      .withColumn("z_x1e6", expr(
        """CAST(FLOOR(((CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
           - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))
           / SQRT((CAST(conv_control + conv_treat AS DOUBLE) / CAST(n_control + n_treat AS DOUBLE))
             * (1.0D - CAST(conv_control + conv_treat AS DOUBLE) / CAST(n_control + n_treat AS DOUBLE))
             * (1.0D / CAST(n_control AS DOUBLE) + 1.0D / CAST(n_treat AS DOUBLE)))) * 1e6) AS BIGINT)"""
          .replace("\n", " ")))
      .withColumn("significant", abs(col("z_x1e6")) > 1960000L)
  }

  /** Conversion-window join: every purchase within `windowMinutes` after a
    * click by the same user. One user-keyed shuffle; the time window is a
    * post-join predicate, so no per-key explosion beyond the window's true
    * matches. Emits every qualifying (click, purchase) pair; the
    * `events_conversion_window` query checks the rows against its DuckDB
    * oracle. */
  def conversionWindow(events: DataFrame, windowMinutes: Int = 10): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    clicks.join(purchases, Seq("user_id"))
      .where(col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("lag_sec"))
  }

  /** Kaplan–Meier churn/survival table at day granularity. Per user the
    * observation is [first event day, last event day]; a user whose last
    * activity falls within `censorWindowDays` of the global horizon (the
    * corpus max day) is right-CENSORED — still possibly active — otherwise
    * the last day is a churn event at duration = datediff(last, first).
    * Standard KM risk-set accounting: n_risk(t) counts durations ≥ t
    * (censored users stay at risk through their censor day), and the
    * survival curve is the running product S(t) = S(t−)·(n_risk−d)/n_risk,
    * carried in integer permille with a floor at every step so the DuckDB
    * recursive-CTE oracle replays it bit-for-bit.
    *
    * Scale shape: ONE user-keyed aggregate is the only corpus pass; the
    * day table is bounded by the study length (≤ horizon span rows), so
    * the suffix-sum window, the sort_array fold that threads the running
    * product, and the explode all run on a metadata-sized relation. The
    * sequential floor-product lives in an `aggregate()` fold over that
    * bounded array — no driver loop, no UDF. */
  def survival(events: DataFrame, censorWindowDays: Int = 3): DataFrame = {
    val perUser = events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id")
      .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
    val horizon = events.agg(max(to_date(col("ts"))).as("horizon"))
    val durs = perUser.crossJoin(broadcast(horizon))
      .select(datediff(col("last_d"), col("first_d")).cast("long").as("dur"),
        (datediff(col("horizon"), col("last_d")) < censorWindowDays)
          .as("censored"))
    val byDay = durs.groupBy("dur")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churn"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val wDesc = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val risk = byDay
      .withColumn("n_risk",
        sum(col("n_churn") + col("n_censored")).over(wDesc))
    risk
      .agg(sort_array(collect_list(struct(col("dur"), col("n_churn"),
        col("n_censored"), col("n_risk")))).as("days"))
      .select(explode(expr(
        """aggregate(days,
          |  named_struct('s', CAST(1000 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<dur: BIGINT, n_churn: BIGINT,
          |                 n_censored: BIGINT, n_risk: BIGINT, surv: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    's', acc.s * (x.n_risk - x.n_churn) div x.n_risk,
          |    'out', concat(acc.out, array(named_struct(
          |      'dur', x.dur, 'n_churn', x.n_churn, 'n_censored', x.n_censored,
          |      'n_risk', x.n_risk,
          |      'surv', acc.s * (x.n_risk - x.n_churn) div x.n_risk)))),
          |  acc -> acc.out)""".stripMargin)).as("f"))
      .select(col("f.dur").as("t_day"), col("f.n_churn").as("n_churn"),
        col("f.n_censored").as("n_censored"), col("f.n_risk").as("n_risk"),
        col("f.surv").as("surv_pm"))
  }

  /** Interval (range) join without the theta-join explosion — the IP→geo
    * lookup shape. Spark plans a raw `lo <= x AND x <= hi` join as
    * BroadcastNestedLoop (or worse, a cartesian): every probe row visits
    * every range. The scalable form EQUI-joins on a fixed-width bucket:
    * each range explodes to the ⌈span/B⌉ buckets it overlaps (bounded,
    * here 4 per range), each point hashes to `x div B`, and the exact
    * `BETWEEN` is a cheap post-filter on bucket-local candidates. One
    * hash shuffle on the bucket key; a point meets only the ranges
    * sharing its bucket, never the whole dimension.
    *
    * Points are synthetic ips from event arithmetic (user_id·997 +
    * event_id·13 mod 100000); ranges tile [0, 100000) from the 25-row
    * nation table (4000 wide each), so coverage is total and the DuckDB
    * BETWEEN-join oracle is exact. Output: per-geo event counts with ip
    * extremes. */
  def rangeBucketJoin(events: DataFrame, nation: DataFrame,
                      bucket: Long = 1000L): DataFrame = {
    val points = events.select(
      ((col("user_id") * 997L + col("event_id") * 13L) % 100000L).as("ip"))
      .withColumn("b", expr(s"ip div $bucket"))
    val ranges = nation.select(
      col("n_name").as("geo"),
      (col("n_nationkey").cast("long") * 4000L).as("lo"))
      .withColumn("hi", col("lo") + 3999L)
      .withColumn("b", explode(expr(
        s"sequence(lo div $bucket, hi div $bucket)")))
    points.join(ranges, Seq("b"))
      .where(col("ip") >= col("lo") && col("ip") <= col("hi"))
      .groupBy("geo")
      .agg(count(lit(1)).as("n_events"), min(col("ip")).as("min_ip"),
        max(col("ip")).as("max_ip"))
  }

  /** Self-join size / skew estimator — the shuffle-planning diagnostic
    * run BEFORE a big key-equi join: F2 = Σ c(k)² is the exact output
    * size of the self-join, n²/d what a uniform-key assumption predicts,
    * and amplification_pm = F2·d·1000 div n² how wrong uniform is (1000
    * = uniform; ≫1000 = skew that will strangle one reducer). Also pins
    * the hottest key and its share of the join output — the salting
    * decision input. One key-count aggregate; everything downstream runs
    * on the (bounded) count table. */
  def joinSkewEstimate(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key).as("k"))
      .agg(count(lit(1)).as("c"))
    counts
      .agg(sum(col("c")).as("n"), count(lit(1)).as("d"),
        sum(col("c") * col("c")).as("f2"),
        max(struct(col("c"), col("k"))).as("hot"))
      .select(col("n"), col("d"), col("f2"),
        expr("n * n div d").as("est_uniform"),
        expr("f2 * d * 1000 div (n * n)").as("amplification_pm"),
        col("hot.k").cast("long").as("hot_key"),
        col("hot.c").as("hot_c"),
        expr("hot.c * hot.c * 1000 div f2").as("hot_share_pm"))
  }

  /** Incremental-view-maintenance audit — the evidence that a 10^12-row
    * aggregate table can absorb a daily delta WITHOUT the full recompute:
    * base (before cutoff day) and delta (after) are aggregated
    * independently and MERGED with combinable algebra only (counts/sums
    * add, max takes greatest; every statistic here is a semigroup), then
    * compared row-for-row against the from-scratch aggregate. The merge
    * step costs O(groups), not O(rows) — that asymmetry is the whole
    * point, and the `consistent` column proves it loses nothing.
    *
    * Three group-by passes at audit time; in production the base
    * aggregate is a stored table and only the delta pass runs. */
  def ivmMergeAudit(events: DataFrame,
                    cutoff: String = "2024-01-20"): DataFrame = {
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    def aggOf(df: DataFrame, suf: String) =
      df.groupBy("event_type").agg(
        count(lit(1)).as("n" + suf), sum(cents).as("s" + suf),
        max(cents).as("x" + suf))
    val isBase = to_date(col("ts")) < lit(cutoff).cast("date")
    val merged = aggOf(events.where(isBase), "_b")
      .join(aggOf(events.where(!isBase), "_d"), Seq("event_type"),
        "full_outer")
      .select(col("event_type"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_merged"),
        (coalesce(col("s_b"), lit(0L)) + coalesce(col("s_d"), lit(0L)))
          .as("sum_merged"),
        greatest(col("x_b"), col("x_d")).as("max_merged"))
    aggOf(events, "_f")
      .withColumnRenamed("n_f", "n_full")
      .withColumnRenamed("s_f", "sum_full")
      .withColumnRenamed("x_f", "max_full")
      .join(merged, Seq("event_type"))
      .withColumn("consistent",
        col("n_full") === col("n_merged") &&
          col("sum_full") === col("sum_merged") &&
          col("max_full") === col("max_merged"))
      .select(col("event_type"), col("n_full"), col("n_merged"),
        col("sum_full"), col("sum_merged"), col("max_full"),
        col("max_merged"), col("consistent"))
  }

  /** Croston's method for INTERMITTENT demand (the right smoother when a
    * series is mostly zeros — per-day purchase value here): on each
    * nonzero day, smooth the demand SIZE and the INTER-ARRIVAL interval
    * separately (α = 0.2, integer milli: z' = (200·y + 800·z) div 1000,
    * same for p), forecast rate = z/p. Plain EWMA on such a series decays
    * toward zero between arrivals and systematically under-forecasts —
    * that bias is why this operator exists next to `events_ewma`.
    *
    * Shape: ONE day rollup (the only corpus pass); the sequential smooth
    * folds over the ≤study-length nonzero-day array (same bounded
    * aggregate() pattern as `events_survival`), replayed by a recursive
    * CTE in the oracle. */
  def crostonForecast(events: DataFrame,
                      eventType: String = "purchase"): DataFrame = {
    val daily = events
      .where(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("CAST(round(sum(value) * 100) AS BIGINT)").as("cents"))
      .where(col("cents") > 0)
    val first = Window.orderBy("day")
    val withGap = daily
      .withColumn("prev_day", lag(col("day"), 1).over(first))
      .withColumn("gap_days",
        coalesce(datediff(col("day"), col("prev_day")), lit(1)).cast("long"))
    withGap
      .agg(sort_array(collect_list(struct(col("day"), col("cents"),
        col("gap_days")))).as("ds"))
      .select(explode(expr(
        """aggregate(ds,
          |  named_struct('z', CAST(-1 AS BIGINT), 'p', CAST(-1 AS BIGINT),
          |    'out', CAST(array() AS ARRAY<STRUCT<day: DATE, cents: BIGINT,
          |      gap_days: BIGINT, z_milli: BIGINT, p_milli: BIGINT>>)),
          |  (acc, x) -> named_struct(
          |    'z', CASE WHEN acc.z < 0 THEN x.cents * 1000
          |         ELSE (200 * x.cents * 1000 + 800 * acc.z) div 1000 END,
          |    'p', CASE WHEN acc.p < 0 THEN x.gap_days * 1000
          |         ELSE (200 * x.gap_days * 1000 + 800 * acc.p) div 1000 END,
          |    'out', concat(acc.out, array(named_struct(
          |      'day', x.day, 'cents', x.cents, 'gap_days', x.gap_days,
          |      'z_milli', CASE WHEN acc.z < 0 THEN x.cents * 1000
          |        ELSE (200 * x.cents * 1000 + 800 * acc.z) div 1000 END,
          |      'p_milli', CASE WHEN acc.p < 0 THEN x.gap_days * 1000
          |        ELSE (200 * x.gap_days * 1000 + 800 * acc.p) div 1000 END)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day"), col("r.cents"), col("r.gap_days"),
        col("r.z_milli"), col("r.p_milli"),
        expr("r.z_milli * 1000 div greatest(r.p_milli, 1)")
          .as("rate_milli"))
  }

  /** SCD2 (slowly-changing-dimension type 2) interval history from an
    * event stream: per user, consecutive runs of the derived `tier`
    * attribute (value-bucket low/mid/high) collapse into versioned
    * validity intervals [valid_from_us, valid_to_us) with an is_current
    * flag — the standard warehouse shape for "what was this entity's
    * attribute at time T" point-in-time joins.
    *
    * Gaps-and-islands with deterministic (ts, event_id) tie order: a lag
    * marks tier changes, a running sum numbers versions, one (user,
    * version) rollup takes interval bounds, and a lead closes each
    * interval with the next version's start (−1 = open/current — kept
    * integer so the row hashes portably). All three windows and the
    * rollup share the user_id partitioning: ONE Exchange total. */
  def scd2(events: DataFrame): DataFrame = {
    val tier = when(col("value") < 10, "low")
      .when(col("value") < 100, "mid").otherwise("high")
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val rows = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), tier.as("tier"))
      .withColumn("prev", lag(col("tier"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("tier"), 1L)
          .otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = rows.groupBy(col("user_id"), col("version"))
      .agg(min(col("tier")).as("tier"),            // constant within a run
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy("user_id").orderBy("version")
    spans
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(wv), lit(-1L)))
      .withColumn("is_current", col("valid_to_us") === -1L)
      .select(col("user_id"), col("version"), col("tier"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"),
        col("n_events"))
  }
}

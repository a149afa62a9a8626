package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Hand-checked semantics for the as-of join, sessionization, and
  * stratified sampling operators. */
class RelationalSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOfJoin: greatest build time <= probe time per key; ties match; no-match is null") {
    import spark.implicits._
    val probe = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // after v2 → matches v2
      (2L, 10L, ts("2024-01-01 08:30:00")), // between v1 and v2 → v1
      (3L, 10L, ts("2024-01-01 08:00:00")), // EXACTLY v1's ts → v1 (<= semantics)
      (4L, 10L, ts("2024-01-01 07:59:59")), // before any view → null
      (5L, 20L, ts("2024-01-01 12:00:00"))  // key with no views at all → null
    ).toDF("event_id", "user_id", "ts")
    val build = Seq(
      (101L, 10L, ts("2024-01-01 08:00:00")),
      (102L, 10L, ts("2024-01-01 09:00:00"))
    ).toDF("view_id", "user_id", "ts")
    val r = Relational.asOfJoin(probe, build, "user_id", "ts", Seq("view_id"), "")
      .orderBy("event_id")
      .select("event_id", "view_id").as[(Long, Option[Long])].collect()
    assert(r.toSeq == Seq(1L -> Some(102L), 2L -> Some(101L), 3L -> Some(101L),
      4L -> None, 5L -> None))
  }

  test("asOfJoin plan: one Exchange (the window), no join node at all") {
    import spark.implicits._
    val probe = (0L until 100L).map(i => (i, i % 5, ts(f"2024-01-01 10:${i % 60}%02d:00")))
      .toDF("event_id", "user_id", "ts")
    val build = (0L until 50L).map(i => (i + 1000L, i % 5, ts(f"2024-01-01 09:${i % 60}%02d:00")))
      .toDF("view_id", "user_id", "ts")
    val plan = Relational.asOfJoin(probe, build, "user_id", "ts", Seq("view_id"), "")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(600))
    assert(plan.contains("Window"), plan.take(600))
    // exactly one data Exchange: the hashpartitioning for the window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(600))
  }

  test("sessionize: 30-min gaps split sessions; cents sum exactly; boundary gap stays") {
    import spark.implicits._
    val e = Seq(
      // user 1: two sessions — the 31-min gap splits, the exactly-30-min gap does NOT
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.11, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 1L, "click", 2.22, "{}"), // 30:00 gap → same session
      (3L, ts("2024-01-01 11:01:00"), 1L, "purchase", 3.33, "{}"), // 31 min → new session
      // user 2: one event
      (4L, ts("2024-01-01 09:00:00"), 2L, "view", 10.01, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Relational.sessionize(e).orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "value_cents", "n_event_types")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq(
      (1L, 1L, 2L, 333L, 2L),  // 111 + 222 cents, view+click
      (1L, 2L, 1L, 333L, 1L),
      (2L, 1L, 1L, 1001L, 1L)))
  }

  test("stratifiedSample: deterministic, honors per-stratum rates, zero shuffle") {
    import spark.implicits._
    val d = (0L until 2000L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val rates = Map("s0" -> 1000, "s1" -> 0, "s2" -> 500)
    val sample = Sampling.stratifiedSample(d, rates, defaultPermille = 100)
    val counts = sample.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts("s0") == 500L)            // keep-all stratum: every row
    assert(!counts.contains("s1"))          // zero-rate stratum: nothing
    assert(math.abs(counts("s2") - 250L) < 60, counts.toString) // ~half
    assert(math.abs(counts.getOrElse("s3", 0L) - 50L) < 30, counts.toString) // default 10%
    // determinism: same rows on re-run
    val a = sample.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.stratifiedSample(d, rates, defaultPermille = 100)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
    // the filter is a pure narrow scan: no Exchange in the plan
    val plan = sample.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("funnel: earliest-completion ordering, permille conversion") {
    import spark.implicits._
    // u1 completes all; u2 has click BEFORE its first view -> stage 1 only;
    // u3's purchase precedes its first-after-view click -> stage 2 only
    val ev = Seq(
      (1L, "view", ts("2024-01-01 00:00:01")),
      (1L, "click", ts("2024-01-01 00:00:02")),
      (1L, "purchase", ts("2024-01-01 00:00:03")),
      (2L, "click", ts("2024-01-01 00:00:01")),
      (2L, "view", ts("2024-01-01 00:00:02")),
      (3L, "view", ts("2024-01-01 00:00:01")),
      (3L, "purchase", ts("2024-01-01 00:00:04")),
      (3L, "click", ts("2024-01-01 00:00:05")),
      (3L, "view", ts("2024-01-01 00:00:06"))
    ).toDF("user_id", "event_type", "ts")
    val out = Relational.funnel(ev).orderBy("stage")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "view", 3L, 1000L),
      (2L, "click", 2L, 666L),
      (3L, "purchase", 1L, 333L)))
  }

  test("retention: cohort day x offset distinct users") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00")), (1L, ts("2024-01-01 17:00:00")),
      (1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-02 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Relational.retention(ev).orderBy("cohort_day", "day_offset")
      .as[(java.sql.Date, Long, Long)].collect().toSeq
      .map { case (d, o, n) => (d.toString, o, n) }
    assert(out == Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L)))
  }

  test("sitemapsFor: global cross-group collection, comments stripped") {
    val txt =
      """# header comment
        |Sitemap: https://a.com/s1.xml
        |User-agent: x
        |Disallow: /p
        |Sitemap: https://a.com/s2.xml.gz # trailing
        |sitemap: https://a.com/s3.xml
        |Sitemap:
        |""".stripMargin
    assert(Robots.sitemapsFor(txt) == Vector(
      "https://a.com/s1.xml", "https://a.com/s2.xml.gz", "https://a.com/s3.xml"))
    assert(Robots.sitemapsFor(null) == Vector.empty)
  }

  test("attribution: last-touch campaign from JSON props, integer cents, unattributed bucket") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "click", ts("2024-01-01 00:00:01"), 0.0, """{"k": 5}"""),
      (2L, 10L, "purchase", ts("2024-01-01 00:00:02"), 10.00, """{"k": 0}"""),
      (3L, 10L, "click", ts("2024-01-01 00:00:03"), 0.0, """{"k": 7}"""),
      (4L, 10L, "purchase", ts("2024-01-01 00:00:04"), 2.50, """{"k": 0}"""),
      (5L, 20L, "purchase", ts("2024-01-01 00:00:01"), 1.00, """{"k": 0}""")
    ).toDF("event_id", "user_id", "event_type", "ts", "value", "props")
    val out = Relational.attribution(ev).orderBy("campaign")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((-1L, 1L, 100L), (5L, 1L, 1000L), (7L, 1L, 250L)))
  }

  test("errorAnomaly: bursty minute flagged vs integer baseline") {
    import spark.implicits._
    // minute 0: 1/10 errors; minute 1: 8/10; minute 2: 0/10
    val ev = (0 until 10).map(i => (ts(f"2024-01-01 00:00:${i * 5}%02d"), if (i == 0) "error" else "view")) ++
      (0 until 10).map(i => (ts(f"2024-01-01 00:01:${i * 5}%02d"), if (i < 8) "error" else "view")) ++
      (0 until 10).map(i => (ts(f"2024-01-01 00:02:${i * 5}%02d"), "view"))
    val out = Relational.errorAnomaly(ev.toDF("ts", "event_type")).orderBy("minute")
      .select("n_events", "n_errors", "err_permille", "base_permille", "is_anomaly")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    // baseline: 9/30 = 300 permille; threshold 2x -> 600
    assert(out == Seq(
      (10L, 1L, 100L, 300L, false),
      (10L, 8L, 800L, 300L, true),
      (10L, 0L, 0L, 300L, false)))
  }
}

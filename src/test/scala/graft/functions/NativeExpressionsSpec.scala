package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture
import graft.spark.PagesTable

/** Native Catalyst Expressions: same results as the ScalaUDF surface, but
  * the plan carries the expression itself (no ScalaUDF boundary) inside
  * whole-stage codegen. */
class NativeExpressionsSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("native expressions match the UDF results on the fixture corpus") {
    NativeRegistry.register(spark)
    PagesTable.ofFixtures(spark, Seq("text.pdf", "multipage.pdf", "empty.pdf"))
      .toDF().createOrReplaceTempView("pages_native_v")
    val rows = spark.sql(
      """SELECT url,
        |  pdf_page_count(html) AS u_pages, pdf_page_count_native(html) AS n_pages,
        |  pdf_char_count(html) AS u_chars, pdf_char_count_native(html) AS n_chars
        |FROM pages_native_v""".stripMargin).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Int]("u_pages") == r.getAs[Int]("n_pages"), r.toString)
      assert(r.getAs[Long]("u_chars") == r.getAs[Long]("n_chars"), r.toString)
    }
    // simhash parity with the Scala-side op
    val s = spark.sql("SELECT simhash64_native('a b c d e f g') AS h").collect()(0).getLong(0)
    assert(s == graft.ops.Dedup.simhash64(graft.ops.Dedup.shingleStrings("a b c d e f g").toSeq))
  }

  test("plan contains the native expression, not a ScalaUDF wrapper") {
    NativeRegistry.register(spark)
    PagesTable.ofFixtures(spark, Seq("text.pdf")).toDF().createOrReplaceTempView("pages_native_v2")
    val df = spark.sql("SELECT pdf_page_count_native(html) FROM pages_native_v2")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pdf_page_count_native"), plan.take(500))
    assert(!plan.contains("UDF"), plan.take(500))
    // null flows through nullSafeEval → null out, not a crash
    val n = spark.sql("SELECT pdf_page_count_native(CAST(NULL AS BINARY))").collect()(0)
    assert(n.isNullAt(0))
  }

  test("pdf_stats_native: fused struct matches per-column natives and parses ONCE per row") {
    NativeRegistry.register(spark)
    PagesTable.ofFixtures(spark, Seq("text.pdf", "multipage.pdf", "empty.pdf"))
      .toDF().createOrReplaceTempView("pages_stats_v")
    NativeFns.statsCalls.set(0)
    // no ORDER BY here: range partitioning SAMPLES the child plan (a whole
    // extra execution) which would double the count without being a
    // per-row double parse; sort driver-side instead
    val rows = spark.sql(
      """SELECT url, s.n_pages AS n_pages, s.n_chars AS n_chars, s.err AS err
        |FROM (SELECT url, pdf_stats_native(html) AS s FROM pages_stats_v)""".stripMargin)
      .collect().sortBy(_.getAs[String]("url"))
    assert(rows.length == 3)
    // one parse per row despite two+ projected stat columns (the old
    // per-column shape parsed each payload once PER COLUMN — r4 wrong #2)
    assert(NativeFns.statsCalls.get() == 3, s"parses=${NativeFns.statsCalls.get()}")
    val perCol = spark.sql(
      """SELECT url, pdf_page_count_native(html) AS n_pages, pdf_char_count_native(html) AS n_chars
        |FROM pages_stats_v ORDER BY url""".stripMargin).collect()
    rows.zip(perCol).foreach { case (a, b) =>
      assert(a.getAs[Int]("n_pages") == b.getAs[Int]("n_pages"))
      assert(a.getAs[Long]("n_chars") == b.getAs[Long]("n_chars"))
      assert(a.getAs[String]("err") == "")
    }
    // corrupt payload → err code populated, sentinel counts
    val bad = spark.sql("SELECT pdf_stats_native(CAST('junk' AS BINARY)) AS s").collect()(0)
      .getStruct(0)
    assert(bad.getInt(0) == -1 && bad.getLong(1) == -1L && bad.getString(2).nonEmpty)
  }

  test("text_normalize_native: NFC + control strip + whitespace collapse + trim") {
    NativeRegistry.register(spark)
    // decomposed e + combining acute composes to U+00E9; BEL stripped
    // without acting as whitespace; tab/newline runs collapse; trim ends
    val got = spark.sql(
      "SELECT text_normalize_native('  cafe\u0301  x\tb\n\nc ctl\u0007chars  ') AS t")
      .collect()(0).getString(0)
    assert(got == "caf\u00e9 x b c ctlchars", got.map(_.toInt).mkString(","))
    // plan stays native (no ScalaUDF), null-safe
    val df = spark.sql("SELECT text_normalize_native(CAST(NULL AS STRING))")
    assert(df.queryExecution.executedPlan.toString.contains("text_normalize_native"))
    assert(df.collect()(0).isNullAt(0))
    // direct function parity + idempotence on already-normal text
    assert(NativeFns.normalizeText("a  b") == "a b")
    assert(NativeFns.normalizeText("a b") == "a b")
    assert(NativeFns.normalizeText(" \t\n\u0007 ") == "")
    assert(NativeFns.normalizeText(null) == "")
  }

  test("type mismatch is rejected at analysis time") {
    NativeRegistry.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT pdf_page_count_native('not binary')").collect()
    }
    val _ = e
  }

  test("FusePdfStatsRule: natural two-call query rewrites to ONE parse per row") {
    NativeRegistry.register(spark)
    PagesTable.ofFixtures(spark, Seq("text.pdf", "multipage.pdf", "empty.pdf"))
      .toDF().createOrReplaceTempView("pages_fuse_v")
    val df = spark.sql(
      """SELECT url, pdf_page_count_native(html) AS p, pdf_char_count_native(html) AS c
        |FROM pages_fuse_v""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("pdf_stats_native"), optimized.take(800))
    assert(!optimized.contains("pdf_page_count_native"), optimized.take(800))
    NativeFns.statsCalls.set(0)
    val rows = df.collect().sortBy(_.getAs[String]("url"))
    assert(rows.length == 3)
    // the rule rewrites both stats to field reads of IDENTICAL stats
    // subtrees; codegen subexpression elimination evaluates them once
    assert(NativeFns.statsCalls.get() == 3, s"parses=${NativeFns.statsCalls.get()}")
    // values match the unfused semantics (goldens: multipage=3 pages)
    val byUrl = rows.map(r => r.getAs[String]("url") ->
      (r.getAs[Int]("p"), r.getAs[Long]("c"))).toMap
    assert(byUrl.exists { case (u, (pp, _)) => u.contains("multipage") && pp == 3 })
    // a LONE stat call is left alone (already one parse)
    val lone = spark.sql("SELECT pdf_page_count_native(html) FROM pages_fuse_v")
    assert(!lone.queryExecution.optimizedPlan.toString.contains("pdf_stats_native"))
  }
}

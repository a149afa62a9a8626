package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSessionFixture

/** End-to-end pipeline semantics: extraction over the synthesized skewed
  * table and per-partition metrics. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("extraction over synthesized corpus: all ok, deterministic totals") {
    import spark.implicits._
    val pages = PagesTable.synthesize(spark, 130, 8)
    val ext = ExtractPipeline.extract(pages).cache()
    try {
      assert(ext.count() == 130)
      assert(ext.where(!col("ok")).count() == 0)
      // arithmetic from per-fixture constants pinned in TextPageSpec/oracles
      val agg = ext.agg(sum("n_pages"), sum("n_chars")).collect()(0)
      assert(agg.getLong(0) == 282, s"pages=${agg.getLong(0)}")
      assert(agg.getLong(1) == 23982, s"chars=${agg.getLong(1)}")
      // byte-identity on the flagship doc rows
      val textRows = ext.where(col("url").startsWith("fixture://text.pdf")).select("text").as[String].collect()
      val golden = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/root/reference/tests/expectations/text_extract.txt")), "UTF-8")
      assert(textRows.nonEmpty && textRows.forall(_ == golden))
    } finally ext.unpersist()
  }

  test("size-routed extraction: identical results, heavy rows routed to shuffled branch") {
    import spark.implicits._
    val pages = PagesTable.synthesize(spark, 60, 4) // includes 233 KB multipage.pdf heavies
    val a = ExtractPipeline.extract(pages).select("url", "n_chars").as[(String, Long)].collect().toMap
    val routed = ExtractPipeline.extractSizeRouted(pages, heavyBytes = 100 << 10)
    val b = routed.select("url", "n_chars").as[(String, Long)].collect().toMap
    assert(a == b)
    // the branch column is the lineage disambiguator (collision-proof at
    // any partition count — ADVICE r4): heavy docs report "salted", small
    // docs "narrow", and the (branch, partition_id) pairs never merge two
    // tasks because union-stage task ids are disjoint across branches
    val rows = routed.select("url", "branch", "partition_id").as[(String, String, Int)].collect()
    assert(rows.forall { case (url, branch, _) =>
      branch == (if (url.startsWith("fixture://multipage.pdf")) "salted" else "narrow")
    })
    val heavyIds = rows.collect { case (_, "salted", pid) => pid }.toSet
    val lightIds = rows.collect { case (_, "narrow", pid) => pid }.toSet
    assert(heavyIds.nonEmpty && lightIds.nonEmpty)
    assert(heavyIds.size <= spark.sessionState.conf.numShufflePartitions)
  }

  test("metrics table: one row per partition, totals add up") {
    val pages = PagesTable.synthesize(spark, 96, 6)
    val ext = ExtractPipeline.extract(pages)
    val m = ExtractPipeline.metrics(ext, "t").collect()
    assert(m.length == 6)
    assert(m.map(r => r.getAs[Long]("docs")).sum == 96)
    assert(m.forall(r => r.getAs[Long]("decode_failures") == 0L))
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Hand-checked semantics for the inverted index and integer PageRank. */
class IndexGraphSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("invertedIndex: exact df; exact sorted postings <= cap; hot terms df-only") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana apple"),    // dup token in-doc counts once
      (2L, "banana cherry"),
      (3L, "banana date"),
      (4L, "banana elder")
    ).toDF("doc_id", "text")
    val r = Index.invertedIndex(d, maxDf = 3).orderBy("term")
      .as[(String, Long, String)].collect().toSeq
    assert(r == Seq(
      ("apple", 1L, "1"),
      ("banana", 4L, ""),       // df 4 > cap 3 → postings dropped, df exact
      ("cherry", 1L, "2"),
      ("date", 1L, "3"),
      ("elder", 1L, "4")))
  }

  test("invertedIndex: capping is exact under partial aggregation (many partitions)") {
    import spark.implicits._
    // 100 docs share the term "hot"; 4 docs have "rare" — across 16
    // partitions the partial buffers must not corrupt either case
    val d = (0L until 100L).map(i =>
        (i, if (i % 33 == 0) "hot rare" else "hot")).toDF("doc_id", "text")
      .repartition(16)
    val r = Index.invertedIndex(d, maxDf = 10).orderBy("term")
      .as[(String, Long, String)].collect().toSeq
    assert(r == Seq(("hot", 100L, ""), ("rare", 4L, "0,33,66,99")))
  }

  test("pageRankInt: one round matches hand computation; all integer") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val r = Graph.pageRankInt(nodes, edges, iters = 1).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    // deg: 0→2, 1→1, 2→1; contribs: 1←500000, 2←500000+1000000, 0←1000000
    assert(r == Seq(
      (0L, 150000L + 850000L),
      (1L, 150000L + 85L * 500000L / 100L),
      (2L, 150000L + 85L * 1500000L / 100L)))
  }

  test("pageRankInt: 3 rounds match an independent in-test reference loop") {
    import spark.implicits._
    val n = 40L
    val nodes = (0L until n).toDF("id")
    val edges = Graph.synthEdges(nodes, n)
    val edgeSet = edges.as[(Long, Long)].collect().toSet
    // independent reference: plain Scala maps, integer math
    val deg = edgeSet.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var score = (0L until n).map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val c = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edgeSet.foreach { case (s, t) => c(t) += score(s) / deg(s) }
      score = (0L until n).map(i => i -> (150000L + 85L * c(i) / 100L)).toMap
    }
    val r = Graph.pageRankInt(nodes, edges, iters = 3).orderBy("id")
      .as[(Long, Long)].collect().toMap
    assert(r == score)
    // scores are deterministic across partitionings
    val r2 = Graph.pageRankInt(nodes.repartition(7), edges.repartition(5), 3)
      .as[(Long, Long)].collect().toMap
    assert(r2 == score)
  }

  test("synthEdges: no self-loops, no duplicate targets, <=3 per node") {
    import spark.implicits._
    val nodes = (0L until 50L).toDF("id")
    val e = Graph.synthEdges(nodes, 50L).as[(Long, Long)].collect().toSeq
    assert(e.forall { case (s, t) => s != t })
    assert(e.distinct.size == e.size)
    assert(e.groupBy(_._1).values.forall(_.size <= 3))
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture
import org.apache.spark.sql.functions._

/** Integer BM25-variant scoring: exactness, ranking order, scale shape. */
class RetrievalSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  def corpus() = {
    import spark.implicits._
    Seq(
      (0L, "apple banana apple cherry"),       // tf(apple)=2, dl=4
      (1L, "apple banana"),                    // tf(apple)=1, dl=2
      (2L, "banana cherry banana date fig"),   // no apple
      (3L, "apple apple apple apple"),         // tf(apple)=4, dl=4
      (4L, "kiwi lime")).toDF("doc_id", "text")
  }

  test("hand-computed score: idf, length norm, and floor division all integer") {
    import spark.implicits._
    val q = Seq((0L, "apple")).toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(corpus(), q, k = 10)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect()
    // df(apple)=3, N=5, tdl=17 → avgdl_m = 17000/5 = 3400
    // idf_u = (1e6 * (2*(5-3)+1)) // (2*3+1) = 5000000 // 7 = 714285
    // doc 3: dl=4, norm_m = 250 + (750*4*1000)//3400 = 250 + 882 = 1132
    //   tfpart = (4*2200*1000) // (4000 + (1200*1132)//1000) = 8800000 // 5358 = 1642
    //   score = (714285*1642) // 1000 = 1172855
    assert(out.head == ((0L, 3L, 1172855L, 1)))
    // higher tf beats shorter doc at equal dl; all three apple docs rank
    assert(out.map(_._2).toVector == Vector(3L, 1L, 0L) ||
      out.map(_._2).toVector == Vector(3L, 0L, 1L))
    assert(out.length == 3) // docs without any query term never appear
  }

  test("multi-term queries sum per-term contributions; top-k cuts") {
    import spark.implicits._
    val q = Seq((0L, "apple cherry"), (1L, "banana banana")).toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(corpus(), q, k = 2)
    assert(out.where(col("rank") > 2).count() == 0)
    // duplicated query terms count once
    val b = out.where(col("query_id") === 1).orderBy("rank")
    import spark.implicits._
    val top = b.as[(Long, Long, Long, Int)].collect()
    assert(top.length == 2 && top.forall(_._3 > 0))
  }

  test("deterministic across partitionings (integer quantize-before-sum)") {
    val q = Retrieval.synthQueries(spark)
    val docs = corpus()
    val a = Retrieval.bm25TopK(docs.repartition(1), q, 5)
      .orderBy("query_id", "rank").collect().toVector
    val b = Retrieval.bm25TopK(docs.repartition(17), q, 5)
      .orderBy("query_id", "rank").collect().toVector
    assert(a == b)
  }

  test("plan: corpus text never reshuffles — only scored pairs Exchange") {
    val q = Retrieval.synthQueries(spark)
    val plan = Retrieval.bm25TopK(corpus(), q, 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    // exchanges: tfq→df (query-term rows), score groupBy, window re-key —
    // none of them carries the text column
    assert(!"Exchange[^\\n]*text".r.findFirstIn(plan).isDefined, plan.take(900))
  }
}

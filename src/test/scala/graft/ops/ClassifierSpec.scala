package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Batch-perceptron semantics: hand-verified update arithmetic, convergence
  * on separable data, and the labeled-corpus construction. */
class ClassifierSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("features: min-capped token count, top-unigram and dup shares, bias") {
    val d = Seq((1L, 1L, "a b c d"), (2L, -1L, "z z z z"), (3L, 1L, ""))
      .toDF("doc_id", "y", "text")
    val f = Classifier.features(d).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(f(0) == ((1L, 1L, 4L, 250L, 0L, 1000L)))
    assert(f(1) == ((2L, -1L, 4L, 1000L, 1000L, 1000L)))
    assert(f(2) == ((3L, 1L, 0L, 0L, 0L, 1000L)))
  }

  test("perceptronFit: hand-computed trace on two separable rows") {
    val feats = Seq(
      (1L, 1L, 4L, 250L, 0L, 1000L),
      (2L, -1L, 4L, 1000L, 1000L, 1000L))
      .toDF("doc_id", "y", "x1", "x2", "x3", "x4")
    val tr = Classifier.perceptronFit(feats, rounds = 3).orderBy("round")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // r0: w=0, everything misclassified (margin 0 ≤ 0); Δw = Σy·x
    assert(tr(0) == ((0L, 0L, 0L, 0L, 0L, 2L)))
    // r1: w=(0,-750,-1000,0): doc1 mis (margin -187500), doc2 ok (+1750000)
    assert(tr(1) == ((1L, 0L, -750L, -1000L, 0L, 1L)))
    // r2: w=(4,-500,-1000,1000): both margins positive → converged
    assert(tr(2) == ((2L, 4L, -500L, -1000L, 1000L, 0L)))
    // r3: no misclassification → weights frozen
    assert(tr(3) == ((3L, 4L, -500L, -1000L, 1000L, 0L)))
  }

  test("corpusWithLabels: every 5th doc gets the junk suffix and y=-1") {
    val d = Seq((4L, "clean text"), (5L, "dirty text")).toDF("doc_id", "text")
    val r = Classifier.corpusWithLabels(d).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(r(0) == ((4L, "clean text", 1L)))
    assert(r(1)._1 == 5L && r(1)._3 == -1L)
    assert(r(1)._2 == "dirty text" + " zq" * 200)
  }

  test("fit on the labeled corpus separates clean from corrupted") {
    val docs = (0L until 60L).map { i =>
      // varied clean text; corruption comes from corpusWithLabels
      (i, (0 until 20).map(j => s"w${(i * 7 + j * 3) % 17}").mkString(" "))
    }.toDF("doc_id", "text")
    val tr = Classifier.perceptronFit(
      Classifier.features(Classifier.corpusWithLabels(docs)), rounds = 8)
      .orderBy("round").as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(tr.head._6 == 60L)            // round 0: all misclassified at w=0
    assert(tr.last._6 < 6L, s"final n_mis=${tr.last._6}") // separated (≥90%)
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 67: assortativity moments. */
class Wave67Spec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("assortativity: star graph is maximally disassortative, clique balanced") {
    import spark.implicits._
    // star: center 0 degree 5, leaves degree 1 → cov_num < 0
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val s = Graph.assortativity(star).collect()(0)
    assert(s.getLong(0) == 10L)     // m = 2×5 directed pair rows
    assert(s.getLong(4) < 0L, s"star cov_num should be negative: $s")
    // clique K4: all degrees equal → zero covariance AND zero variance
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("src", "dst")
    val c = Graph.assortativity(k4).collect()(0)
    assert(c.getLong(4) == 0L && c.getLong(5) == 0L)
  }
}

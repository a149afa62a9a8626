package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** HyperBall semantics: register max-merge BFS vs exact reachability. */
class HyperBallSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def run(n: Int, edges: Seq[(Long, Long)], hops: Int) = {
    val nodesDF = (0L until n.toLong).toDF("id")
    val edgesDF = edges.toDF("src", "dst")
    Graph.hyperBall(nodesDF, edgesDF, hops)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
  }

  /** Exact h-hop reachable-set size (including self) per node. */
  private def exactBall(n: Int, edges: Seq[(Long, Long)], hops: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    (0L until n.toLong).map { u =>
      var frontier = Set(u); var ball = Set(u)
      for (_ <- 1 to hops) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).diff(ball)
        ball ++= frontier
      }
      u -> ball.size
    }.toMap
  }

  test("hyperball ball sizes track exact reachability within HLL error (m=64)") {
    // ring + chords: every node reaches a growing, eventually-global ball
    val n = 120
    val edges = (0L until n.toLong).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i * 7 + 3) % n))).distinct.filter(e => e._1 != e._2)
    val got = run(n, edges, hops = 4)
    val exact = exactBall(n, edges, hops = 4)
    got.foreach { case (id, (_, ball, _)) =>
      val ex = exact(id)
      assert(math.abs(ball - ex).toDouble / ex < 0.45,
        s"node $id: est $ball vs exact $ex") // 64 registers → σ≈13%, 3.5σ bound
    }
    // aggregate error is much tighter than per-node
    val rel = got.map { case (id, (_, b, _)) => b.toDouble / exact(id) }
    val mean = rel.sum / rel.size
    assert(mean > 0.85 && mean < 1.15, s"mean ratio $mean")
  }

  test("hyperball on a directed chain: balls saturate at chain end, harmonic decreases toward the sink") {
    // 0→1→2→…→9; node u reaches min(hops, 9-u) others
    val n = 10
    val edges = (0L until 9L).map(i => (i, i + 1))
    val got = run(n, edges, hops = 4)
    // sink reaches only itself at every hop → harmonic 0
    assert(got(9L)._3 == 0L)
    // upstream nodes have strictly positive harmonic; node 0 ≥ node 8
    assert(got(0L)._3 > 0L && got(8L)._3 > 0L)
    assert(got(0L)._3 >= got(8L)._3)
    // determinism: a second run yields identical bits
    assert(run(n, edges, hops = 4) == got)
  }
}

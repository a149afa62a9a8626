package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

class OverlapSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("legs run concurrently, return in leg order and see the caller's current local properties") {
    val sc = spark.sparkContext
    val key = "graft.overlap.spec"
    try for (value <- Seq("first", "second")) {
      sc.setLocalProperty(key, value)
      val started = new java.util.concurrent.CountDownLatch(4)
      val got = Overlap.all("spec")((0 until 4).map { i => () =>
        started.countDown()
        // every leg waits for all four, so they cannot have run one by one
        assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
        (i, sc.getLocalProperty(key), sc.parallelize(1 to 10, 2).map(_ * i).sum().toLong)
      }: _*)
      assert(got == (0 until 4).map(i => (i, value, 55L * i)))
    } finally sc.setLocalProperty(key, null)
  }

  test("a failing leg's exception reaches the caller after the other legs end") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Overlap.all[Int]("spec")(
      () => throw new IllegalStateException("leg 0"),
      () => { Thread.sleep(200); done.set(true); 1 }))
    assert(e.getMessage == "leg 0" && done.get)
  }
}

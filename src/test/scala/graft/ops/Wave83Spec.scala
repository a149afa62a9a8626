package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 83: extraction-consistency QA, split-leakage audit, source drift. */
class Wave83Spec extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("split_leakage invariant: replica pairs NEVER cross the canonical split") {
    val out = graft.SparkEntry.queries("split_leakage")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val replicaPairs = out.filter(_.getBoolean(2))
    assert(replicaPairs.nonEmpty, "corpus must contain replica pairs")
    // the canonical rule keeps every replica pair on one side
    assert(replicaPairs.forall(!_.getBoolean(4)))
    // and the naive rule must leak at least one of them (the audit's point)
    assert(replicaPairs.exists(_.getBoolean(3)))
  }

  test("sourceCentroidDrift: planted shifted source dominates, quantization exact") {
    // sources 0..2 centered at 0; source 3 (vec_id%4==3) shifted +0.3 on
    // dim 0 → its centroid drift must dominate and sit near the
    // arithmetic prediction
    val rows = (0L until 80L).map { i =>
      val v = Array.fill(8)(0.0f)
      v(0) = (if (i % 4 == 3) 0.3f else 0.0f) + 0.001f * (i % 5)
      v(1) = -0.002f * (i % 7)
      (i, v.toSeq)
    }
    val out = Similarity.sourceCentroidDrift(rows.toDF("vec_id", "embedding"),
        nSources = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out.values.forall(_._1 == 20))
    val drift3 = out(3L)._2
    assert(drift3 > out(0L)._2 && drift3 > out(1L)._2 && drift3 > out(2L)._2)
    // means are micro-units (milli-quantized inputs ×1000 again): the
    // shifted source sits ~225e3 off a global mean of ~75e3 on dim 0, so
    // drift2 ≈ (225e3)² ≈ 5.06e10
    assert(drift3 > 40e9.toLong && drift3 < 65e9.toLong)
  }

  test("extraction consistency: assembler deltas are separators, never losses") {
    val out = graft.SparkEntry.queries("pdf_extract_consistency")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 6)
    // the text page never extracts FEWER chars than the raw objects carry
    // minus nothing — i.e. page chars ≥ object chars (separators only add)
    assert(out.forall(r => r.getLong(2) >= r.getLong(3)))
    // and the delta per page is bounded by one separator per text object
    assert(out.forall(r => r.getLong(2) - r.getLong(3) <= 2 * r.getLong(4)))
  }
}

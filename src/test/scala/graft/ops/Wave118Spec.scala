package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Wave 118: JL sign-projection distortion audit and entity resolution. */
class Wave118Spec extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  /** Independent reimplementation of the md5-parity sign used by jlAudit. */
  private def sgn(j: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s"$j:$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if (hex.charAt(0).toInt % 2 == 0) 1L else -1L
  }

  test("jlAudit: exact integer distances vs an independent in-test replay") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.5f, -0.25f, 2.0f)),
      (1L, Array(0.0f, 1.5f, 0.75f, -1.0f)),
      (2L, Array(0.125f, 0.125f, 0.125f, 0.125f)),
      (3L, Array(0.125f, 0.125f, 0.125f, 0.125f))) // identical to 2
      .toDF("vec_id", "embedding")
    val out = Similarity.jlAudit(vecs, dim = 4, dProj = 2, nPairs = 2)
      .orderBy("pair").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // replay pair 0 by hand: q = round(x*1000)
    val qa = Array(1000L, 500L, -250L, 2000L)
    val qb = Array(0L, 1500L, 750L, -1000L)
    val delta = qa.indices.map(i => qa(i) - qb(i))
    val d2o = delta.map(d => d * d).sum
    val d2p = (0 until 2).map { j =>
      val y = delta.indices.map(i => sgn(j, i) * delta(i)).sum
      y * y
    }.sum
    assert(out(0) == ((0L, d2o, d2p, d2p * 1000 / (2 * d2o))))
    // identical pair: both distances zero, ratio guarded to 0
    assert(out(1) == ((1L, 0L, 0L, 0L)))
  }

  test("jlAudit: scale invariance — doubling the gap leaves ratio_pm unchanged") {
    import spark.implicits._
    def pair(mult: Float) = Seq(
      (0L, Array(1.0f * mult, -2.0f * mult, 0.5f * mult, 1.5f * mult)),
      (1L, Array(-0.5f * mult, 1.0f * mult, 2.0f * mult, -1.0f * mult)))
      .toDF("vec_id", "embedding")
    val r1 = Similarity.jlAudit(pair(1f), dim = 4, dProj = 2, nPairs = 1)
      .collect().head
    val r2 = Similarity.jlAudit(pair(2f), dim = 4, dProj = 2, nPairs = 1)
      .collect().head
    assert(r2.getLong(1) == 4 * r1.getLong(1))
    assert(r2.getLong(2) == 4 * r1.getLong(2))
    assert(r2.getLong(3) == r1.getLong(3))
  }

  test("jlAudit on real embeddings: ratios concentrate near 1000") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.jlAudit(emb).collect()
    assert(rows.length == 50)
    val ratios = rows.map(_.getLong(3))
    // JL with d=16: individual ratios vary but the median must be sane
    val med = ratios.sorted.apply(ratios.length / 2)
    assert(med > 400 && med < 2500, s"median ratio $med out of band")
  }

  private def cust(rows: (Long, String, Int, Double, String)*) = {
    import spark.implicits._
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
  }

  test("dirtyCustomers: phone arithmetic and replica mutation are exact") {
    val out = EntityResolution.dirtyCustomers(cust(
      (7L, "Customer#000000007", 3, 121.34, "BUILDING"),
      (8L, "Customer#000000008", 3, 99.99, "BUILDING")))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(4), r.getLong(5))).toMap
    // phone(7): 10+7=17, 007, 7*7=0049
    assert(out(7L) == (("Customer#000000007", "17-007-0049", 12134L)))
    assert(out(8L) == (("Customer#000000008", "18-008-0056", 9999L)))
    // replica: only key 7 (7%53==7); case-flipped name, last digit 9→0
    assert(out(1000007L) == (("CUSTOMER#000000007", "17-007-0040", 12134L)))
    assert(!out.contains(1000008L))
  }

  test("resolve: planted replicas match at 65, unrelated pairs stay silent") {
    val recs = EntityResolution.dirtyCustomers(cust(
      (7L, "Customer#000000007", 3, 121.34, "BUILDING"),
      (60L, "Customer#000000060", 3, 500.00, "BUILDING"),   // 60%53==7
      (8L, "Customer#000000008", 3, 121.34, "BUILDING")))   // same cents as 7
    val out = EntityResolution.resolve(recs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6))).toSet
    // name 40 + prefix 10 + cents 15 = 65 for both planted pairs;
    // (7,8) shares only cents (15) → silent
    assert(out == Set((7L, 1000007L, 65L), (60L, 1000060L, 65L)))
  }

  test("resolve: block cap keeps lowest (key mod 1e6) deterministically") {
    val many = (0L until 10L).map(k =>
      (k, s"Customer#$k", 1, 10.0, "AUTO"))
    val recs = EntityResolution.dirtyCustomers(cust(many: _*))
    val pairs = EntityResolution.resolve(recs, threshold = 0, maxBlock = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // cap 4 → C(4,2)=6 pairs, all among keys 0..3
    assert(pairs.length == 6)
    assert(pairs.forall { case (a, b) => a < 4 && b < 4 })
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** Semantics for the wave-39 operators: content-defined chunking dedup and
  * the A/B z-test readout. */
class CdcAbSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  test("cdcChunks: boundaries are content-defined — identical content re-aligns after a prefix shift") {
    val corpus = Dedup.synthCdcCorpus(spark)
      .as[(String, Array[Byte])].collect().toMap
    val a = Dedup.cdcChunks(corpus("cdc://a"))
    val c = Dedup.cdcChunks(corpus("cdc://c"))
    // chunks cover the payload exactly, in order, within [min, max]
    assert(a.map(_._2).sum == corpus("cdc://a").length)
    assert(a.head._1 == 0 && a.last._1 + a.last._2 == corpus("cdc://a").length)
    a.foreach { case (_, len, _) => assert(len <= 1024) }
    a.dropRight(1).foreach { case (_, len, _) => assert(len >= 64) }
    // C = 777-byte prefix + A: after the cut-point re-sync, almost every A
    // chunk digest reappears in C even though every byte offset shifted
    val aDigests = a.map(_._3).toSet
    val cDigests = c.map(_._3).toSet
    val shared = aDigests.intersect(cDigests).size
    assert(shared >= aDigests.size - 2,
      s"CDC re-alignment failed: only $shared/${aDigests.size} chunks survive the shift")
    // fixed-size blocking at the same granularity would share ZERO blocks
    def fixedBlocks(b: Array[Byte]) =
      b.grouped(256).map(x => java.util.Arrays.hashCode(x)).toSet
    assert(fixedBlocks(corpus("cdc://a")).intersect(fixedBlocks(corpus("cdc://c"))).isEmpty)
  }

  test("cdcChunks: determinism and sensitivity — a single flipped byte changes only local chunks") {
    // aperiodic (splitmix-ish) content: periodic byte patterns can lack any
    // content-defined cut phase, leaving only maxSize cuts — which never
    // re-sync after a shift. Real payloads are aperiodic; the synthCdcCorpus
    // test covers the re-alignment property on the corpus itself.
    var s = 42L
    val bytes = Array.tabulate(5000) { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) & 0xff).toByte
    }
    val v1 = Dedup.cdcChunks(bytes)
    assert(v1 == Dedup.cdcChunks(bytes.clone()))
    val mutated = bytes.clone(); mutated(2500) = (mutated(2500) ^ 0x5a).toByte
    val v2 = Dedup.cdcChunks(mutated)
    val shared = v1.map(_._3).toSet.intersect(v2.map(_._3).toSet).size
    assert(shared >= v1.size - 3, s"one-byte flip invalidated ${v1.size - shared} chunks")
    assert(shared < v1.size, "flip must invalidate at least its own chunk")
  }

  test("cdcStats: shared accounting matches a hand-joined replay") {
    val stats = Dedup.cdcStats(Dedup.synthCdcCorpus(spark))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats("cdc://a")._4 == stats("cdc://a")._3, "A fully contained in C")
    assert(stats("cdc://d")._4 == 0 && stats("cdc://d")._5 == 0, "D shares nothing")
    assert(stats("cdc://b")._4 > 0 && stats("cdc://b")._4 < stats("cdc://b")._3,
      "B shares its P1/P3 chunks only")
  }

  test("cusumChangepoints: flat volume never alarms, a level shift alarms at the shift") {
    def mk(etype: String, day: Int, n: Int, base: Long) =
      (0 until n).map(i => (base + day * 1000 + i,
        new java.sql.Timestamp(1704067200000L + day * 86400000L + i * 1000L),
        (i % 7).toLong, etype, 1.0, "{}"))
    val rows =
      (0 until 10).flatMap(d => mk("flat", d, 10, 0)) ++            // 10/day
      (0 until 10).flatMap(d => mk("shift", d, if (d < 7) 10 else 40, 100000))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Relational.cusumChangepoints(df)
      .as[(String, String, Long, Long, Boolean)].collect()
    val flat = out.filter(_._1 == "flat")
    assert(flat.length == 10 && flat.forall(!_._5), "flat series must never alarm")
    // flat: mean=10000, k=500 → every day s = max(0, s + 10000-10000-500) = 0
    assert(flat.forall(_._4 == 0L))
    val shift = out.filter(_._1 == "shift").sortBy(_._2)
    // mean = (7*10+3*40)*1000/10 = 19000, k=950; pre-shift days drain to 0;
    // day 8: s = 40000-19950 = 20050 → not yet > h=38000; day 9: 40100 > h
    assert(shift.take(7).forall(!_._5))
    assert(!shift(7)._5 && shift(7)._4 == 20050L)
    assert(shift(9)._5, s"final shifted day must alarm: ${shift.toVector}")
  }

  test("abTest: hand-checked z on a crafted population") {
    // 6 users; variants from the md5 hash are data, so read them back and
    // check the arithmetic instead of assuming the split
    val events = (0L until 6L).flatMap { u =>
      val conv = u < 4 // users 0-3 convert (big-ticket), 4-5 do not
      Seq((u, "view", 1.0), (u, "purchase", if (conv) 150.0 else 50.0))
    }.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, new java.sql.Timestamp(1704067200000L + i * 1000), u, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Relational.abTest(events)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head
    val (nc, nt, cc, ct2, z, sig) = out
    assert(nc + nt == 6 && cc + ct2 == 4)
    val p = (cc + ct2).toDouble / (nc + nt)
    val expectedZ = math.floor(((ct2.toDouble / nt - cc.toDouble / nc)
      / math.sqrt(p * (1.0 - p) * (1.0 / nc + 1.0 / nt))) * 1e6).toLong
    assert(z == expectedZ)
    assert(sig == (math.abs(z) > 1960000L))
  }
}

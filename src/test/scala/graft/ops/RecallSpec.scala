package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionFixture

/** LSH-ANN quality: the scale path's designed workload is near-duplicate
  * retrieval (cosine ≈ 1 pairs — dedup of training corpora), where sign
  * buckets concentrate; on uniformly random vectors every method degrades
  * to a scan, so the planted-near-dup recall is the meaningful bound. */
class RecallSpec extends AnyFunSuite {
  lazy val spark = SparkSessionFixture.spark

  test("hyperplane-LSH finds planted near-duplicates (recall@1 ≥ 0.8)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    // plant a slightly perturbed copy of each of the first 40 vectors
    val planted = base.take(40).map { case (id, e) =>
      (id + 10000L, e.zipWithIndex.map { case (v, k) => v + (if (k % 7 == 0) 0.01f else 0f) })
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val top1 = Similarity.lshTopK(all, nQueries = 40, k = 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = (0 until 40).count(i => top1.get(i.toLong).contains(i + 10000L))
    info(s"planted-near-dup recall@1 = ${hits / 40.0} ($hits/40)")
    assert(hits >= 32, s"hits=$hits")
  }

  test("IVF exhaustive (nprobe = nlist) equals brute force exactly") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = Similarity.ivfTopK(emb, nQueries = 10, k = 3, nlist = 8, nprobe = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val bf = Similarity.bruteForceTopK(emb, nQueries = 10, k = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(ivf.toSeq == bf.toSeq)
  }

  test("IVF scale path (nprobe ≪ nlist) finds planted near-duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val planted = base.take(40).map { case (id, e) =>
      (id + 10000L, e.zipWithIndex.map { case (v, k) => v + (if (k % 7 == 0) 0.01f else 0f) })
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    // a near-identical pair lands in the same inverted list unless it
    // straddles a Voronoi boundary; nprobe=3 covers the straddle cases
    val top1 = Similarity.ivfTopK(all, nQueries = 40, k = 1, nlist = 8, nprobe = 3)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = (0 until 40).count(i => top1.get(i.toLong).contains(i + 10000L))
    info(s"IVF planted-near-dup recall@1 = ${hits / 40.0} ($hits/40)")
    assert(hits >= 32, s"hits=$hits")
  }

  test("embedding near-dup pairs: perturbed (not just scaled) replicas recalled") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val planted = base.take(40).map { case (id, e) =>
      (id + 10000L, e.zipWithIndex.map { case (v, k) => v + (if (k % 7 == 0) 0.01f else 0f) })
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val found = Similarity.embeddingNearDupPairs(all, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val hits = (0 until 40).count(i => found.contains((i.toLong, i + 10000L)))
    info(s"perturbed near-dup pair recall = ${hits / 40.0} ($hits/40)")
    assert(hits >= 32, s"hits=$hits")
  }

  test("LSH candidates are a strict subset of the corpus (sanity)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val approx = Similarity.lshTopK(emb, nQueries = 10, k = 3)
    val rows = approx.select("vec_id").distinct().count()
    assert(rows <= 10)
  }

  test("bitextMargin: planted translations are mutual top-1 with dominant margin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    // "source" = even ids from the natural corpus; "target" = a perturbed
    // translation twin (id+1, odd) per source + the odd natural decoys
    val src = base.filter(_._1 % 2 == 0)
    val twins = src.map { case (id, e) =>
      (id + 1 + 100000L, e.zipWithIndex.map { case (v, j) => v + (if (j % 5 == 0) 0.02f else 0f) })
    }
    val decoys = base.filter(_._1 % 2 == 1).map { case (id, e) => (id + 200001L, e) }
    val a = src.toSeq.toDF("vec_id", "embedding")
    val b = (twins ++ decoys).toSeq.toDF("vec_id", "embedding")
    val out = Similarity.bitextMargin(a, a, b, k = 4)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    val hits = out.count { case (aId, bId, _, _, mutual) => bId == aId + 1 + 100000L && mutual }
    info(s"planted-translation mutual-top-1 recall = ${hits.toDouble / src.length} ($hits/${src.length})")
    assert(hits >= src.length * 4 / 5)
    // ratio margin > 1000 (candidate beats its neighborhood mean) on planted pairs
    val plantedMargins = out.collect { case (aId, bId, _, m, _) if bId == aId + 1 + 100000L => m }
    assert(plantedMargins.forall(_ > 1000L), s"margins: ${plantedMargins.take(5).toSeq}")
  }

  test("topDirectionPower: finds a planted dominant direction, partition-invariant") {
    import spark.implicits._
    // 60 vectors concentrated on axis 3 (±large) + small off-axis noise
    val dim = 8
    val vecs = (0 until 60).map { i =>
      val sign = if (i % 2 == 0) 1f else -1f
      val e = Array.tabulate(dim)(d =>
        if (d == 3) sign * (0.9f + 0.001f * (i % 5))
        else 0.01f * ((i * 7 + d) % 11 - 5))
      (i.toLong, e.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val v = Similarity.topDirectionPower(df, rounds = 3)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(math.abs(v(3)) == 1000L, s"axis 3 should carry the max component: ${v.toSeq}")
    assert(v.zipWithIndex.filter(_._2 != 3).forall(x => math.abs(x._1) < 200),
      s"off-axis components should be small: ${v.toSeq}")

    // exact integer replay: independent local loop must match bit-for-bit
    val q = vecs.map(_._2.map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    var ref = Array.fill(dim)(1000L)
    for (_ <- 1 to 3) {
      val u = new Array[Long](dim)
      for (row <- q) {
        var p = 0L
        for (d <- 0 until dim) p += row(d) * ref(d)
        for (d <- 0 until dim) u(d) += row(d) * p
      }
      val m = u.map(math.abs).max
      ref = u.map(x => if (m == 0L) 0L else x * 1000L / m)
    }
    assert(v.toSeq == ref.toSeq)

    // integer sums are associative: any partitioning yields identical bits
    val v7 = Similarity.topDirectionPower(df.repartition(7), rounds = 3)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(v7.toSeq == v.toSeq)
  }
}

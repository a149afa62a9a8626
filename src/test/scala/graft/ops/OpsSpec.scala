package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{CodegenModes, SparkSessionFixture}

/** Unit + small-data semantics for the training-data operators. */
class OpsSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  test("shingles: distinct word 3-grams, split semantics keep empty tokens") {
    assert(Dedup.shingleStrings("a b c d").toVector == Vector("a b c", "b c d"))
    assert(Dedup.shingleStrings("a b").isEmpty)
    assert(Dedup.shingleStrings("x y z x y z x y z").toVector == Vector("x y z", "y z x", "z x y"))
    // trailing space produces an empty 4th token, like SQL split → 2 shingles
    assert(Dedup.shingleStrings("a b c ").toVector == Vector("a b c", "b c "))
  }

  test("minhash estimates jaccard") {
    val a = Dedup.shingleHashes(Seq.tabulate(100)(i => s"tok$i tok${i + 1} tok${i + 2}").mkString(" x ")) // arbitrary
    val base = Seq.tabulate(120)(i => s"w$i").mkString(" ")
    val ha = Dedup.shingleHashes(base)
    val hb = Dedup.shingleHashes(base.split(" ", -1).dropRight(10).mkString(" "))
    val sa = Dedup.minhashOfHashes(ha, 256)
    val sb = Dedup.minhashOfHashes(hb, 256)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 256.0
    val inter = Dedup.sortedIntersectCount(ha, hb)
    val exact = inter.toDouble / (ha.length + hb.length - inter)
    assert(math.abs(est - exact) < 0.12, s"est=$est exact=$exact")
    val _ = a
  }

  test("simhash: identical texts → 0 hamming, perturbed → small, disjoint → large") {
    val t1 = Seq.tabulate(60)(i => s"w$i").mkString(" ")
    val t2 = t1.split(" ", -1).dropRight(2).mkString(" ")
    val t3 = Seq.tabulate(60)(i => s"z$i").mkString(" ")
    def fp(t: String) = Dedup.simhash64(Dedup.shingleStrings(t).toSeq)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(t1), fp(t1)) == 0)
    assert(ham(fp(t1), fp(t2)) < 12)
    assert(ham(fp(t1), fp(t3)) > 20)
  }

  test("minhash LSH finds engineered near-dups with exact counts") {
    import spark.implicits._
    val base = Seq.tabulate(40)(i => s"tok${i * 7 % 41}").mkString(" ")
    val other = Seq.tabulate(40)(i => s"oth${i * 5 % 37}").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " tail extra"), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, k = 64, bands = 16, threshold = 0.7)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L)))
    val (_, _, inter, union) = pairs.head
    // exact: base has 38 shingles; doc2 adds "tail extra" → 2 extra shingles
    assert(union - inter == 2, s"inter=$inter union=$union")
  }

  test("simhash band keys: guaranteed recall for hamming ≤ 3 (Manku blocks)") {
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val fp = rnd.nextLong()
      val flips = 1 + rnd.nextInt(3)
      var fp2 = fp
      (0 until flips).foreach(_ => fp2 ^= (1L << rnd.nextInt(64)))
      val shared = Dedup.simhashBandKeys(fp).toSet intersect Dedup.simhashBandKeys(fp2).toSet
      assert(shared.nonEmpty, f"no shared band key for fp=$fp%016x flips=$flips")
    }
  }

  test("simhash pipeline pairs near-identical docs; far docs excluded") {
    import spark.implicits._
    // 500 tokens → dropping the last word removes 3 of 498 shingles; the
    // md5-based fingerprints differ by hamming 1 (deterministic), far docs
    // by ~29 — comfortably either side of the ≤3 pairing bar
    val base = Seq.tabulate(500)(i => s"w$i").mkString(" ")
    val near = base.split(" ", -1).dropRight(1).mkString(" ")
    val far = Seq.tabulate(500)(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs).select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("decontaminate flags docs sharing an n-gram with the benchmark, counts hits") {
    import spark.implicits._
    val shared = Seq.tabulate(10)(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, "clean " + Seq.tabulate(12)(i => s"c$i").mkString(" ")),
      (2L, "prefix " + shared + " suffix"), // contains benchmark grams
      (3L, shared)).toDF("doc_id", "text") // identical to benchmark text
    val bench = Seq(Tuple1(shared)).toDF("text")
    val out = graft.ops.TextStats.decontaminate(docs, bench, n = 8)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._3)).toSeq == Seq((1L, false), (2L, true), (3L, true)))
    assert(out(2)._2 == 3L) // 10 tokens → 3 distinct 8-grams, all hit
    assert(out(1)._2 == 3L) // embedded: same 3 grams survive the affixes
  }

  test("jaccard block cap bounds candidate pairs on a single-token-skewed corpus") {
    import spark.implicits._
    // 120 IDENTICAL docs (one "the …" block): every candidate survives
    // verification, so the output count observably equals the candidate count
    val text = "the " + Seq.tabulate(30)(i => s"w$i").mkString(" ")
    val docs = (1L to 120L).map(i => (i, text)).toDF("doc_id", "text")
    val full = Dedup.jaccardBlocked(docs).count()
    assert(full == 120L * 119 / 2, s"uncapped should be exhaustive, got $full")
    val capped = Dedup.jaccardBlocked(docs, maxBlock = 30).count()
    // 4 sub-blocks of ~30 docs: ~4 × C(30,2) ≈ 1740 ≪ 7140 (loose bound for
    // hash-split imbalance)
    assert(capped < 4000, s"capped candidates not bounded: $capped")
    assert(capped > 500, s"cap should not destroy within-sub-block pairs: $capped")
  }

  test("dedup clusters: chained near-dups collapse to the min-id representative") {
    import spark.implicits._
    val base = Seq.tabulate(60)(i => s"tok$i").mkString(" ")
    val near1 = base.split(" ", -1).dropRight(2).mkString(" ")
    val near2 = base.split(" ", -1).dropRight(4).mkString(" ")
    val other = Seq.tabulate(60)(i => s"oth$i").mkString(" ")
    val docs = Seq((7L, base), (3L, near1), (9L, near2), (5L, other), (6L, other))
      .toDF("doc_id", "text")
    val labels = Dedup.clusters(docs).as[(Long, Long)].collect().toMap
    assert(labels(7L) == 3L && labels(3L) == 3L && labels(9L) == 3L, s"got $labels")
    assert(labels(5L) == 5L && labels(6L) == 5L) // identical pair → component
  }

  test("connected components: long chain resolves in O(log n) star rounds") {
    import spark.implicits._
    // a path graph 0-1-2-…-99 (diameter 99): label propagation needs ~100
    // rounds; alternating star must fix-point well inside maxIter=32
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(chain, maxIter = 32)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 100)
    assert(labels.values.forall(_ == 0L), s"all chain nodes → root 0, got ${labels.filter(_._2 != 0L)}")
    // two components + a self-loop-ish duplicate edge
    val two = Seq((10L, 11L), (11L, 12L), (20L, 21L), (21L, 20L)).toDF("a", "b")
    val l2 = Dedup.connectedComponents(two).as[(Long, Long)].collect().toMap
    assert(l2 == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("clusters: star algorithm agrees with label propagation") {
    import spark.implicits._
    val base = Seq.tabulate(60)(i => s"tok$i").mkString(" ")
    val near1 = base.split(" ", -1).dropRight(2).mkString(" ")
    val near2 = base.split(" ", -1).dropRight(4).mkString(" ")
    val other = Seq.tabulate(60)(i => s"oth$i").mkString(" ")
    val docs = Seq((7L, base), (3L, near1), (9L, near2), (5L, other), (6L, other))
      .toDF("doc_id", "text")
    val star = Dedup.clusters(docs).as[(Long, Long)].collect().toMap
    val prop = Dedup.clustersLabelProp(docs).as[(Long, Long)].collect().toMap
    assert(star == prop, s"star=$star prop=$prop")
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val groups = Dedup.exact(docs).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("cnt") == 2 && groups(0).getAs[Long]("keeper") == 1)
  }

  test("embedding near-dup pairs: scaled replicas found, unrelated vectors excluded") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = Seq.tabulate(20)(i => (i.toLong, Seq.fill(32)(rnd.nextGaussian().toFloat)))
    val reps = Seq(0L, 10L).map(i => (i + 100000L, base(i.toInt)._2.map(x => x * 1.1f)))
    val df = (base ++ reps).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(df, threshold = 0.95)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((0L, 100000L, 1.0), (10L, 100010L, 1.0)), s"got $pairs")
  }

  test("brute-force ANN matches hand-computed cosine ordering") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f), 0), (1L, Seq(0.9f, 0.1f, 0f), 0),
      (2L, Seq(0f, 1f, 0f), 1), (3L, Seq(0.5f, 0.5f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 3)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(top.map(_._2).toVector == Vector(1L, 3L, 2L)) // cos: .994, .707, 0
  }

  test("LSH ANN: identical vectors land in the same bucket, top-1 correct") {
    import spark.implicits._
    val base = Seq.tabulate(16)(i => (i * 37 % 13 - 6).toFloat / 7f)
    val near = base.updated(0, base(0) + 0.01f)
    val far = Seq.tabulate(16)(i => (i * 17 % 11 - 5).toFloat / 3f)
    val vecs = Seq((0L, base, 0), (1L, near, 0), (2L, far, 1)).toDF("vec_id", "embedding", "label")
    val top = Similarity.lshTopK(vecs, nQueries = 1, k = 1, bits = 8)
      .select("neighbor_id").as[Long].collect()
    assert(top.toVector == Vector(1L))
  }

  test("query-directed probe sequence: budget respected, lowest margins first") {
    val margins = Array(0.9, -0.05, 0.4, 0.01, -0.7, 0.2)
    val (sig) = 0x2AL
    val seq = Similarity.probeSequence(sig, margins, probes = 4)
    assert(seq.length == 4)
    assert(seq(0) == sig)
    // closest hyperplanes are bits 3 (0.01) and 1 (0.05) — flipped first
    assert(seq(1) == (sig ^ 8L))
    assert(seq(2) == (sig ^ 2L))
    assert(seq.distinct.length == seq.length)
  }

  test("text stats: hand-checked arithmetic") {
    import spark.implicits._
    val docs = Seq((1L, "the cat and the dog."), (2L, "")).toDF("doc_id", "text")
    val q = TextStats.quality(docs).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q(1L).getAs[Long]("n_tokens") == 5)
    assert(q(1L).getAs[Long]("n_periods") == 1)
    assert(q(1L).getAs[Long]("n_the") == 2) // padded " the cat and the dog. " has two " the "
    assert(q(2L).getAs[Long]("n_tokens") == 0)
    val tc = TextStats.tokenCount(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 5L, 2L -> 0L))
    val fp = TextStats.fingerprint(docs).collect().map(r => r.getString(1))
    assert(fp.distinct.length == 2)
  }

  test("png header decode: IHDR dims from a rendered page PNG") {
    val doc = graft.core.PdfDocument.load(graft.core.SynthPdf.onePage("1 0 0 rg 10 10 50 50 re f")).toOption.get
    val png = graft.core.render.Rasterizer.render(doc.page(0), scale = 0.25).toPng
    assert(Multimodal.detectMagic(png) == "png")
    assert(Multimodal.pngDims(png).contains((153, 198))) // ceil(612*.25), ceil(792*.25)
  }

  test("multimodal payload stats: magic + jpeg header decode") {
    val jpg = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/tests/resources/mona_lisa.jpg"))
    assert(Multimodal.detectMagic(jpg) == "jpeg")
    assert(Multimodal.jpegDims(jpg).contains((120, 120)))
    assert(Multimodal.detectMagic("%PDF-1.7\n".getBytes) == "pdf")
    assert(Multimodal.detectMagic("<!doctype html><html>".getBytes) == "html")
    assert(Multimodal.detectMagic(Array[Byte](1, 2, 3)) == "bin")
  }

  test("snapshot dedup: bloom-prefiltered membership is EXACT (no FP/FN in output)") {
    import spark.implicits._
    val snapshot = (0L until 100L).map(i => (i, s"snapshot body $i")).toDF("doc_id", "text")
    // fresh: 50 new bodies + 20 exact replicas of snapshot bodies
    val fresh = ((100L until 150L).map(i => (i, s"fresh body $i")) ++
      (0L until 20L).map(i => (1000L + i, s"snapshot body $i"))).toDF("doc_id", "text")
    val r = Dedup.dedupAgainstSnapshot(snapshot, fresh, expectedItems = 1000L)
      .orderBy("doc_id").as[(Long, Boolean)].collect()
    assert(r.length == 70)
    // all genuinely-new bodies false (bloom false positives must be
    // confirmed away), all replicas true (bloom has no false negatives)
    assert(r.take(50).forall(!_._2))
    assert(r.drop(50).forall(_._2))
    // the probe is a native codegen'd predicate, not a UDF
    val bloomBytes = {
      val b = snapshot.select(md5(col("text")).as("fp")).stat.bloomFilter("fp", 1000L, 0.01)
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    // repartition blocks ConvertToLocalRelation from pre-evaluating the
    // projection at plan time — keeps the probe visible in the physical plan
    val df = fresh.repartition(2)
      .select(graft.functions.NativeColumns.bloomProbe(md5(col("text")), bloomBytes).as("hit"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_probe") && !plan.contains("UDF"), plan.take(400))
    // filter semantics directly: every snapshot body hits, most fresh don't
    assert(df.filter(col("hit")).count() >= 20)
  }

  for ((mode, confs) <- CodegenModes.modes) {
    val label = if (mode.isEmpty) "" else s" ($mode)"

    test(s"bloom_probe equals BloomFilter.mightContainString; null gives null$label") {
      import spark.implicits._
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
      (0 until 100).foreach(i => bf.putString(s"member $i"))
      val bytes = { val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray }
      val keys = (0 until 200).map(i => s"member $i") :+ null
      val expected = keys.map(k => Option(k).map(bf.mightContainString))
      assert(expected.count(_.contains(false)) > 0, "some keys must miss")
      val df = keys.zip(expected).toDF("k", "expected")
      val diff = CodegenModes.differWith(confs)(df, col("expected"),
        graft.functions.NativeColumns.bloomProbe(col("k"), bytes))
      assert(diff == 0L, s"bloom_probe differs from the filter on $diff keys")
    }
  }

  test("ocr routing: scan → OCR, text → direct, blank → neither; page cap holds") {
    import graft.spark.{PageRow, PagesTable}
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val scanned = PageRow("built://scan.pdf", ts,
      graft.core.PdfWriter.imagesToPdf(Seq(PagesTable.fixture("mona_lisa.jpg"))), null, "la")
    val garbage = PageRow("built://garbage.bin", ts, Array[Byte](1, 2, 3), null, "la")
    val in = PagesTable.ofFixtures(spark, Seq("text.pdf", "empty.pdf"))
      .unionByName(spark.createDataset(Seq(scanned, garbage)))
    val r = Multimodal.ocrRouting(in).collect().map(o => o.url -> o).toMap
    // scan: zero text, full-page ink → OCR branch
    assert(r("built://scan.pdf").needs_ocr && r("built://scan.pdf").n_chars == 0)
    assert(r("built://scan.pdf").ink_permille > 900)
    // text page: extractable chars → direct extraction
    assert(!r("fixture://text.pdf").needs_ocr && r("fixture://text.pdf").n_chars > 0)
    // blank page: neither text nor ink → padding, never routed to OCR
    assert(!r("fixture://empty.pdf").needs_ocr && r("fixture://empty.pdf").ink_permille == 0)
    // unparseable payloads drop (routing is for parsed PDFs only)
    assert(!r.contains("built://garbage.bin"))
    // per-doc page cap bounds task cost on pathological page counts
    val capped = Multimodal.ocrRouting(
      PagesTable.ofFixtures(spark, Seq("multipage.pdf")), maxPages = 2).collect()
    assert(capped.length == 2)
  }
}

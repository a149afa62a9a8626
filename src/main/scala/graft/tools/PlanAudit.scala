package graft.tools

/** Emits `explain("formatted")` for the flagship plans (PLANS.md source).
  * Diagnostic main, not part of the library surface. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    def show(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n===== $name =====")
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    show("extract (flagship, narrow)") {
      graft.spark.ExtractPipeline.extract(graft.spark.PagesTable.synthesize(spark, 1000, 8)).toDF()
    }
    show("extract_metrics (declarative agg over carrier)") {
      graft.SparkEntry.queries("extract_metrics")(spark, sfDir)
    }
    show("pdf_metadata (carrier select/explode)") {
      graft.SparkEntry.queries("pdf_metadata")(spark, sfDir)
    }
    show("q_join_revenue (broadcast dim)") {
      graft.SparkEntry.queries("q_join_revenue")(spark, sfDir)
    }
    show("dedup_minhash_lsh (band-bucket join, id-only candidates)") {
      graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
    }
    show("ann_cosine_topk (bounded-heap partial top-k aggregation)") {
      graft.SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
    }
    show("connectedComponents one star round (large-star then small-star)") {
      import spark.implicits._
      val edges = (0L until 64L).map(i => (i + 1, i)).toDF("u", "v")
      graft.ops.Dedup.ccSmallStar(graft.ops.Dedup.ccLargeStar(edges))
    }
    show("parquet pushdown probe (filter+projection reach the scan)") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .where(org.apache.spark.sql.functions.col("l_orderkey") < 100)
        .select("l_orderkey", "l_quantity")
    }
    show("extractSizeRouted (narrow smalls + salted heavy tail)") {
      graft.spark.ExtractPipeline.extractSizeRouted(
        graft.spark.PagesTable.synthesize(spark, 1000, 8)).toDF()
    }
    show("text_decontaminate (benchmark grams broadcast, corpus narrow)") {
      graft.SparkEntry.queries("text_decontaminate")(spark, sfDir)
    }
    show("dedup_paragraph (ids-only first-occurrence shuffle, map-side rebuild)") {
      graft.SparkEntry.queries("dedup_paragraph")(spark, sfDir)
    }
    show("dedup_substring (map-side-combined gram counts, semi-join back)") {
      graft.SparkEntry.queries("dedup_substring")(spark, sfDir)
    }
    show("text_pii (narrow codegen'd regexp scan, no shuffle)") {
      graft.SparkEntry.queries("text_pii")(spark, sfDir)
    }
    show("url_normalize (three native expressions, pure narrow projection)") {
      graft.SparkEntry.queries("url_normalize")(spark, sfDir)
    }
    show("dedup_snapshot (bloom probe in narrow scan, snapshot never shuffles)") {
      graft.SparkEntry.queries("dedup_snapshot")(spark, sfDir)
    }
    show("events_asof (merge-scan as-of: one Exchange, no join node)") {
      graft.SparkEntry.queries("events_asof")(spark, sfDir)
    }
    show("events_sessionize (one event shuffle + session-row partial agg)") {
      graft.SparkEntry.queries("events_sessionize")(spark, sfDir)
    }
    show("corpus_sample (zero-shuffle hash-threshold filter on the scan)") {
      graft.SparkEntry.queries("corpus_sample")(spark, sfDir)
    }
    show("text_index (capped typed aggregator: ids-only shuffle, bounded state)") {
      graft.SparkEntry.queries("text_index")(spark, sfDir)
    }
    show("domain_rank (integer PageRank: per-round contrib shuffle is (dst,long) pairs)") {
      graft.SparkEntry.queries("domain_rank")(spark, sfDir)
    }
    show("warc_records (narrow flatMap blob split, zero Exchange)") {
      import spark.implicits._
      val blob = graft.spark.Warc.gzipMember(graft.spark.Warc.buildRecord(
        "https://example.com/doc/1", "2024-01-01T00:00:00Z", "body".getBytes("UTF-8")))
      graft.spark.Warc.records(Seq((0L, blob)).toDF("blob_id", "warc")).toDF()
    }
    show("text_chunk (narrow Generate, zero shuffle)") {
      graft.ops.Assemble.chunk(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"), 32, 24)
    }
    show("corpus_pack (one shard shuffle; bin agg reuses partitioning)") {
      graft.ops.Assemble.pack(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"), 256, 8)
    }
    show("text_lm_score (literal-map scoring pass: zero joins/shuffles)") {
      // show the SCORING pass plan (the model fit is a separate word-count
      // job that runs eagerly inside lmScore)
      graft.ops.TextStats.lmScore(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"))
    }
    spark.stop()
  }
}

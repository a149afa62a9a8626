package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl snapshot diffing — classify every url across two crawl rounds as
  * added / removed / changed / unchanged by content hash. The change feed
  * drives recrawl scheduling (changed urls refresh sooner) and
  * incremental corpus updates (only added+changed re-enter the pipeline,
  * the complement of incremental-snapshot dedup).
  *
  * Scale shape: ONE full-outer hash join on url, carrying (url, md5)
  * pairs only — never payloads. On bucketed snapshot tables (both sides
  * bucketBy(url)) the join is Exchange-free, the shape BucketedJoinSpec
  * demonstrates; otherwise it is a single well-partitioned shuffle. The
  * domain rollup is algebraic and reuses the url partitioning's
  * map-side combine. */
object SnapshotDiff {

  /** (url, status) for every url present in either snapshot.
    * Inputs: (url, content_md5). */
  def diff(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("url"), col("content_md5").as("md5_a"))
      .join(b.select(col("url"), col("content_md5").as("md5_b")), Seq("url"), "full_outer")
      .select(col("url"),
        when(col("md5_a").isNull, "added")
          .when(col("md5_b").isNull, "removed")
          .when(col("md5_a") === col("md5_b"), "unchanged")
          .otherwise("changed").as("status"))

  /** Per-domain change rollup over a diff result. */
  def domainSummary(diffed: DataFrame): DataFrame =
    diffed.withColumn("domain", graft.functions.NativeColumns.urlDomain(col("url")))
      .groupBy("domain", "status").agg(count(lit(1)).as("n"))

  /** WARC revisit-record planning (the Common-Crawl storage dedup:
    * a recrawl whose payload digest matches the prior capture of the same
    * url is written as a `revisit` record with the
    * identical-payload-digest profile — no payload bytes — instead of a
    * full `response` record). Input: current (url, content_md5, n_bytes),
    * previous (url, content_md5). Output: per-domain export audit —
    * record counts, revisit counts, bytes the revisit records save, and
    * the revisit rate in permille.
    *
    * Scale shape: the same single (url, md5) join as [[diff]] — payloads
    * never shuffle; bucketed snapshots make it Exchange-free — plus one
    * algebraic domain rollup. */
  def warcRevisit(current: DataFrame, previous: DataFrame): DataFrame =
    current
      .join(previous.select(col("url"), col("content_md5").as("md5_prev")),
        Seq("url"), "left")
      .select(
        (col("md5_prev").isNotNull && col("md5_prev") === col("content_md5"))
          .as("is_revisit"),
        col("n_bytes"),
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("is_revisit"), 1L).otherwise(0L)).as("n_revisits"),
        sum(when(col("is_revisit"), col("n_bytes")).otherwise(0L)).as("bytes_saved"))
      .withColumn("revisit_permille", expr("n_revisits * 1000 div n_records"))

  /** The B-side of [[synthSnapshots]] with payload sizes attached —
    * the "current crawl" input for [[warcRevisit]]. */
  def synthCurrentWithBytes(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") >= 50).select(
      concat(lit("https://site"), col("doc_id") % 8, lit(".example/a/p"), col("doc_id")).as("url"),
      when(col("doc_id") % 7 === 0, md5(concat(col("text"), lit("v2")).cast("binary")))
        .otherwise(md5(col("text").cast("binary"))).as("content_md5"),
      col("n_chars").cast("long").as("n_bytes"))

  /** Deterministic snapshot pair over the documents table: snapshot A =
    * docs [0, n−50), B = docs [50, n); within the overlap, docs with
    * doc_id % 7 == 0 carry a different hash in B (content changed). So
    * removed = [0,50), added = [n−50,n), changed = overlap ∩ 7ℤ. */
  def synthSnapshots(docs: DataFrame): (DataFrame, DataFrame) = {
    val n = docs.count()
    val urled = docs.select(
      concat(lit("https://site"), col("doc_id") % 8, lit(".example/a/p"), col("doc_id")).as("url"),
      col("doc_id"), col("text"), md5(col("text").cast("binary")).as("content_md5"))
    val a = urled.where(col("doc_id") < n - 50).select("url", "content_md5")
    val b = urled.where(col("doc_id") >= 50)
      .select(col("url"),
        when(col("doc_id") % 7 === 0, md5(concat(col("text"), lit("v2")).cast("binary")))
          .otherwise(col("content_md5")).as("content_md5"))
    (a, b)
  }
}

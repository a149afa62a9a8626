package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.Extract

/** Per-document extraction result row (FIXTURES.md §5 `extracted`). `text`
  * is the CLI-normalized report (LF line breaks, "# Page N" headers) so the
  * byte-identity contract is checkable against
  * tests/expectations/text_extract.txt verbatim. */
final case class SpanRect(l: Double, b: Double, r: Double, t: Double)
/** Page-level extraction row: text + line-span geometry (FIXTURES.md §5). */
final case class PageSpans(
    url: String,
    page_idx: Int,
    text: String,
    n_chars: Long,
    rects: Seq[SpanRect])

final case class ExtractedDoc(
    url: String,
    ok: Boolean,
    err_code: String,
    n_pages: Int,
    n_chars: Long,
    text: String,
    branch: String, // lineage: which pipeline branch parsed the row ("narrow" | "salted")
    partition_id: Int,
    parse_ms: Long, // whole milliseconds, truncated
    parse_us: Long) // the same parse time in microseconds: sums over sub-millisecond docs stay exact

/** The engine: Dataset[PageRow] → Dataset[ExtractedDoc] via mapPartitions —
  * the reference's execution-architecture lesson re-expressed in Spark
  * (open-once per worker, heavy work partition-local, ship only small
  * results; render.py:372-383 + changelog.md:447-457, SURVEY.md §3.2).
  *
  * Scale design (SURVEY.md §4.2): two placement policies, chosen by the
  * one thing the code can observe per row, the payload size:
  *  - [[extract]] parses every row where the scan produced it (no Exchange);
  *  - [[extractSizeRouted]] additionally deals the heavy tail round-robin
  *    over the shuffle partitions so monster documents stop gating their
  *    input partition, and AQE (Spark's default) re-splits residual skew;
  *  - a max-payload guard turns pathological rows into error statuses
  *    instead of executor OOMs;
  *  - per-partition metrics ride on the rows (partition_id column) and
  *    aggregate declaratively into the metrics table — no driver loops.
  */
object ExtractPipeline {

  val MaxHtmlBytes: Int = 64 << 20 // 64 MiB per-row guard

  /** The per-row payload guard of every entry point: why a payload must not
    * be parsed, or None when it may be. */
  private def rejected(html: Array[Byte]): Option[String] =
    if (html == null) Some("null payload")
    else if (html.length > MaxHtmlBytes) Some("payload too large")
    else None

  /** Narrow (shuffle-free) extraction: parse rows where the scan produced
    * them. This is the default at scale — repartitioning would shuffle the
    * full binary payload, the exact anti-pattern the reference documents
    * ("bitmap transfer … outweighed parallelization", changelog.md:447-453).
    * Input-split sizing (spark.sql.files.maxPartitionBytes) + AQE already
    * bound per-task work for file-backed scans; use [[extractSizeRouted]]
    * when a few huge payloads cluster in one input partition. */
  def extract(pages: Dataset[PageRow], password: String = ""): Dataset[ExtractedDoc] =
    mapParse(pages, password, "narrow")

  /** Size-routed extraction — the skew answer that doesn't pay for the
    * common case: rows with payloads ≤ `heavyBytes` (and null payloads,
    * which fail the guard without parsing) are parsed narrow; only the
    * heavy tail is round-robin repartitioned into
    * `spark.sql.shuffle.partitions` tasks, so monster documents leave the
    * input partition they clustered in. Round-robin deals one input
    * partition's rows to consecutive tasks (after Spark's deterministic
    * local sort), so k ≤ P heavy rows from one input partition land in k
    * distinct tasks; a hash of the url put 3 of perfbench `skew_routed`'s
    * 4 monsters in one task. Rows from different input partitions start
    * at independent offsets and can still share a task. The shuffle
    * carries only the rare big payloads instead of the whole corpus:
    * full-corpus salting measurably LOSES wall time at realistic mixes
    * because shipping every payload costs more than the straggler it
    * removes (BENCH_skew.json; the reference's own parallel-processing
    * lesson, changelog.md:447-453).
    * Input is scanned twice (once per branch) but the filter is a cheap
    * length check against a column the branch reads anyway, and each row
    * is PARSED exactly once. */
  def extractSizeRouted(pages: Dataset[PageRow], password: String = "",
                        heavyBytes: Int = 1 << 20): Dataset[ExtractedDoc] = {
    val size = length(col("html"))
    val small = pages.where(col("html").isNull || size <= heavyBytes)
    val heavy = pages.where(size > heavyBytes)
      .repartition(pages.sparkSession.sessionState.conf.numShufflePartitions)
    // Lineage key: (branch, partition_id). The explicit branch column makes
    // the key collision-proof at ANY partition count; partition_id itself
    // is the TASK's id, and since both branches execute inside the one
    // union stage Spark numbers their task partitions disjointly anyway.
    mapParse(small, password, "narrow")
      .unionByName(mapParse(heavy, password, "salted"))
  }

  private def mapParse(pages: Dataset[PageRow], password: String,
                       branch: String): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map { row =>
        val t0 = System.nanoTime()
        val res = rejected(row.html) match {
          case Some(why) => graft.core.DocExtract(ok = false, graft.core.ErrCodes.Format, why, 0, Vector.empty)
          case None => Extract.extractAny(row.html, password)
        }
        val ns = System.nanoTime() - t0
        ExtractedDoc(
          url = row.url,
          ok = res.ok,
          err_code = res.errCode,
          n_pages = res.nPages,
          n_chars = res.pages.map(_.nChars.toLong).sum,
          text = if (res.ok) res.cliReport else "",
          branch = branch,
          partition_id = pid,
          parse_ms = ns / 1000000L,
          parse_us = ns / 1000L)
      }
    }
  }

  /** Page-level output with span/bbox structs (north star: "emits per-url
    * extracted text and span/bbox structs"): one row per (url, page) with
    * the page text and its line rects in PDF canvas units. */
  def extractSpans(pages: Dataset[PageRow], password: String = ""): Dataset[PageSpans] = {
    import pages.sparkSession.implicits._
    mapDocs(pages, password) { (url, doc) =>
      doc.pages.iterator.zipWithIndex.map { case (p, i) =>
        val tp = p.textPage
        val rects = tp.rects().map(r => SpanRect(r.left, r.bottom, r.right, r.top))
        PageSpans(url, i, tp.text, tp.countChars.toLong, rects)
      }
    }
  }

  /** Distributed full-document carrier: every non-text report of the
    * reference API (metadata, TOC, boxes, objects, annotations, attachments,
    * form fields, fonts, page labels) parsed inside tasks and emitted as one
    * struct row per document. The individual reports are then plain
    * selects/explodes over this Dataset — no driver-side document loads.
    * `parts` prunes sections at parse time (mapPartitions is opaque to
    * Catalyst column pruning, so pruning must happen here). */
  def extractDoc(pages: Dataset[PageRow], password: String = "",
                 parts: Set[String] = DocParts.All): Dataset[DocRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      it.map { row =>
        if (rejected(row.html).isDefined) DocTable.error(row.url, graft.core.ErrCodes.Format)
        else graft.core.PdfDocument.load(row.html, password) match {
          case Left(err) => DocTable.error(row.url, err.code)
          case Right(doc) =>
            try DocTable.build(row.url, doc, parts)
            catch { case _: Exception => DocTable.error(row.url, graft.core.ErrCodes.Format) }
        }
      }
    }
  }

  /** Generic distributed per-document transform for operators that need the
    * parsed document but aren't covered by [[extractDoc]]'s fixed surface
    * (e.g. text search with a query-specific term). `f` runs inside tasks;
    * load failures yield no rows. */
  def mapDocs[T: org.apache.spark.sql.Encoder](pages: Dataset[PageRow], password: String = "")(
      f: (String, graft.core.PdfDocument) => IterableOnce[T]): Dataset[T] =
    pages.mapPartitions { it =>
      it.flatMap { row =>
        if (rejected(row.html).isDefined) Iterator.empty
        else graft.core.PdfDocument.load(row.html, password) match {
          case Left(_) => Iterator.empty
          case Right(doc) => f(row.url, doc).iterator
        }
      }
    }

  /** Per-partition lineage/metrics table (FIXTURES.md §5 `metrics`;
    * north-star requirement BASELINE.json). Pure declarative aggregation —
    * partial+final aggregation and the tiny shuffle are Catalyst's. */
  def metrics(extracted: Dataset[ExtractedDoc], runId: String): DataFrame = {
    extracted.groupBy(col("branch"), col("partition_id")).agg(
      count(lit(1)).as("docs"),
      sum(col("n_pages")).as("pages"),
      sum(col("n_chars")).as("chars"),
      sum(when(col("ok"), 0L).otherwise(1L)).as("decode_failures"),
      (sum(col("parse_us")) / 1000.0).as("wall_ms"))
      .withColumn("run_id", lit(runId))
  }
}

/** Checkpoint-resume at group granularity (SURVEY.md §2.10). A group is a
  * set of input files: a row belongs to the group
  * pmod(xxhash64(_metadata.file_name), groups) of the file it was read from.
  * Spark prunes that filter at file listing, so each group's job opens only
  * its own files and a run reads every input row once. Each group is
  * extracted into `$outDir/group=$g` with OVERWRITE, and only after that
  * write returns does the driver create one empty marker file,
  * `$outDir/_committed/$g-of-$groups`. A single file create cannot land
  * half-way, so a group is committed whole or redone whole: the idea of
  * Delta Lake's one-commit log, applied per group. Spark's file index skips
  * `_`-prefixed paths, so `spark.read.parquet(outDir)` reads only the group
  * output. */
object ResumableExtract {

  /** Extracts every group of `pages` that has no marker under `outDir`.
    * `pages` must be a file-source scan (`spark.read.parquet(dir)`), since
    * groups are read from its `_metadata` column. Any other Dataset throws
    * AnalysisException (UNRESOLVED_COLUMN on `_metadata`) when the first
    * group's query is built, before anything is written. The markers are
    * listed once on the driver, so a settled rerun submits no Spark job.
    * Throws IllegalArgumentException, writing nothing, when a marker was
    * written with another `groups` value: group membership depends on it,
    * and mixing two values would duplicate rows. An `outDir` whose groups
    * were cut by url hash, as earlier versions did, must be started fresh,
    * and so must one written before `ExtractedDoc` gained `parse_us`: its
    * group files would hold another schema than the new ones. */
  def run(pages: Dataset[PageRow], outDir: String, groups: Int): Unit = {
    val markers = new org.apache.hadoop.fs.Path(outDir, "_committed")
    val fs = markers.getFileSystem(pages.sparkSession.sessionState.newHadoopConf())
    val committed =
      if (fs.exists(markers)) fs.listStatus(markers).map(_.getPath.getName).toSet else Set.empty[String]
    val foreign = committed.filterNot(_.endsWith(s"-of-$groups"))
    require(foreign.isEmpty,
      s"$markers holds markers of another groups value (${foreign.mkString(", ")}); run with that value")
    for (g <- 0 until groups if !committed(s"$g-of-$groups")) {
      ExtractPipeline.extract(pages.where(pmod(xxhash64(col("_metadata.file_name")), lit(groups)) === g))
        .write.mode("overwrite").parquet(s"$outDir/group=$g")
      fs.create(new org.apache.hadoop.fs.Path(markers, s"$g-of-$groups"), false).close()
    }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout planning for the corpus table itself — the decisions a
  * 10^12-row Iceberg table lives or dies by: which sort order to write so
  * min/max file statistics actually prune, and which partition key needs
  * salting before it melts an executor. Both are SIMULATIONS over the
  * real data (file-skipping measured, not estimated from formulas), with
  * integer-exact outputs the DuckDB oracle replays bit-for-bit.
  *
  * Scale note: the global `row_number` that assigns rows to files mirrors
  * the write-side sort the layout itself requires — evaluating a sort
  * layout costs one sort of the SAMPLE being evaluated (run it on a 0.1%
  * sample at corpus scale; min/max pruning statistics are
  * scale-invariant for key-uniform data). */
object Storage {

  /** 16-bit × 2 Morton interleave — the z-order curve cell for a
    * (domain_idx, ts_bucket) pair, as plain integer arithmetic both
    * engines evaluate identically. */
  def zValue(a: Column, b: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      (shiftright(a, i) % 2) * lit(1L << (2 * i + 1)) +
        (shiftright(b, i) % 2) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** Evaluate candidate sort layouts by MEASURED file skipping: rows are
    * packed `fileRows` per file in each layout's order, per-file min/max
    * column ranges are collected (exactly the stats an Iceberg manifest
    * carries), and every point query on `domain_idx` plus every range
    * query on `ts_bucket` is answered from those ranges. Output per
    * layout: file count and the average permille of files a query must
    * scan — the number a table-format planner actually optimizes.
    *
    * Input must carry integer columns `row_key`, `domain_idx`,
    * `ts_bucket`. Layouts: insertion order (row_key), domain-major, and
    * z-order interleave of (domain_idx, ts_bucket). */
  def sortLayoutEval(rows: DataFrame, fileRows: Int): DataFrame = {
    val layouts = Seq(
      ("insertion", col("row_key")),
      ("domain_major", col("domain_idx") * lit(1000000L) + col("row_key")),
      ("zorder", zValue(col("domain_idx"), col("ts_bucket")) * lit(1000000L)
        + col("row_key")))
    // the three layout simulations are fully independent — run them as
    // concurrent driver threads (guide §2.6: overlap independent jobs so
    // one layout's straggling tail back-fills with the next layout's
    // tasks); results assemble in the declared layout order either way
    val evaluated = Overlap.all("layouts")(layouts.map { case (name, key) => () =>
      val filed = rows.select(col("domain_idx"), col("ts_bucket"), key.as("k"))
        .withColumn("file_id",
          ((row_number().over(Window.orderBy(col("k"), col("domain_idx"),
            col("ts_bucket"))) - 1) / fileRows).cast("long"))
      val stats = filed.groupBy(col("file_id")).agg(
        min(col("domain_idx")).as("dmin"), max(col("domain_idx")).as("dmax"),
        min(col("ts_bucket")).as("tmin"), max(col("ts_bucket")).as("tmax"))
        // lazy: the count below materializes the checkpoint in-job
        .localCheckpoint(false)
      val nFiles = stats.count()
      // point queries: one per distinct domain_idx
      val domains = rows.select(col("domain_idx").as("q")).distinct()
      val dScan = domains.join(stats,
          col("q") >= col("dmin") && col("q") <= col("dmax"))
        .groupBy(col("q")).agg(count(lit(1)).as("hit"))
      val dAgg = domains.join(dScan, Seq("q"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("dtot"),
          count(lit(1)).as("dnq"))
      // range queries: ts_bucket in [10*b, 10*b+9] for b = 0..9
      val ranges = rows.sparkSession.range(10)
        .select((col("id") * 10).as("lo"), (col("id") * 10 + 9).as("hi"))
      val tScan = ranges.join(stats,
          col("hi") >= col("tmin") && col("lo") <= col("tmax"))
        .groupBy(col("lo")).agg(count(lit(1)).as("hit"))
      val tAgg = ranges.join(tScan, Seq("lo"), "left")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("ttot"),
          count(lit(1)).as("tnq"))
      // both 1-row aggregates in ONE collect (they are independent; the
      // crossJoin of two single rows is a constant-cost fuse)
      val avg = dAgg.crossJoin(tAgg).collect()(0)
      val dPm = avg.getLong(0) * 1000L / (avg.getLong(1) * nFiles)
      val tPm = avg.getLong(2) * 1000L / (avg.getLong(3) * nFiles)
      (name, nFiles, dPm, tPm)
    }: _*)
    evaluated.foldLeft(Option.empty[DataFrame]) { case (acc, row) =>
      import rows.sparkSession.implicits._
      val df = Seq(row).toDF("layout", "n_files",
        "domain_scan_pm", "ts_scan_pm")
      Some(acc.fold(df)(_ unionByName df))
    }.get
  }

  /** Partition-skew planning for candidate partition keys: per-key row
    * counts roll up to max/avg/hot-key share, and `salt_factor` is the
    * split the hottest key needs so no task exceeds 2× the mean —
    * ceil(max / (2·avg)) in exact integer arithmetic. `skew_x1000` =
    * max·1000/avg is the AQE-skew-threshold number. One shuffle per
    * candidate (the per-key rollup); everything after is key-count-sized. */
  def partitionSkewPlan(rows: DataFrame,
                        candidates: Seq[(String, Column)]): DataFrame = {
    candidates.map { case (name, key) =>
      val counts = rows.select(key.as("k")).groupBy(col("k"))
        .agg(count(lit(1)).as("c"))
      counts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_rows"),
          max_by(col("k"), struct(col("c"), col("k"))).as("hot_key"))
        .select(lit(name).as("part_key"), col("n_keys"), col("n_rows"),
          col("max_rows"), col("hot_key").cast("string").as("hot_key"),
          (col("n_rows") / col("n_keys")).cast("long").as("avg_rows"))
        .withColumn("skew_x1000",
          (col("max_rows") * 1000L / col("avg_rows")).cast("long"))
        .withColumn("salt_factor",
          ceil(col("max_rows").cast("double") /
            (col("avg_rows") * 2L).cast("double")).cast("long"))
        .withColumn("needs_salt", col("salt_factor") > 1L)
    }.reduce(_ unionByName _)
  }
}

package graft

/** Focused per-query benchmark for optimization work (guide §1.4): times a
  * NAMED subset of `SparkEntry.queries` with the same action as the frozen
  * driver bench (`.count()`, best of N reps) so numbers are comparable,
  * and optionally dumps `.explain("formatted")` per query for the plan
  * evidence in plans/r06/.
  *
  * Usage: sbt "runMain graft.BenchExtra <query...>"
  *   - args are exact names or prefixes ("ann_" times the whole family);
  *     no args = whole suite
  *   - SPARK_GRAFT_EXPLAIN_DIR=plans/r06 dumps <query>.txt explain output
  *     (no timing run needed: SPARK_GRAFT_EXPLAIN_ONLY=1 skips timing)
  *   - SPARK_GRAFT_QUERY_REPS (default 3) timing reps, best reported
  *
  * This main is measurement-only tooling: it never feeds the driver's
  * artifacts (Bench.scala remains the artifact of record).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val explainOnly = sys.env.get("SPARK_GRAFT_EXPLAIN_ONLY").contains("1")
    val explainSuffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")

    val spark = LocalSession(cpus)

    val all = SparkEntry.queries
    val selected =
      if (args.isEmpty) all.keys.toSeq.sorted
      else all.keys.toSeq.sorted.filter(n => args.exists(a => n == a || n.startsWith(a)))
    require(selected.nonEmpty, s"no queries match ${args.mkString(",")}")

    explainDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      selected.foreach { name =>
        try {
          val df = all(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$name$explainSuffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case e: Throwable =>
          System.err.println(s"explain $name failed: $e")
        }
      }
    }

    if (!explainOnly) {
      val results = selected.map { name =>
        spark.sparkContext.setJobDescription(s"benchextra: $name")
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val (rows, ok) =
            try (all(name)(spark, sfDir).count(), true)
            catch { case _: Throwable => (-1L, false) }
          ((System.nanoTime() - t0) / 1e9, rows, ok)
        }
        val best = times.minBy(_._1)
        (name, best._1, best._2, times.forall(_._3), times.map(_._1))
      }
      val qs = results.map { case (n, s, _, _, _) => "\"" + n + "\":" + f"$s%.3f" }
        .mkString("{", ",", "}")
      val allReps = results.map { case (n, _, _, _, ts) =>
        "\"" + n + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val failed = results.filter(!_._4).map(r => "\"" + r._1 + "\"").mkString("[", ",", "]")
      val total = results.map(_._2).sum
      println(s"""{"metric":"extra","value":$total,"unit":"sec","queries":$qs,"reps":$allReps,"failed":$failed,"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}

package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.{LocalSession, SparkEntry}

/** The one tool for working on `SparkEntry.queries`: time them, print their
  * plans or print their rows, all on one session configuration.
  *
  * Usage: sbt "runMain graft.tools.Queries <time|explain|show> [name-or-prefix …]"
  *   - each arg is an exact query name or a prefix ("ann_" selects the
  *     family); no args selects the whole suite
  *   - time: `.count()`, best of 3 reps (the frozen `Bench`'s action, so the
  *     numbers compare), printed as one JSON line
  *   - explain: `explain("formatted")` under a `===== <name> =====` header
  *     (PLANS.md gives the command line that regenerates its dumps)
  *   - show: `show(200, truncate = false)` then `printSchema`
  *
  * Env: SPARK_GRAFT_SF_DIR (default: the sf0.01 tables Verify checks) and
  * SPARK_GRAFT_CPUS (default: available processors). A failing query is
  * reported and the run goes on with the next one.
  *
  * Measurement-only tooling: `Bench` and `Verify` stay the artifacts of record.
  */
object Queries {

  private val Reps = 3

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("")
    require(Set("time", "explain", "show")(verb),
      "usage: Queries <time|explain|show> [name-or-prefix ...]")
    val names = args.toSeq.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val selected =
      if (names.isEmpty) all else all.filter(n => names.exists(a => n == a || n.startsWith(a)))
    require(selected.nonEmpty, s"no queries match ${names.mkString(",")}")

    val spark = LocalSession(cpus)
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    def report(name: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) => System.err.println(s"$verb $name failed: $e") }

    verb match {
      case "time" =>
        val results = selected.map { name =>
          spark.sparkContext.setJobDescription(s"queries: $name")
          val reps = (1 to Reps).map { _ =>
            val t0 = System.nanoTime()
            val ok =
              try { query(name).count(); true }
              catch { case NonFatal(_) => false }
            ((System.nanoTime() - t0) / 1e9, ok)
          }
          (name, reps.map(_._1).min, reps.forall(_._2), reps.map(_._1))
        }
        val qs = results.map { case (n, s, _, _) => "\"" + n + "\":" + f"$s%.3f" }
          .mkString("{", ",", "}")
        val allReps = results.map { case (n, _, _, ts) =>
          "\"" + n + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        val failed = results.filter(!_._3).map(r => "\"" + r._1 + "\"").mkString("[", ",", "]")
        val total = results.map(_._2).sum
        println(s"""{"metric":"extra","value":$total,"unit":"sec","queries":$qs,"reps":$allReps,"failed":$failed,"sf":"$sfDir"}""")
      case "explain" =>
        selected.foreach { name =>
          println(s"\n===== $name =====")
          report(name)(println(query(name).queryExecution.explainString(FormattedMode)))
        }
      case "show" =>
        selected.foreach { name =>
          println(s"=== $name")
          report(name) {
            val df = query(name)
            df.show(200, truncate = false)
            df.printSchema()
          }
        }
    }
    spark.stop()
  }
}

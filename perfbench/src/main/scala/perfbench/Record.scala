package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Records `data/queries_sf0.01.json`, the expected row count and digest of
  * every `SparkEntry` query that runs on the bundled tables. A query is
  * accepted only if `tools/check_oracles.py` reported its `graft.Verify`
  * output as matching the DuckDB oracle (`<name>: OK` in the log given) and
  * its digest is the same on two `local[4]` runs and one `local[1]` run.
  *
  * Usage: Record --data <sf dir> --oracle-log <check_oracles output> --out <json> */
object Record {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val dir = m("data")
    val oracleOk = Files.readAllLines(Paths.get(m("oracle-log"))).asScala
      .collect { case l if l.matches("^[a-z0-9_]+: OK .*") => l.takeWhile(_ != ':') }.toSet
    val fns = graft.SparkEntry.queries
    val excluded = scala.collection.mutable.TreeMap[String, String]()
    val got = scala.collection.mutable.TreeMap[String, (Long, String, Double)]()

    var spark = Main.session(Main.Cores, Paths.get(".bench_work/record"))
    fns.keys.toSeq.sorted.foreach { q =>
      try {
        val first = Queries.digest(fns(q)(spark, dir))
        val t0 = System.nanoTime()
        val second = Queries.digest(fns(q)(spark, dir))
        val s = (System.nanoTime() - t0) / 1e9
        if (first != second) excluded(q) = "digest differs between two runs"
        else if (!oracleOk(q)) excluded(q) = "no matching DuckDB oracle result"
        else got(q) = (second._1, second._2, s)
      } catch {
        case e: Throwable =>
          val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" <- ")
          excluded(q) =
            if (msg.contains(graft.spark.PagesTable.FixtureDir)) "reads the reference fixtures (PagesTable.FixtureDir)"
            else s"fails: ${msg.take(200)}"
      }
    }
    Main.stop(spark)
    spark = Main.session(1, Paths.get(".bench_work/record"))
    got.keys.toVector.foreach { q =>
      val (rows, d, _) = got(q)
      if (Queries.digest(fns(q)(spark, dir)) != (rows -> d)) {
        got.remove(q); excluded(q) = "digest differs on local[1]"
      }
    }
    Main.stop(spark)

    val qs = got.map { case (q, (rows, d, s)) =>
      s"""    "$q": {"rows": $rows, "digest": "$d", "cost_s": ${Main.fmt(math.rint(s * 1000) / 1000)}}"""
    }.mkString(",\n")
    val ex = excluded.map { case (q, why) => s"""    "$q": "${Main.esc(why)}"""" }.mkString(",\n")
    Files.writeString(Paths.get(m("out")),
      s"""{\n  "data": "sf0.01",\n  "queries": {\n$qs\n  },\n  "excluded": {\n$ex\n  }\n}\n""")
    println(s"recorded ${got.size} queries, excluded ${excluded.size}")
  }
}

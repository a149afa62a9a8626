package graft.tools

/** Ad-hoc single-query runner for oracle authoring:
  * `sbt "runMain graft.tools.RunQuery <name> [<name>…]"` — prints each
  * query's result with truncate off so VALUES oracles can be pinned. */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(8, "graft-runquery")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.foreach { name =>
      println(s"=== $name")
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.show(200, truncate = false)
      df.printSchema()
    }
    spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Expected result of one `SparkEntry` query: row count and an
  * order-independent digest, plus the latency it was recorded at (used only
  * to spread the seeded subsets evenly over cheap and costly queries). */
final case class Expected(name: String, rows: Long, digest: String, costS: Double)

object Queries {

  /** Query family, by name prefix, for the per-family layer metrics. */
  val Families: Vector[String] =
    Vector("pdf", "text", "events", "html", "dedup", "corpus", "graph", "url", "quality", "ann_emb", "other")
  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "ann" | "emb" | "embedding" => "ann_emb"
    case f if Families.contains(f) => f
    case _ => "other"
  }

  /** ROADMAP item 5 targets, always timed in a traced run. */
  val Targets: Vector[String] =
    Vector("graph_communities", "ann_ivf_topk", "dedup_substring_rewrite", "graph_hyperball", "dedup_lines_ccnet")

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  /** Floating-point values are hashed at 9 significant digits, so a
    * reordered distributed sum does not change the digest; maps are hashed
    * as their sorted entries. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(e, _) if hasFloat(e) || e.isInstanceOf[MapType] => transform(c, x => norm(x, e))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType) || f.dataType.isInstanceOf[MapType]) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) => array_sort(map_entries(transform_values(transform_keys(c, (x, _) => norm(x, k)), (_, x) => norm(x, v))))
    case _ => c
  }

  /** (rows, digest) of a result in one action. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$hi%016x$lo%016x")
  }

  /** Reads the expected-results file written by `Record`. */
  def load(path: java.nio.file.Path): (Vector[Expected], Map[String, String]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val exp = root.get("queries").fields().asScala.map { e =>
      val v = e.getValue
      Expected(e.getKey, v.get("rows").asLong, v.get("digest").asText, v.get("cost_s").asDouble)
    }.toVector.sortBy(_.name)
    val excluded = root.get("excluded").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    (exp, excluded)
  }

  /** The timed subset: every `strata`-th query of the suite sorted by
    * recorded cost, so cheap and costly queries are both in it. It is the
    * same for every seed, in the same order: a different subset or order
    * per seed moves the latency quantiles by more than the bounds. */
  def subset(all: Vector[Expected], strata: Int): Vector[Expected] =
    all.sortBy(e => (e.costS, e.name)).zipWithIndex.collect { case (e, i) if i % strata == strata / 2 => e }
}

/** `query_suite`: one pass over a cost-stratified subset of the runnable
  * `SparkEntry.queries` on the bundled sf0.01 tables. */
final class QuerySuite(dataDir: String, expectedFile: java.nio.file.Path, strata: Int,
                       withTargets: Boolean) extends Workload {
  private val (all, excluded) = Queries.load(expectedFile)
  val chosen: Vector[Expected] = {
    val base = Queries.subset(all, strata)
    if (!withTargets) base
    else base ++ all.filter(e => Queries.Targets.contains(e.name) && !base.contains(e))
  }
  private val fns = graft.SparkEntry.queries

  def setup(spark: SparkSession): Unit = ()
  // the first execution of a query compiles its code; the local[4] leg
  // times at least the third and fourth: more would not fit the run
  override def minPasses(firstLeg: Boolean): Int = if (firstLeg) 2 else 1
  override def warmPasses(firstLeg: Boolean): Int = if (firstLeg) 2 else 0

  def ops: Seq[Op] = chosen.map { e =>
    Op(e.name, spark => {
      val (rows, d) = Queries.digest(fns(e.name)(spark, dataDir))
      Outcome(1, () => if (rows == e.rows && d == e.digest) Nil else Seq(s"${e.name}(rows=$rows,digest=$d)"))
    })
  }

  override def context = Map("queries_runnable" -> all.size.toDouble, "queries_excluded" -> excluded.size.toDouble,
    "queries_in_pass" -> chosen.size.toDouble)
}

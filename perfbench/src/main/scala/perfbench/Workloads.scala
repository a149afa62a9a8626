package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.spark.{ExtractPipeline, ExtractedDoc, PageRow}

/** What a timed operation returns: the units it attempted (documents or
  * one query), a check run after the clock stops that names each failed
  * unit by generated feature or query, and the pipeline's per-document
  * `parse_ms` column where there is one. */
final case class Outcome(units: Long, check: () => Seq[String], parseMs: Seq[Long] = Nil)

/** One closed-loop operation, timed; the next operation is submitted only
  * after this one finished. */
final case class Op(name: String, run: SparkSession => Outcome)

/** A workload makes its inputs from the seed once per run (`generate`),
  * then readies them in each leg's session (`setup`); one pass is its list
  * of operations. */
trait Workload {
  def generate(): Unit = ()
  def setup(spark: SparkSession): Unit
  def ops: Seq[Op]
  /** Timed passes a leg runs at least. */
  def minPasses(firstLeg: Boolean): Int = 2
  /** Untimed passes that end a leg's set-up, so that the JIT and the caches
    * are warm before timing. The second leg runs in an already warm JVM. */
  def warmPasses(firstLeg: Boolean): Int
  /** Generated documents, for the single-thread core pass of a traced run. */
  def documents: Seq[GenDoc] = Nil
  def context: Map[String, Double] = Map.empty
}

object Workloads {
  private val epoch = new java.sql.Timestamp(1704067200000L)

  def rows(docs: Seq[GenDoc]): Seq[PageRow] = docs.map(d => PageRow(d.url, epoch, d.bytes, null, "en"))

  /** Input table, cached in memory in `parts` partitions cut in document
    * order. The rows travel by broadcast, so a task carries only its range
    * (a parallelized collection would ship its slice with every task). */
  def table(spark: SparkSession, docs: Seq[GenDoc], parts: Int): Dataset[PageRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(rows(docs).toArray)
    val ds = spark.range(0, docs.size, 1, parts).as[Long].map(i => bc.value(i.toInt))
      .persist(StorageLevel.MEMORY_ONLY)
    ds.count()
    ds
  }

  /** Per-url check of extracted rows against the generator's truth. */
  final class Truth(docs: Seq[GenDoc]) {
    private val byUrl = docs.map(d => d.url -> d).toMap
    def check(got: Seq[(String, Boolean, String)]): Seq[String] = {
      val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      val bad = got.flatMap { case (url, ok, text) =>
        seen(url) += 1
        byUrl.get(url) match {
          case Some(d) if ok && text == d.truth && seen(url) == 1 => None
          case Some(d) => Some(d.feature)
          case None => Some("unknown_url")
        }
      }
      bad ++ docs.filterNot(d => seen.contains(d.url)).map(_.feature + ":missing")
    }
  }

  def collectChecked(ds: Dataset[ExtractedDoc], truth: Truth, docs: Int): Outcome = {
    val got = ds.select(col("url"), col("ok"), col("text"), col("parse_ms")).collect()
    Outcome(docs, () => truth.check(got.map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq),
      got.map(_.getLong(3)).toSeq)
  }

  /** `pdf_mix`: narrow extraction of generated web PDFs. */
  final class PdfMix(seed: Long, nDocs: Int) extends Workload {
    private val fonts = new Corpus.FontPool
    private var docs: Seq[GenDoc] = Nil
    override def documents: Seq[GenDoc] = docs
    private var pages: Dataset[PageRow] = _
    private var truth: Truth = _
    override def generate(): Unit = {
      docs = (0 until nDocs).map(Corpus.pdf(seed, _, fonts))
      truth = new Truth(docs)
    }
    def setup(spark: SparkSession): Unit = pages = table(spark, docs, 16)
    // about as many passes as pass times took to settle on the 4-core VM
    def warmPasses(firstLeg: Boolean): Int = if (firstLeg) 12 else 1
    def ops = Seq(Op("extract", _ => collectChecked(ExtractPipeline.extract(pages), truth, nDocs)))
  }

  /** `skew_routed`: HTML pages plus monster PDFs, all of the monsters in
    * the first input partition, through the size-routed carrier. The
    * monsters are the same for every seed: their urls decide where the hash
    * repartition puts them, and so the straggler, which must not vary
    * between seeds. */
  final class SkewRouted(seed: Long, nHtml: Int, nMonsters: Int) extends Workload {
    private var docs: Seq[GenDoc] = Nil
    override def documents: Seq[GenDoc] = docs
    private var pages: Dataset[PageRow] = _
    private var truth: Truth = _
    override def generate(): Unit = {
      docs = (0 until nMonsters).map(i => Corpus.monster(i, 5000 + 1000 * i)) ++
        (0 until nHtml).map(Corpus.html(seed, _))
      truth = new Truth(docs)
    }
    def setup(spark: SparkSession): Unit = pages = table(spark, docs, 8)
    // about as many passes as pass times took to settle on the 4-core VM
    def warmPasses(firstLeg: Boolean): Int = if (firstLeg) 9 else 1
    def ops = Seq(Op("extract_size_routed",
      _ => collectChecked(ExtractPipeline.extractSizeRouted(pages), truth, documents.size)))
    override def context = Map("monster_pages" -> documents.filter(_.feature == "monster_pdf")
      .map(_.truth.linesIterator.count(_.startsWith("# Page"))).sum.toDouble)
  }
}

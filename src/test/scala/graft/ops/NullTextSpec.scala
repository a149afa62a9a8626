package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkSessionFixture

/** Text operators read a null `text` as `""`, the way Retrieval does: the
  * rows equal those for `""`. */
class NullTextSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private def docs(blank: String): DataFrame = {
    import spark.implicits._
    Seq[(Long, String)](
      (1L, "a b c d e f a b c d e"), (2L, blank), (3L, "x a b c d e y"),
      (4L, "the the the cat sat"), (5L, blank)).toDF("doc_id", "text")
  }

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "repeatedNgrams" -> (d => TextStats.repeatedNgrams(d, n = 3, minDocs = 2)),
    "subsampleFreq" -> (d => TextStats.subsampleFreq(d)),
    "tfidfTerms" -> (d => TextStats.tfidfTerms(d, k = 2)),
    "contaminationSpans" -> (d => TextStats.contaminationSpans(d, d.where("doc_id != 4"), n = 3)),
    "continuationPairs" -> (d => TextStats.continuationPairs(d, n = 1)),
    "repetition" -> (d => TextStats.repetition(d)),
    "corpusWithLines" -> (d => TextStats.corpusWithLines(d)))

  for ((name, op) <- operators) test(s"$name: null text gives the rows of empty text") {
    val empty = op(docs("")).collect().map(_.toString).sorted.toSeq
    assert(empty.nonEmpty)
    assert(op(docs(null)).collect().map(_.toString).sorted.toSeq == empty)
  }
}

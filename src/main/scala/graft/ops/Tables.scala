package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.html.{HtmlExtract, HtmlTables}
import graft.spark.PageRow

/** DataFrame surface over [[graft.core.html.HtmlTables]]: web-table cells
  * as structured rows for table-QA / fact-extraction training data.
  *
  * Scale shape: narrow typed flatMap — payloads parse where the scan
  * produces them, only cell strings leave the row. */
object Tables {

  final case class CellRow(
      url: String,
      table_idx: Int,
      row_idx: Int,
      col_idx: Int,
      header: Boolean,
      colspan: Int,
      text: String)

  def cells(pages: Dataset[PageRow]): Dataset[CellRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      if (p.html == null) Iterator.empty
      else HtmlTables.extractTables(HtmlExtract.decodeBytes(p.html))
        .iterator.map(c =>
          CellRow(p.url, c.tableIdx, c.rowIdx, c.colIdx, c.header, c.colspan, c.text))
    }
  }

  /** Deterministic table corpus: page p carries one header row (3 `<th>`)
    * and 3 data rows whose cell (r, c) is the formula value p*100+r*10+c;
    * row 1's middle cell spans 2 columns; a nested inner table sits
    * INSIDE the outer cell (2,0) and must index as its own table, outer
    * first; entities and stray whitespace must normalize away. Mirrored
    * by the DuckDB oracle from the same arithmetic. */
  def synthTableCorpus(spark: SparkSession, nPages: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(nPages).map { pL =>
      val p = pL.toInt
      val url = s"https://t.example/page$p"
      val html =
        s"""<html><body><h1>Tables $p</h1>
           |<table>
           |<tr><th> Name </th><th>Value &amp; Unit</th><th>Note</th></tr>
           |<tr><td>cell ${p * 100}</td><td colspan="2">wide ${p * 100 + 11}</td></tr>
           |<tr><td>cell ${p * 100 + 20}
           |  <table><tr><td>inner ${p}a</td><td>inner ${p}b</td></tr></table>
           |</td><td>cell ${p * 100 + 21}</td><td>cell ${p * 100 + 22}</td></tr>
           |</table>
           |<p>prose between</p>
           |</body></html>""".stripMargin
      PageRow(url, new java.sql.Timestamp(1704067200000L + p * 1000L),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), null, "en")
    }
  }
}

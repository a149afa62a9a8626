package graft.core.html

/** HTML table extraction — `<table>` grids as structured cells, the piece
  * that turns web tables into rows a training pipeline can treat as
  * semi-structured data (table QA, fact extraction, schema induction).
  *
  * One [[HtmlTokenizer]] pass, entities decoded, whitespace normalized
  * by [[HtmlExtract.normalizeWs]]. Nesting is handled with an explicit stack: a nested
  * `<table>` suspends the outer cell (its text belongs to the inner
  * table) and table indices are assigned in document order, outer first.
  * Implicit closes follow the HTML parsing algorithm's recovery rules in
  * their common forms: a new `<tr>`/`<td>`/`<th>` closes an open one, and
  * `</table>` closes any open row/cell. colspan/rowspan attributes are
  * surfaced as written but cells are indexed by occurrence, not by
  * visual grid position. */
object HtmlTables {

  final case class TableCell(
      tableIdx: Int,  // document order, outer-before-inner
      rowIdx: Int,
      colIdx: Int,
      header: Boolean,
      colspan: Int,
      text: String)

  private final class TableCtx(val idx: Int) {
    var row = -1
    var col = -1
    var inCell = false
    var cellHeader = false
    var cellColspan = 1
    val buf = new StringBuilder
  }

  def extractTables(html: String): Vector[TableCell] = {
    val out = Vector.newBuilder[TableCell]
    val stack = scala.collection.mutable.Stack[TableCtx]()
    var nextIdx = 0

    def endCell(): Unit = {
      if (stack.nonEmpty) {
        val t = stack.top
        if (t.inCell) {
          out += TableCell(t.idx, t.row, t.col, t.cellHeader, t.cellColspan,
            HtmlExtract.normalizeWs(t.buf.toString))
          t.inCell = false; t.buf.clear()
        }
      }
    }

    val tok = new HtmlTokenizer(html)
    while (tok.next()) tok.kind match {
      case HtmlTokenizer.Text =>
        if (stack.nonEmpty && stack.top.inCell) stack.top.buf.append(tok.text)
      case HtmlTokenizer.StartTag if !tok.isRawText => tok.name match {
        case "table" =>
          stack.push(new TableCtx(nextIdx)); nextIdx += 1
        case "tr" if stack.nonEmpty =>
          endCell() // implicit close of a dangling cell
          val t = stack.top
          t.row += 1; t.col = -1
        case ("td" | "th") if stack.nonEmpty =>
          endCell()
          val t = stack.top
          if (t.row < 0) t.row = 0 // cells before any <tr>: row 0
          t.col += 1
          t.inCell = true
          t.cellHeader = tok.name == "th"
          t.cellColspan = tok.attr("colspan")
            .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
            .filter(_ >= 1).getOrElse(1)
        case _ => () // thead/tbody/caption wrappers, unknowns
      }
      case HtmlTokenizer.EndTag => tok.name match {
        case "table" =>
          endCell()
          if (stack.nonEmpty) stack.pop()
        case "td" | "th" | "tr" => endCell()
        case _ => ()
      }
      case _ => ()
    }
    while (stack.nonEmpty) { endCell(); stack.pop() } // truncated tail
    out.result()
  }
}

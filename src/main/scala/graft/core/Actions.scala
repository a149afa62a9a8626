package graft.core

/** Action-graph audit: every executable action reachable from a document —
  * catalog /OpenAction, document and page /AA (additional-actions), link and
  * widget /A, the /Names → /JavaScript name tree, and AcroForm field /AA.
  * Classified by /S. This is the corpus-hygiene gate a training pipeline
  * runs before trusting a crawled PDF: JavaScript, Launch and SubmitForm
  * actions mark active content; URI actions are the document's outbound
  * link edges at the action level.
  *
  * The reference exposes the raw objects (pypdfium2 raw API; the
  * unsupported-feature handler at unsupported.py:15 fires on some of these);
  * this projects them into one typed row per document. /Next chains are
  * followed (actions can chain), cycle-bounded.
  */
object Actions {

  final case class ActionsReport(
      nJs: Int, nUri: Int, nLaunch: Int, nGotoR: Int, nSubmit: Int,
      nGoto: Int, nNamed: Int, nOther: Int,
      hasOpenAction: Boolean, namesTreeJs: Int) {
    def hasJs: Boolean = nJs > 0 || namesTreeJs > 0
  }

  def audit(doc: PdfDocument): ActionsReport = {
    var nJs, nUri, nLaunch, nGotoR, nSubmit, nGoto, nNamed, nOther = 0
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()

    def classify(a: PdfObject, depth: Int): Unit = doc.resolve(a) match {
      case d: PdfDict if depth < 16 && !seen.containsKey(d) =>
        seen.put(d, d)
        doc.get(d, "S") match {
          case PdfName("JavaScript") => nJs += 1
          case PdfName("URI")        => nUri += 1
          case PdfName("Launch")     => nLaunch += 1
          case PdfName("GoToR")      => nGotoR += 1
          case PdfName("SubmitForm") => nSubmit += 1
          case PdfName("GoTo")       => nGoto += 1
          case PdfName("Named")      => nNamed += 1
          case PdfName(_)            => nOther += 1
          case _                     => () // dest-only OpenAction arrays etc.
        }
        // chained actions: /Next is a dict or an array of dicts
        doc.get(d, "Next") match {
          case nx: PdfDict  => classify(nx, depth + 1)
          case PdfArray(it) => it.foreach(classify(_, depth + 1))
          case _            => ()
        }
      case _ => ()
    }

    def classifyAA(owner: PdfObject): Unit = doc.resolve(owner) match {
      case aa: PdfDict => aa.entries.valuesIterator.foreach(classify(_, 0))
      case _           => ()
    }

    val catalog = doc.catalog
    val openAction = doc.get(catalog, "OpenAction")
    val hasOpen = openAction match {
      case _: PdfDict | _: PdfArray => true
      case _                        => false
    }
    classify(openAction, 0)
    classifyAA(catalog.get("AA").getOrElse(PdfNull))

    (0 until doc.pageCount).foreach { i =>
      val page = doc.page(i)
      classifyAA(page.dict.get("AA").getOrElse(PdfNull))
      page.annotations.foreach { annot =>
        classify(annot.get("A").getOrElse(PdfNull), 0)
        classifyAA(annot.get("AA").getOrElse(PdfNull))
      }
    }

    // outline items can carry /A actions (toc entries are /GoTo, but JS is
    // legal there too) — walk the bookmark tree, sibling- and depth-bounded
    def walkOutline(first: PdfObject, depth: Int): Unit = if (depth < 32) {
      var cur = doc.resolve(first)
      var hops = 0
      while (hops < 4096) {
        cur match {
          case d: PdfDict if !seen.containsKey(d) =>
            seen.put(d, d)
            classify(d.get("A").getOrElse(PdfNull), 0)
            walkOutline(d.get("First").getOrElse(PdfNull), depth + 1)
            cur = doc.resolve(d.get("Next").getOrElse(PdfNull))
          case _ => return
        }
        hops += 1
      }
    }
    doc.get(catalog, "Outlines") match {
      case o: PdfDict => walkOutline(o.get("First").getOrElse(PdfNull), 0)
      case _          => ()
    }

    // /Names → /JavaScript name tree: count leaf entries (document-level
    // scripts that run without any trigger object)
    val treeJs = doc.get(catalog, "Names") match {
      case names: PdfDict =>
        val leaves = doc.treeLeaves(names("JavaScript"), "Names")
        leaves.foreach { case (_, v) => classify(v, 0) }
        leaves.length
      case _ => 0
    }

    ActionsReport(nJs, nUri, nLaunch, nGotoR, nSubmit, nGoto, nNamed, nOther,
      hasOpen, treeJs)
  }
}

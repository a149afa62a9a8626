package graft.core

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Name and number trees (`/EmbeddedFiles`, `/JavaScript`, `/PageLabels`)
  * are read by one walker that visits each tree node once: a kid shared by
  * two parents, or a node listing itself, neither repeats its entries nor
  * multiplies the walk. */
class NameTreeWalkSpec extends AnyFunSuite {

  private val leaves = Map(
    "EmbeddedFiles" -> "/Names[(a.txt) <</Type/Filespec/F(a.txt)>>]",
    "JavaScript" -> "/Names[(init) <</S/JavaScript/JS(app.alert(1))>>]",
    "PageLabels" -> "/Nums[0 <</S/r>>]")

  /** A one-page PDF whose three trees are built by `tree(root, leaf)`: the
    * objects of one tree, numbered from `root`, with `leaf` in its last
    * node. */
  private def pdf(treeObjs: Int, tree: (Int, String) => Vector[String]): Array[Byte] = {
    val roots = Vector("EmbeddedFiles", "JavaScript", "PageLabels")
      .zipWithIndex.map { case (k, i) => k -> (5 + i * treeObjs) }.toMap
    val objs = Vector(
      s"<</Type/Catalog/Pages 2 0 R/Names 4 0 R/PageLabels ${roots("PageLabels")} 0 R>>",
      "<</Type/Pages/Kids[3 0 R]/Count 1>>",
      "<</Type/Page/Parent 2 0 R/MediaBox[0 0 200 200]>>",
      s"<</EmbeddedFiles ${roots("EmbeddedFiles")} 0 R/JavaScript ${roots("JavaScript")} 0 R>>") ++
      Vector("EmbeddedFiles", "JavaScript", "PageLabels").flatMap(k => tree(roots(k), leaves(k)))
    SynthPdf.build(objs.map(_.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
  }

  private def load(bytes: Array[Byte]): PdfDocument =
    PdfDocument.load(bytes).fold(e => fail(e.toString), identity)

  test("a 12-level tree whose nodes each list the next one twice reads its one entry once") {
    val depth = 12
    val doc = load(pdf(depth, (root, leaf) =>
      (0 until depth).toVector.map { i =>
        if (i == depth - 1) s"<<$leaf>>"
        else s"<</Kids[${root + i + 1} 0 R ${root + i + 1} 0 R]>>"
      }))
    assert(doc.attachments.length == 1)
    assert(doc.attachments.head.name == "a.txt")
    assert(Actions.audit(doc).namesTreeJs == 1)
    assert(doc.pageLabel(0) == "i")
  }

  test("a tree node that lists itself twice in /Kids is read once, in under a second") {
    val doc = load(pdf(1, (root, leaf) => Vector(s"<<$leaf/Kids[$root 0 R $root 0 R]>>")))
    val t0 = System.nanoTime()
    val label = Await.result(Future(doc.pageLabel(0)), 10.seconds)
    assert((System.nanoTime() - t0) / 1e9 < 1.0)
    assert(label == "i")
    assert(doc.attachments.length == 1)
    assert(Actions.audit(doc).namesTreeJs == 1)
  }
}

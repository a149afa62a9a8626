package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Allocation budget of text extraction: bytes the extracting thread
  * allocates per page of a warm `SynthPdf.multiPage` extraction (load,
  * page-tree walk, content interpretation and text assembly). The minimum
  * over repetitions absorbs JIT and TLAB variance.
  *
  * With one heap object per glyph and per assembled char (plus an
  * `Option[Rect]` per box and a tuple per transformed point) the same
  * extraction allocated 18,057 bytes per page; the flat char stores read
  * 11,733 to 11,965 over runs. The figures were taken on OpenJDK 17 with
  * ParallelGC, -Xmx7g to -Xmx16g and compressed oops, on 4 cores. Object
  * sizes depend on the
  * JVM's layout (without compressed oops, at -Xmx32g and above, every
  * reference doubles), so the test runs only with compressed oops on.
  * A multiPage page holds ~17 chars, so most of what is left is per page
  * (document load, page dict, content decode, text objects), not per char.
  * The budget is three quarters of the per-glyph graph's figure, short of
  * the half that the flat stores were meant to reach. */
class ExtractAllocationSpec extends AnyFunSuite {

  private val Pages = 400
  private val BudgetBytesPerPage = 13500.0

  test("a warm multi-page extraction allocates at most three quarters of the per-glyph object graph's bytes per page") {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assume(bean.isThreadAllocatedMemorySupported && bean.isThreadAllocatedMemoryEnabled)
    val hotspot = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    assume(hotspot.getVMOption("UseCompressedOops").getValue == "true", "byte counts assume compressed oops")
    val pdf = SynthPdf.multiPage(Pages)
    val tid = Thread.currentThread().getId
    def once(): Long = {
      val before = bean.getThreadAllocatedBytes(tid)
      val res = Extract.extractText(pdf)
      val after = bean.getThreadAllocatedBytes(tid)
      assert(res.ok && res.nPages == Pages && res.pages.last.text == s"Page $Pages of $Pages")
      after - before
    }
    (1 to 8).foreach(_ => once())
    val perPage = (1 to 12).map(_ => once()).min.toDouble / Pages
    info(f"$perPage%.0f bytes per page")
    assert(perPage <= BudgetBytesPerPage, f"$perPage%.0f bytes per page")
  }
}

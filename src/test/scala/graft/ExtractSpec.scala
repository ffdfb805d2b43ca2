package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.PdfFixtures
import graft.pdf.{Deadline, PdfTimeout}

/** The kernel entry layer: output assembly (parts joined with '\n', one span
  * per part) and the guard contract shared by every entry point.
  */
class ExtractSpec extends AnyFunSuite {

  test("two-page PDF whose page 2 aborts: page 1 + '\\n' + partial page 2, error") {
    val bld = new PdfFixtures.Builder()
    val c1 = "BT /F1 12 Tf (page one) Tj ET".getBytes(ISO_8859_1)
    val c2 = "BT /F1 12 Tf (partial) Tj ET /NoSuchCs cs BT (never) Tj ET".getBytes(ISO_8859_1)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c1.length} >>", c1)
    bld.obj(5, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 6 0 R >>")
    bld.stream(6, s"<< /Length ${c2.length} >>", c2)
    val r = Extract(bld.build())
    assert(r.status == "error")
    assert(r.error == "Unsupported colorspace")
    assert(r.text == "page one\npartial")
    assert(r.spans == Seq(Span(0, 0, 8), Span(1, 9, 16)))
  }

  test("HTML spans are exactly the '\\n'-delimited segments of textBytes") {
    val paras = Seq("First paragraph of the article, long enough to be kept.",
      "Second paragraph: entities &amp; <tags> & a no-break space, kept too.")
    val payloads = Seq(
      PdfFixtures.htmlPage("A &amp; B\ntitle", paras),
      PdfFixtures.htmlMultiPara(paras ++ Seq("line&#10;with&#11;escapes and more words to keep")),
      PdfFixtures.htmlEntities("Café — naïve résumé, with\nnewlines in the text"),
      PdfFixtures.htmlSimple("one simple paragraph that is long enough"),
      "<p>&#10;lead&#10;&#10;and trail&#10; with enough words to keep</p>".getBytes(UTF_8),
      "<title> Q&amp;A &#10; &nbsp;page&#11;x</title><p>body long enough to be kept here</p>"
        .getBytes(UTF_8),
      "<div>see <a href='x'>R&amp;D&nbsp;notes</a> for the full text here</div>".getBytes(UTF_8),
      "<p>too short</p>".getBytes(UTF_8))
    for (p <- payloads) {
      val r = Extract(p)
      assert(r.status == "ok", r.error)
      val bytes = r.textBytes
      val segments =
        if (bytes.isEmpty) Seq.empty
        else {
          val cuts = -1 +: bytes.indices.filter(bytes(_) == '\n') :+ bytes.length
          cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
            Span(i, a + 1L, b.toLong)
          }.toSeq
        }
      assert(r.spans == segments, new String(p, UTF_8).take(80))
      val res = html.HtmlExtract.extract(p)
      assert(r.spans.length == (if (res.title.nonEmpty) 1 else 0) + res.blocks.length)
    }
  }

  test("guarded: failure rows, propagation, interrupt flag and deadline clearing") {
    def run(body: => String): String =
      Extract.guarded(Array[Byte](1), maxBytesPerDoc = 10, timeoutMs = 1)(
        (status, msg) => s"$status:$msg") {
        Thread.sleep(5) // past the 1 ms deadline: it must still be cleared on exit
        body
      }
    def cleared(): Unit = Deadline.check() // throws PdfTimeout if still set

    assert(Extract.guarded(null, 10, 1)((s, _) => s)("body") == "empty")
    assert(Extract.guarded(Array.emptyByteArray, 10, 1)((s, _) => s)("body") == "empty")
    assert(Extract.guarded(new Array[Byte](11), 10, 1)((s, _) => s)("body") == "skipped_oversize")
    assert(run("done") == "done"); cleared()
    assert(run { Deadline.check(); "unreached" } ==
      "timeout:per-document time budget exceeded"); cleared()
    assert(run(throw new PdfTimeout) == "timeout:per-document time budget exceeded"); cleared()
    assert(run(throw new RuntimeException("boom")) == "error:boom"); cleared()
    assert(run(throw new StackOverflowError()) == "error:StackOverflowError"); cleared()

    intercept[InterruptedException](run(throw new InterruptedException("cancel")))
    assert(Thread.interrupted(), "the interrupt flag must be set again") // and clears it
    cleared()
    intercept[OutOfMemoryError](run(throw new OutOfMemoryError("heap")))
    cleared()
  }
}

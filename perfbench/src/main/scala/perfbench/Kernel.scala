package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Extract
import graft.html.HtmlExtract
import graft.pdf.{ContentParser, PdfDocument, PdfFileParser, TextExtractor}

/** Per-doc kernel profile for the traced run. Spans wrap the kernel's
  * public calls from outside; the program itself carries no spans yet.
  *
  * Per doc, under one root span "doc":
  *  - "extract": `Extract.apply`, the whole kernel as the pipeline calls it;
  *  - PDFs: "pdf.open" (`PdfFileParser` + `PdfDocument`, as
  *    `PdfDocument.open` composes them) with child "pdf.parse"
  *    (`PdfFileParser.load`), then per page "pdf.content"
  *    (`allContentStreams`), "pdf.text" (`TextExtractor.extractText`) and
  *    "pdf.lex" (`ContentParser.parse` of the same content, run again on
  *    its own because the lex inside extractText cannot be wrapped);
  *  - HTML: "html.doc" (`Extract.extractHtml`) and "html.extract"
  *    (`HtmlExtract.extract` of the same bytes, run again on its own).
  * So `pdf.open.self_us` follows the self-time rule, while
  * `pdf.text.self_us` and `html.encode.self_us` subtract the separately
  * timed inner call.
  */
object Kernel {

  final case class DocStat(status: String, bytesIn: Long, bytesOut: Long, contentBytes: Long)

  private def profileDoc(payload: Array[Byte]): DocStat = {
    val doc = Trace.newId()
    Trace.span("doc", 0, doc) { root =>
      val r = Trace.span("extract", root, doc)(_ => Extract(payload))
      var contentBytes = 0L
      if (payload != null && Extract.isPdf(payload)) {
        try {
          val pdf = Trace.span("pdf.open", root, doc) { open =>
            val parser = Trace.span("pdf.parse", open, doc) { _ =>
              val p = new PdfFileParser(payload)
              p.load()
              p
            }
            new PdfDocument(parser)
          }
          for (page <- pdf.pages) {
            val content = Trace.span("pdf.content", root, doc)(_ => pdf.allContentStreams(page))
            contentBytes += content.length
            Trace.span("pdf.text", root, doc)(_ => TextExtractor.extractText(content, page.resources))
            Trace.span("pdf.lex", root, doc)(_ => new ContentParser(content).parse())
          }
        } catch { case _: Exception => () } // the extract span already holds the doc's status
      } else if (payload != null && payload.nonEmpty) {
        Trace.span("html.doc", root, doc)(_ => Extract.extractHtml(payload))
        Trace.span("html.extract", root, doc)(_ => HtmlExtract.extract(payload))
      }
      DocStat(r.status, if (payload == null) 0 else payload.length, r.textBytes.length, contentBytes)
    }
  }

  /** Profiles every row of `pages` (column html) and returns the
    * kernel metrics; spans stay in `Trace` for the caller to write out.
    */
  def profile(spark: SparkSession, pages: DataFrame): Map[String, Double] = {
    import spark.implicits._
    val stats = pages.select("html").as[Array[Byte]].mapPartitions(_.map(profileDoc)).collect()
    val spans = Trace.all()
    val self = Trace.selfTimes(spans)
    def us(name: String): Array[Double] =
      spans.iterator.filter(_.name == name).map(s => self(s.id) / 1e3).toArray
    def med(xs: Array[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    // The inner call's time is taken off the outer call of the same doc
    // and page: both are children of one root span, recorded in page order.
    def minus(outer: String, inner: String): Array[Double] = {
      def byRoot(name: String) = spans.filter(_.name == name).groupBy(_.parent)
        .map { case (k, v) => k -> v.sortBy(_.start) }
      val in = byRoot(inner)
      byRoot(outer).iterator.flatMap { case (root, os) =>
        os.zip(in.getOrElse(root, Nil)).map { case (a, b) => (a.duration - b.duration) / 1e3 }
      }.toArray
    }
    val extract = us("extract")
    val sortedExtract = extract.sorted
    def count(status: String): Double = stats.count(_.status == status).toDouble
    Map(
      "extract.us_p50" -> med(extract),
      "extract.us_p99" -> (if (extract.isEmpty) 0.0 else Stats.percentileSorted(sortedExtract, 99)),
      "extract.status.ok" -> count("ok"),
      "extract.status.error" -> count("error"),
      "extract.status.empty" -> count("empty"),
      "extract.status.timeout" -> count("timeout"),
      "extract.status.skipped_oversize" -> count("skipped_oversize"),
      "extract.bytes_in" -> stats.map(_.bytesIn).sum.toDouble,
      "extract.bytes_out" -> stats.map(_.bytesOut).sum.toDouble,
      "pdf.parse.self_us" -> med(us("pdf.parse")),
      "pdf.open.self_us" -> med(us("pdf.open")),
      "pdf.content.self_us" -> med(us("pdf.content")),
      "pdf.content.bytes" -> stats.map(_.contentBytes).sum.toDouble,
      "pdf.lex.us" -> med(us("pdf.lex")),
      "pdf.text.self_us" -> med(minus("pdf.text", "pdf.lex")),
      "html.extract.self_us" -> med(us("html.extract")),
      "html.encode.self_us" -> med(minus("html.doc", "html.extract")))
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.pdf._
import graft.html.HtmlExtract

/** One extracted span: page index + [start,end) byte offsets into textBytes. */
final case class Span(page: Int, start: Long, end: Long)

/** Kernel output for one document.
  *
  *  - textBytes carries the EXACT extracted bytes (the byte-identity unit of
  *    the north rule); `text` is its UTF-8 (lossy) string view for the Spark
  *    string column.
  *  - status: ok | error | empty | skipped_oversize | timeout
  *  - error: message for status=error (text still holds the partial output).
  */
final case class ExtractResult(
    textBytes: Array[Byte],
    spans: Seq[Span],
    status: String,
    error: String) {
  def text: String = new String(textBytes, UTF_8)
}

/** Top-level per-document extraction: payload dispatch (PDF magic vs HTML),
  * page loop with per-page extraction, span accounting, failure isolation.
  * Pure function Array[Byte] -> ExtractResult; executed per row inside
  * Dataset.mapPartitions. Never throws.
  */
object Extract {

  /** Documents larger than this are skipped (skew guard; recorded in
    * lineage, never silently dropped).
    */
  val DefaultMaxBytesPerDoc: Int = 64 << 20

  /** Per-document wall-clock budget (skew guard, SURVEY §4.3): pathological
    * documents become status=timeout rows instead of stragglers.
    */
  val DefaultTimeoutMs: Long = 30000L

  def apply(payload: Array[Byte], maxBytesPerDoc: Int = DefaultMaxBytesPerDoc,
            timeoutMs: Long = DefaultTimeoutMs): ExtractResult =
    guarded(payload, maxBytesPerDoc, timeoutMs)(
      (status, msg) => ExtractResult(Array.emptyByteArray, Nil, status, msg)) {
      if (isPdf(payload)) extractPdf(payload)
      else extractHtml(payload)
    }

  /** The guard contract of every per-document kernel entry point: an empty
    * payload -> "empty", one over `maxBytesPerDoc` -> "skipped_oversize",
    * otherwise `body` runs under the per-document Deadline (cleared on every
    * exit) and a timeout becomes "timeout", any other throwable an "error"
    * row. `fail(status, message)` builds those rows. Task cancellation
    * (InterruptedException, with the interrupt flag re-set) and
    * OutOfMemoryError propagate: the first must stop the task, and after the
    * second the heap is unreliable. StackOverflowError stays an error row —
    * the stack has fully unwound and the depth caps make it a property of the
    * document, not a VM corruption.
    */
  private[graft] def guarded[T](payload: Array[Byte], maxBytesPerDoc: Int, timeoutMs: Long)(
      fail: (String, String) => T)(body: => T): T = {
    if (payload == null || payload.length == 0) return fail("empty", "")
    if (payload.length > maxBytesPerDoc) return fail("skipped_oversize", "")
    try {
      if (timeoutMs > 0) Deadline.set(System.nanoTime() + timeoutMs * 1000000L)
      try body
      finally Deadline.clear()
    } catch {
      case _: PdfTimeout => fail("timeout", "per-document time budget exceeded")
      case ie: InterruptedException =>
        Thread.currentThread().interrupt()
        throw ie
      case fatal: OutOfMemoryError => throw fatal
      case e: Throwable            => fail("error", safeMsg(e))
    }
  }

  def isPdf(payload: Array[Byte]): Boolean =
    payload.length >= 5 &&
      payload(0) == '%' && payload(1) == 'P' && payload(2) == 'D' &&
      payload(3) == 'F' && payload(4) == '-'

  /** PDF branch: open -> page list -> per-page golden extraction, one part
    * per page. A page-level error aborts with the partial text accumulated
    * so far, that page's partial text included (the reference's ExtractText
    * error contract).
    */
  def extractPdf(payload: Array[Byte]): ExtractResult = {
    val doc =
      try PdfDocument.open(payload)
      catch {
        case t: PdfTimeout => throw t // handled by the guard -> status=timeout
        case e: Exception  => return ExtractResult(Array.emptyByteArray, Nil, "error", safeMsg(e))
      }
    val parts = new Array[Array[Byte]](doc.pages.length)
    var n = 0
    var error: String = null
    val pages = doc.pages.iterator
    while (error == null && pages.hasNext) {
      val page = pages.next()
      val pe =
        try TextExtractor.extractText(doc.allContentStreams(page), page.resources)
        catch {
          case t: PdfTimeout => throw t
          case e: Exception  => PageExtract(Array.emptyByteArray, Some(safeMsg(e)))
        }
      parts(n) = pe.bytes
      n += 1
      error = pe.error.orNull
    }
    if (error == null) assemble(parts, n, "ok", "") else assemble(parts, n, "error", error)
  }

  /** HTML branch: boilerplate strip; title (when present) then the kept
    * blocks, one part each. No part contains '\n' (the run loop and the
    * title collapse both fold it into a space), so each span is one line.
    * Per-part UTF-8 equals whole-string UTF-8: the '\n' join char cannot
    * complete a surrogate pair, and a lone surrogate encodes to '?' either way.
    */
  def extractHtml(payload: Array[Byte]): ExtractResult = {
    val res = HtmlExtract.extract(payload)
    val hasTitle = res.title.nonEmpty
    val parts = new Array[Array[Byte]]((if (hasTitle) 1 else 0) + res.blocks.length)
    var n = 0
    if (hasTitle) { parts(0) = res.title.getBytes(UTF_8); n = 1 }
    for (b <- res.blocks) { parts(n) = b.getBytes(UTF_8); n += 1 }
    assemble(parts, n, "ok", "")
  }

  /** Output assembly shared by both branches: parts(0 until n) joined with
    * '\n', one Span per part (its index is the span's page). A single part
    * is returned as-is; several are copied once into an exactly sized array.
    */
  private def assemble(parts: Array[Array[Byte]], n: Int, status: String,
                       error: String): ExtractResult = {
    if (n == 0) return ExtractResult(Array.emptyByteArray, Nil, status, error)
    var total = n - 1 // the joining '\n' bytes
    var i = 0
    while (i < n) { total += parts(i).length; i += 1 }
    val out = if (n == 1) parts(0) else new Array[Byte](total)
    val spans = new Array[Span](n)
    var off = 0
    i = 0
    while (i < n) {
      val p = parts(i)
      if (n > 1) {
        if (i > 0) { out(off) = '\n'; off += 1 }
        System.arraycopy(p, 0, out, off, p.length)
      }
      spans(i) = Span(i, off.toLong, (off + p.length).toLong)
      off += p.length
      i += 1
    }
    ExtractResult(out, scala.collection.immutable.ArraySeq.unsafeWrapArray(spans), status, error)
  }

  private def safeMsg(e: Throwable): String = {
    val m = e.getMessage
    val base = if (m == null || m.isEmpty) e.getClass.getSimpleName else m
    if (base.length > 500) base.substring(0, 500) else base
  }
}

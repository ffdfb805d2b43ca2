package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.collection.mutable

import PdfObjs._
import PdfPatterns._

/** Cross-reference entry: either a direct file offset or a location inside an
  * object stream (reference: pdf/core/crossrefs.go:20-46).
  */
final case class XrefEntry(
    xtype: Int, // 0 = table entry (offset), 1 = object stream
    objectNumber: Int,
    generation: Int,
    offset: Long,
    osObjNumber: Int,
    osObjIndex: Int)

object XrefEntry {
  val TableEntry = 0
  val ObjectStream = 1
  def table(num: Int, gen: Int, offset: Long): XrefEntry =
    XrefEntry(TableEntry, num, gen, offset, 0, 0)
  def objStream(num: Int, osNum: Int, osIdx: Int): XrefEntry =
    XrefEntry(ObjectStream, num, 0, 0, osNum, osIdx)
}

private final case class ObjStm(n: Int, ds: Array[Byte], offsets: Map[Int, Long])

/** The xref-table line classifier: decides the reference's
  * `(\d+)\s+(\d+)\s*$` (subsection, tried first) and
  * `(\d+)\s+(\d+)\s+([nf])\s*$` (entry) from the right end of the line, with
  * `\s` = [\t\n\f\r ] and Go's `$` (end of text only). After the trailing
  * spaces, a line ending in `D1 S+ D2` is a subsection and one ending in
  * `D1 S+ D2 S+ [nf]` an entry, where D1 and D2 are maximal digit runs
  * (leftmost-first matching makes group 1 the whole run) and any text may
  * precede D1. Numbers are parsed as the reference's callers do, so an
  * overflowing one throws the same NumberFormatException: the subsection's
  * first number through toInt, the entry's offset through toLong and its
  * generation through toInt.
  */
private[pdf] object XrefLine {
  /** kind: 1 = subsection(first), 2 = entry(first = offset, gen, 'n'|'f'). */
  final class Parsed(val kind: Int, val first: Long, val gen: Int, val nf: Char)

  /** The parsed line, or null for any other line. */
  def classify(txt: String): Parsed = {
    var end = skipBack(txt, txt.length, isRegexSpace)
    val nf = if (end > 0) txt.charAt(end - 1) else ' '
    val entry = nf == 'n' || nf == 'f'
    if (entry) {
      val genEnd = skipBack(txt, end - 1, isRegexSpace)
      if (genEnd == end - 1) return null
      end = genEnd
    }
    val d2 = skipBack(txt, end, isDecimalDigit)
    if (d2 == end) return null
    val sep = skipBack(txt, d2, isRegexSpace)
    if (sep == d2) return null
    val d1 = skipBack(txt, sep, isDecimalDigit)
    if (d1 == sep) return null
    if (entry) new Parsed(2, txt.substring(d1, sep).toLong, txt.substring(d2, end).toInt, nf)
    else new Parsed(1, txt.substring(d1, sep).toInt.toLong, 0, ' ')
  }

  private def skipBack(txt: String, end: Int, in: Int => Boolean): Int = {
    var i = end
    while (i > 0 && in(txt.charAt(i - 1))) i -= 1
    i
  }
}

/** The `N G obj` header scanner for parseIndirectObject, parseXref and the
  * top-down repair: finds the leftmost match of the reference's
  * `(\d+)\s+(\d+)\s+obj` (`\s` = [\t\n\f\r ]) inside a byte window. A match
  * can only start where a digit run starts, and the digit and space runs
  * it spans are maximal, so each run start is tried once, without
  * backtracking. Like a regex Matcher, it holds the bounds of the last match.
  */
private[pdf] final class ObjHeader {
  private var data: Array[Byte] = _
  var start = 0
  private var numEnd = 0
  private var genStart = 0
  private var genEnd = 0
  var end = 0

  def find(data: Array[Byte], from: Int, until: Int): Boolean = {
    this.data = data
    def run(p: Int, in: Int => Boolean): Int = {
      var i = p
      while (i < until && in(data(i) & 0xff)) i += 1
      i
    }
    var p = from
    while (p < until) {
      if (!isDecimalDigit(data(p) & 0xff)) p += 1
      else {
        val d1 = run(p, isDecimalDigit)
        val s1 = run(d1, isRegexSpace)
        val d2 = if (s1 > d1) run(s1, isDecimalDigit) else s1
        val s2 = if (d2 > s1) run(d2, isRegexSpace) else d2
        if (s2 > d2 && s2 + 3 <= until &&
          data(s2) == 'o' && data(s2 + 1) == 'b' && data(s2 + 2) == 'j') {
          start = p; numEnd = d1; genStart = s1; genEnd = d2; end = s2 + 3
          return true
        }
        p = d1 // the next candidate is the next digit run
      }
    }
    false
  }

  /** Object number and generation of the last match, as decimal strings. */
  def num: String = new String(data, start, numEnd - start, ISO_8859_1)
  def gen: String = new String(data, genStart, genEnd - genStart, ISO_8859_1)
}

/** File-layer parser for one in-memory PDF document. Mirrors the reference's
  * PdfParser lifecycle (pdf/core/parser.go:1509-1542): load xrefs bottom-up
  * (classic tables, xref streams, hybrid /XRefStm, /Prev chains with a
  * circular guard), then expose object lookup with memoization, object-stream
  * expansion, and the four repair paths of pdf/core/repairs.go.
  */
final class PdfFileParser(val data: Array[Byte]) {
  val cur = new ByteCursor(data)
  val lex = new ObjLexer(cur)

  val xrefs = mutable.HashMap.empty[Int, XrefEntry]
  private val header = new ObjHeader
  private val objstms = mutable.HashMap.empty[Int, ObjStm]
  val objCache = mutable.HashMap.empty[Int, PdfObj]
  var trailer: PdfDict = _
  var majorVersion = 0
  var minorVersion = 0
  /** Standard-security-handler crypter, set by the document layer after a
    * successful authenticate; lookups decrypt through it (crossrefs.go:205-221).
    */
  var crypter: PdfCrypt = _
  private var repairsAttempted = false
  private val streamLengthLookupInProgress = mutable.HashSet.empty[Long]
  /** Sorted offsets of every xref entry, built lazily by
    * xrefNextObjectOffset; null whenever `xrefs` changed since (the parser
    * writes `xrefs` only through putXref / replaceXrefs).
    */
  private var sortedOffsets: Array[Long] = null
  private def putXref(num: Int, x: XrefEntry): Unit = { xrefs(num) = x; sortedOffsets = null }
  private def replaceXrefs(m: collection.Map[Int, XrefEntry]): Unit = {
    xrefs.clear(); xrefs ++= m; sortedOffsets = null
  }

  def fileSize: Long = data.length.toLong

  /** An `N G obj` header in the 20 bytes at the cursor (the reference's peek). */
  private def headerNearCursor(): Boolean =
    header.find(data, cur.pos, math.min(cur.pos + 20, data.length))

  // ------------------------------------------------------------------ setup

  /** NewParser equivalent. Throws PdfError on unrecoverable failure. */
  def load(): Unit = {
    trailer = loadXrefs()
    if (xrefs.isEmpty) throw new PdfError("Empty XREF table - Invalid")
    val (ma, mi) = parsePdfVersion()
    majorVersion = ma; minorVersion = mi
  }

  def isEncrypted: Boolean = trailer != null && trailer.get("Encrypt") != null

  /** pdf/core/parser.go:650-681 with the repairs.go:253-286 top-down fallback. */
  def parsePdfVersion(): (Int, Int) = {
    val head = new String(data, 0, math.min(20, data.length), ISO_8859_1)
    val m = pdfVersion.matcher(head)
    if (m.find()) (m.group(1).toInt, m.group(2).toInt)
    else {
      // Top-down scan for the "PDF-x.y" signature.
      var k = 0
      while (k < data.length) {
        if (k >= 6 && isDecimalDigit(data(k) & 0xff) &&
          (data(k - 1) & 0xff) == '.' && isDecimalDigit(data(k - 2) & 0xff) &&
          (data(k - 3) & 0xff) == '-' && (data(k - 4) & 0xff) == 'F' &&
          (data(k - 5) & 0xff) == 'D' && (data(k - 6) & 0xff) == 'P')
          return ((data(k - 2) & 0xff) - '0', (data(k) & 0xff) - '0')
        k += 1
      }
      throw new PdfError("Version not found")
    }
  }

  // ------------------------------------------------------------------ xrefs

  /** pdf/core/parser.go:1138-1274. */
  private[pdf] def loadXrefs(): PdfDict = {
    val fSize = fileSize
    val eofPos = seekToEOFMarker(fSize)
    // 64-byte back-window ending at the %%EOF marker start (parser.go:1163-1179).
    val winStart = math.max(0L, eofPos - 64).toInt
    val winLen = math.min(64, data.length - winStart)
    val window = new String(data, winStart, winLen, ISO_8859_1)
    val m = startXref.matcher(window)
    if (!m.find()) throw new PdfError("Startxref not found")
    var offsetXref = m.group(1).toLong
    if (offsetXref > fSize) {
      offsetXref = repairLocateXref(eofPos)
    }
    cur.seek(offsetXref)
    var trailerDict = parseXref()

    // Hybrid-reference file: XRefStm in trailer.
    val xx = trailerDict.get("XRefStm")
    if (xx != null) {
      xx match {
        case PdfInt(off) => parseXrefStream(Some(off))
        case _           => throw new PdfError("XRefStm != int")
      }
    }

    // Follow Prev chain (older revisions), circular-guarded.
    val prevList = mutable.HashSet.empty[Long]
    var prev = trailerDict.get("Prev")
    var break = false
    while (prev != null && !break) {
      prev match {
        case PdfInt(off) =>
          cur.seek(off)
          val pt =
            try parseXref()
            catch { case _: PdfError => break = true; null }
          if (!break) {
            val nxt = pt.get("Prev")
            if (nxt != null) {
              nxt match {
                case PdfInt(po) =>
                  if (prevList.contains(po)) break = true
                  else prevList += po
                case _ =>
              }
            }
            prev = nxt
          }
        case _ =>
          // Invalid Prev: keep whatever xrefs are loaded (compat path).
          return trailerDict
      }
    }
    trailerDict
  }

  /** Backward windowed scan (1000 bytes) for the LAST %%EOF; returns its
    * start offset (pdf/core/parser.go:1079-1117).
    */
  private def seekToEOFMarker(fSize: Long): Long = {
    var offset = 0L
    var buflen = 1000L
    while (offset < fSize) {
      if (fSize <= buflen + offset) buflen = fSize - offset
      val start = (fSize - offset - buflen).toInt
      val s = new String(data, start, buflen.toInt, ISO_8859_1)
      val m = eof.matcher(s)
      var lastIdx = -1
      while (m.find()) lastIdx = m.start()
      if (lastIdx >= 0) return start + lastIdx
      offset += buflen
    }
    throw new PdfError("EOF not found")
  }

  /** pdf/core/parser.go:1040-1075 dispatch. */
  private def parseXref(): PdfDict = {
    if (headerNearCursor()) parseXrefStream(None)
    else if (xrefTable.matcher(str(cur.peek(20))).find()) parseXrefTable()
    else {
      repairSeekXrefMarker()
      parseXrefTable()
    }
  }

  /** Classic xref table (pdf/core/parser.go:684-789). */
  private[pdf] def parseXrefTable(): PdfDict = {
    var trailerDict: PdfDict = null
    lex.readTextLine() // "xref" line
    var curObjNum = -1
    var insideSubsection = false
    var done = false
    while (!done) {
      lex.skipSpaces()
      if (cur.atEof) throw new PdfError("EOF in xref table")
      val txt = lex.readTextLine()
      val line = XrefLine.classify(txt)
      if (line != null && line.kind == 1) {
        curObjNum = line.first.toInt
        insideSubsection = true
      } else if (line != null) {
        if (!insideSubsection) throw new PdfError("Xref invalid format")
        if (line.nf == 'n' && line.first > 1) {
          val existing = xrefs.get(curObjNum)
          if (existing.isEmpty || line.gen > existing.get.generation)
            putXref(curObjNum, XrefEntry.table(curObjNum, line.gen, line.first))
        }
        curObjNum += 1
      } else if (txt.length > 6 && txt.startsWith("trailer")) {
        // Rewind when "trailer <<" is glued on one line (parser.go:757-777).
        if (txt.length > 9) cur.seek(cur.offset - txt.length + 7)
        lex.skipSpaces()
        lex.skipComments()
        trailerDict = lex.parseDict()
        done = true
      } else if (txt == "%%EOF") {
        throw new PdfError("End of file - trailer not found")
      }
      // otherwise: tolerated noise line, keep scanning
    }
    trailerDict
  }

  /** Xref stream object (pdf/core/parser.go:793-1036). */
  private[pdf] def parseXrefStream(atOffset: Option[Long]): PdfDict = {
    atOffset.foreach(cur.seek)
    val xrefObj = parseIndirectObject()
    val xs = xrefObj match {
      case s: PdfStream => s
      case _            => throw new PdfError("XRefStm pointing to a non-stream object")
    }
    val trailerDict = xs.dict
    val size = xs.dict.get("Size") match {
      case PdfInt(v) => v
      case _         => throw new PdfError("Missing Size from xref stm")
    }
    if (size > 8388607) throw new PdfError("Range check error") // DoS guard
    val wArr = xs.dict.get("W") match {
      case a: PdfArr => a
      case _         => throw new PdfError("Invalid W in xref stream")
    }
    if (wArr.length != 3) throw new PdfError("Unsupported xref stm len(W) != 3")
    val b = wArr.items.map {
      case PdfInt(v) => v
      case _         => throw new PdfError("Invalid w object type")
    }.toArray
    val ds = Filters.decodeStream(xs, identity)
    val s0 = b(0).toInt
    val s1 = (b(0) + b(1)).toInt
    val s2 = (b(0) + b(1) + b(2)).toInt
    val deltab = s2
    if (s0 < 0 || s1 < 0 || s2 < 0) throw new PdfError("Range check error")
    if (deltab == 0) return trailerDict
    val entries = ds.length / deltab

    var objCount = 0
    val indexList = mutable.ArrayBuffer.empty[Int]
    val indexObj = xs.dict.get("Index")
    if (indexObj != null) {
      val indicesArray = indexObj match {
        case a: PdfArr => a
        case _         => throw new PdfError("Invalid Index object")
      }
      if (indicesArray.length % 2 != 0) throw new PdfError("Range check error")
      val indices = indicesArray.items.map {
        case PdfInt(v) => v.toInt
        case _         => throw new PdfError("Index array element not an integer")
      }
      var i = 0
      while (i < indices.length) {
        val startIdx = indices(i); val numObjs = indices(i + 1)
        var j = 0
        while (j < numObjs) { indexList += startIdx + j; j += 1 }
        objCount += numObjs
        i += 2
      }
    } else {
      var i = 0
      while (i < size.toInt) { indexList += i; i += 1 }
      objCount = size.toInt
    }
    if (entries == objCount + 1) { // off-by-one tolerance (parser.go:929-934)
      indexList += objCount
      objCount += 1
    }
    if (entries != indexList.length)
      throw new PdfError("Xref stm num entries != len(indices)")

    def convertBytes(v: Array[Byte], from: Int, to: Int): Long = {
      var tmp = 0L
      var i = from
      while (i < to) { tmp = (tmp << 8) + (v(i) & 0xff); i += 1 }
      tmp
    }

    var objIndex = 0
    var i = 0
    var break = false
    // A PARTIAL trailing row is an error, not a tolerated remainder: the
    // reference iterates `i < len(ds)` and its checkBounds on the short
    // slice fails the whole xref-stream load (parser.go row loop) — the
    // error is what routes such documents into repair.
    if (ds.length % deltab != 0)
      throw new PdfError("Invalid slice range in xref stream rows")
    while (i + deltab <= ds.length && !break) {
      var ftype = convertBytes(ds, i, i + s0)
      val n2 = convertBytes(ds, i + s0, i + s1)
      val n3 = convertBytes(ds, i + s1, i + s2)
      if (b(0) == 0) ftype = 1 // W[0]==0 defaults to type 1
      if (objIndex >= indexList.length) break = true
      else {
        val objNum = indexList(objIndex)
        objIndex += 1
        if (ftype == 1) {
          val existing = xrefs.get(objNum)
          if (existing.isEmpty || n3.toInt > existing.get.generation)
            putXref(objNum, XrefEntry.table(objNum, n3.toInt, n2))
        } else if (ftype == 2) {
          if (!xrefs.contains(objNum))
            putXref(objNum, XrefEntry.objStream(objNum, n2.toInt, n3.toInt))
        } // type 0 (free) and unknown types: skipped -> null object
      }
      i += deltab
    }
    trailerDict
  }

  // ---------------------------------------------------------------- repairs

  /** startxref beyond EOF: search 1000 bytes back for a standard xref table
    * marker (pdf/core/repairs.go:27-47). `curAbs` is the position after the
    * startxref read window.
    */
  private def repairLocateXref(posAfterStartxrefWindow: Long): Long = {
    val readBuf = 1000L
    val curOffset = math.max(0L, posAfterStartxrefWindow - readBuf)
    val n = math.min(readBuf, data.length - curOffset).toInt
    val s = new String(data, curOffset.toInt, n, ISO_8859_1)
    val m = repairXrefTable.matcher(s)
    var lastIdx = -1
    while (m.find()) lastIdx = m.start()
    if (lastIdx < 0) throw new PdfError("Repair: xref not found")
    curOffset + lastIdx
  }

  /** No xref found at the startxref offset: scan backwards from file end for
    * the first xref marker (pdf/core/repairs.go:188-249).
    */
  private def repairSeekXrefMarker(): Unit = {
    val fSize = fileSize
    var offset = 0L
    var buflen = 1000L
    while (offset < fSize) {
      if (fSize <= buflen + offset) buflen = fSize - offset
      val start = (fSize - offset - buflen).toInt
      val s = new String(data, start, buflen.toInt, ISO_8859_1)
      val m = repairXrefStart.matcher(s)
      var lastIdx = -1
      while (m.find()) lastIdx = m.start()
      if (lastIdx >= 0) {
        cur.seek(start + lastIdx)
        while (!cur.atEof && isWhiteSpace(cur.peekByte)) cur.discard(1)
        return
      }
      offset += buflen
    }
    throw new PdfError("xref not found ")
  }

  /** Full top-down scan for "N G obj" signatures; once per file
    * (pdf/core/repairs.go:100-185).
    */
  def repairRebuildXrefsTopDown(): mutable.HashMap[Int, XrefEntry] = {
    if (repairsAttempted) throw new PdfError("Repair failed")
    repairsAttempted = true
    val table = mutable.HashMap.empty[Int, XrefEntry]
    val bufLen = 20
    def lastAt(k: Int, j: Int): Int = { // byte at window index j when current byte index is k
      val off = k - (bufLen - j)
      if (off >= 0 && off < data.length) data(off) & 0xff else 0
    }
    var k = 0
    while (k < data.length) {
      val bb = data(k) & 0xff
      if (bb == 'j' && lastAt(k, bufLen - 1) == 'b' && lastAt(k, bufLen - 2) == 'o' &&
        isWhiteSpace(lastAt(k, bufLen - 3))) {
        var i = bufLen - 4
        var ok = true
        while (isWhiteSpace(lastAt(k, i)) && i > 0) i -= 1
        if (i == 0 || !isDecimalDigit(lastAt(k, i))) ok = false
        if (ok) {
          while (isDecimalDigit(lastAt(k, i)) && i > 0) i -= 1
          if (i == 0 || !isWhiteSpace(lastAt(k, i))) ok = false
        }
        if (ok) {
          while (isWhiteSpace(lastAt(k, i)) && i > 0) i -= 1
          if (i == 0 || !isDecimalDigit(lastAt(k, i))) ok = false
        }
        if (ok) {
          while (isDecimalDigit(lastAt(k, i)) && i > 0) i -= 1
          if (i == 0) ok = false
        }
        if (ok) {
          // The window [objOffset, k] is "D1 W+ D2 W+ obj" with W the PDF
          // whitespace set; the header scan rejects a NUL in W, as the
          // reference's regex does.
          val objOffset = k + 1 - (bufLen - i)
          if (!header.find(data, objOffset, k + 1))
            throw new PdfError("Unable to detect indirect object signature")
          val objNum = header.num.toInt
          val genNum = header.gen.toInt
          val existing = table.get(objNum)
          if (existing.isEmpty || existing.get.generation < genNum)
            table(objNum) = XrefEntry.table(objNum, genNum, objOffset)
        }
      }
      k += 1
    }
    table
  }

  /** Renumber xrefs by the object numbers actually found at their offsets
    * (pdf/core/repairs.go:52-82).
    */
  private def rebuildXrefTable(): Unit = {
    val newXrefs = mutable.HashMap.empty[Int, XrefEntry]
    val items = xrefs.toSeq
    for ((objNum, xref) <- items) {
      val obj =
        try lookupByNumber(objNum, attemptRepairs = false)
        catch {
          case _: PdfError =>
            val rebuilt = repairRebuildXrefsTopDown()
            replaceXrefs(rebuilt)
            return
        }
      val (actNum, actGen) = obj match {
        case io: PdfIndirect => (io.num, io.gen)
        case so: PdfStream   => (so.num, so.gen)
        case _               => throw new PdfError("Not an indirect/stream object")
      }
      newXrefs(actNum.toInt) = xref.copy(objectNumber = actNum.toInt, generation = actGen.toInt)
    }
    replaceXrefs(newXrefs)
  }

  // ---------------------------------------------------------------- lookups

  def lookup(objNumber: Int): PdfObj = lookupByNumber(objNumber, attemptRepairs = true)

  /** pdf/core/crossrefs.go:235-329. Missing xref entry -> PdfNull (NOT an
    * error); parse failure -> top-down repair then retry once; object-number
    * mismatch -> xref rebuild, cache flush, retry.
    */
  private def lookupByNumber(objNumber: Int, attemptRepairs: Boolean): PdfObj = {
    Deadline.check()
    objCache.get(objNumber) match {
      case Some(o) => return o
      case None    =>
    }
    xrefs.get(objNumber) match {
      case None => PdfNull
      case Some(xref) if xref.xtype == XrefEntry.TableEntry =>
        cur.seek(xref.offset)
        val obj =
          try parseIndirectObject()
          catch {
            case e: PdfError =>
              if (attemptRepairs) {
                val rebuilt = repairRebuildXrefsTopDown()
                replaceXrefs(rebuilt)
                return lookupByNumber(objNumber, attemptRepairs = false)
              } else throw e
          }
        if (attemptRepairs) {
          val realNum = obj match {
            case io: PdfIndirect => io.num
            case so: PdfStream   => so.num
            case _               => -1L
          }
          if (realNum.toInt != objNumber) {
            rebuildXrefTable()
            objCache.clear()
            return lookupByNumber(objNumber, attemptRepairs = false)
          }
        }
        objCache(objNumber) = obj
        if (crypter != null && !crypter.isDecrypted(obj)) crypter.decrypt(obj, 0, 0)
        obj
      case Some(xref) =>
        // Compressed object inside an object stream.
        if (xref.osObjNumber == objNumber) throw new PdfError("Xref circular reference")
        if (!xrefs.contains(xref.osObjNumber))
          throw new PdfError("OS belongs to a non cross referenced object")
        val optr = lookupObjectViaOS(xref.osObjNumber, objNumber)
        objCache(objNumber) = optr
        // Objects inside object streams are never encrypted themselves
        // (the container stream was): mark as decrypted (crossrefs.go:317-321).
        if (crypter != null) crypter.markDecrypted(optr)
        optr
    }
  }

  /** pdf/core/crossrefs.go:67-194: decode the /Type /ObjStm container, parse
    * its "objnum offset" header pairs, then parse the member at its offset.
    *
    * Depth-capped: MUTUAL objstm cycles (object A compressed in container B
    * whose entry says it is compressed in A) recurse through lookup() and
    * the self-reference check cannot see them — capped like every other
    * recursive parser (fixed JVM stacks; a clean error beats a
    * StackOverflowError from an arbitrary frame).
    */
  private var osLookupDepth = 0
  private def lookupObjectViaOS(sobjNumber: Int, objNum: Int): PdfObj = {
    osLookupDepth += 1
    try {
      if (osLookupDepth > 32) throw new PdfError("Object stream reference cycle")
      lookupObjectViaOSImpl(sobjNumber, objNum)
    } finally osLookupDepth -= 1
  }

  private def lookupObjectViaOSImpl(sobjNumber: Int, objNum: Int): PdfObj = {
    val objstm = objstms.getOrElse(sobjNumber, {
      val soi = lookup(sobjNumber)
      val so = soi match {
        case s: PdfStream => s
        case _            => throw new PdfError("Invalid object stream")
      }
      val typeName = so.dict.get("Type") match {
        case PdfName(n) => n
        case _          => throw new PdfError("Object stream missing Type")
      }
      if (typeName.toLowerCase != "objstm")
        throw new PdfError("Object stream type != ObjStm")
      val n = so.dict.get("N") match {
        case PdfInt(v) => v.toInt
        case _         => throw new PdfError("Invalid N in stream dictionary")
      }
      val first = so.dict.get("First") match {
        case PdfInt(v) => v
        case _         => throw new PdfError("Invalid First in stream dictionary")
      }
      val ds = Filters.decodeStream(so, identity)
      val sub = new ObjLexer(new ByteCursor(ds))
      val offsets = mutable.HashMap.empty[Int, Long]
      var i = 0
      while (i < n) {
        sub.skipSpaces()
        val onum = sub.parseNumber() match {
          case PdfInt(v) => v.toInt
          case _         => throw new PdfError("Invalid object stream offset table")
        }
        sub.skipSpaces()
        val off = sub.parseNumber() match {
          case PdfInt(v) => v
          case _         => throw new PdfError("Invalid object stream offset table")
        }
        offsets(onum) = first + off
        i += 1
      }
      val st = ObjStm(n, ds, offsets.toMap)
      objstms(sobjNumber) = st
      st
    })
    val offset = objstm.offsets.getOrElse(objNum, 0L)
    val subCur = new ByteCursor(objstm.ds)
    subCur.seek(offset)
    val sub = new ObjLexer(subCur)
    val v = sub.parseObject()
    if (v == null) throw new PdfError("Object cannot be null")
    new PdfIndirect(objNum.toLong, 0L, v)
  }

  /** Trace a reference to a direct object (pdf/core/crossrefs.go:339-366).
    * Double indirection is an error; stream/null objects pass through.
    */
  def trace(obj: PdfObj): PdfObj = obj match {
    case ref: PdfRef =>
      val saved = cur.offset
      try {
        val o = lookup(ref.num.toInt)
        o match {
          case io: PdfIndirect =>
            io.obj match {
              case _: PdfRef => throw new PdfError("Multi depth trace pointer to pointer")
              case inner     => inner
            }
          case other => other
        }
      } finally cur.seek(saved)
    case _ => obj
  }

  // --------------------------------------------------- indirect object parse

  /** Next-highest xref offset, for stream-length validation
    * (pdf/core/parser.go:1277-1285). The reference scans the whole xref map
    * per stream (O(n^2) over a many-stream file); this searches a sorted
    * copy of the offsets, rebuilt after any xref write.
    */
  private[pdf] def xrefNextObjectOffset(offset: Long): Long = {
    if (sortedOffsets == null) {
      val a = new Array[Long](xrefs.size)
      val it = xrefs.valuesIterator
      var i = 0
      while (it.hasNext) { a(i) = it.next().offset; i += 1 }
      java.util.Arrays.sort(a)
      sortedOffsets = a
    }
    // Binary search for the first offset > `offset` (0 when there is none).
    var lo = 0
    var hi = sortedOffsets.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedOffsets(mid) > offset) hi = mid else lo = mid + 1
    }
    if (lo < sortedOffsets.length) sortedOffsets(lo) else 0L
  }

  /** Stream /Length tracing with the recursion guard
    * (pdf/core/parser.go:1289-1313).
    */
  private def traceStreamLength(lengthObj: PdfObj): PdfObj = {
    lengthObj match {
      case ref: PdfRef =>
        if (streamLengthLookupInProgress.contains(ref.num))
          throw new PdfError("Illegal recursive loop")
        streamLengthLookupInProgress += ref.num
        try trace(lengthObj)
        finally streamLengthLookupInProgress -= ref.num
      case _ => trace(lengthObj)
    }
  }

  /** pdf/core/parser.go:1318-1490, including the non-conformant stream-EOL
    * handling and the next-xref-offset length correction. The header is the
    * leftmost `N G obj` in the 20 bytes at the cursor, so a small offset
    * before it is tolerated.
    */
  def parseIndirectObject(): PdfObj = {
    if (!headerNearCursor()) throw new PdfError("Unable to detect indirect object signature")
    val objNum = header.num.toLong
    val genNum = header.gen.toLong
    cur.pos = header.end
    var inner: PdfObj = null

    while (true) {
      val pk = cur.peek(2)
      if (pk.length < 2) throw new PdfError("EOF in indirect object")
      val b0 = pk(0) & 0xff; val b1 = pk(1) & 0xff
      if (isWhiteSpace(b0)) lex.skipSpaces()
      else if (b0 == '%') lex.skipComments()
      else if (b0 == '<' && b1 == '<') inner = lex.parseDict()
      else if (b0 == '/' || b0 == '(' || b0 == '[' || b0 == '<') inner = lex.parseObject()
      else if (b0 == 'e') {
        val lineStr = lex.readTextLine()
        if (lineStr.length >= 6 && lineStr.startsWith("endobj"))
          return new PdfIndirect(objNum, genNum, if (inner == null) PdfNull else inner)
        // Non-endobj 'e' line: the reference consumes the line, parses ONE
        // object from whatever follows and RETURNS immediately
        // (parser.go:1384-1391 falls through to the trailing parseObject) —
        // the resulting parse error is what drives xref repair. Looping
        // instead would silently self-heal the malformed object.
        inner = lex.parseObject()
        return new PdfIndirect(objNum, genNum, if (inner == null) PdfNull else inner)
      } else if (b0 == 's' && str(cur.peek(6)) == "stream") {
        var discardBytes = 6
        // Reference EOL handling: tolerate a stray non-CRLF whitespace byte.
        if (cur.peekAt(discardBytes) != -1) {
          val w = cur.peekAt(discardBytes)
          if (isWhiteSpace(w) && w != '\r' && w != '\n') discardBytes += 1
          if (cur.peekAt(discardBytes) == '\r') {
            discardBytes += 1
            if (cur.peekAt(discardBytes) == '\n') discardBytes += 1
          } else if (cur.peekAt(discardBytes) == '\n') discardBytes += 1
        }
        cur.discard(discardBytes)
        val dict = inner match {
          case d: PdfDict => d
          case _          => throw new PdfError("Stream object missing dictionary")
        }
        val slo = traceStreamLength(dict.get("Length"))
        var streamLength = slo match {
          case PdfInt(v) => v
          case _         => throw new PdfError("Stream length needs to be an integer")
        }
        if (streamLength < 0) throw new PdfError("Stream needs to be longer than 0")
        // Validate/correct against the next xref offset (parser.go:1441-1455).
        val streamStartOffset = cur.offset
        val nextObjectOffset = xrefNextObjectOffset(streamStartOffset)
        if (streamStartOffset + streamLength > nextObjectOffset && nextObjectOffset > streamStartOffset) {
          val newLength = nextObjectOffset - streamStartOffset - 17
          if (newLength < 0) throw new PdfError("Invalid stream length, going past boundaries")
          streamLength = newLength
          dict.set("Length", PdfInt(newLength))
        }
        if (streamLength > fileSize)
          throw new PdfError("Invalid stream length, larger than file size")
        val streamData = cur.readExact(streamLength.toInt)
        lex.skipSpaces()
        cur.discard(9) // "endstream"
        lex.skipSpaces()
        return new PdfStream(objNum, genNum, dict, streamData)
      } else {
        inner = lex.parseObject()
        return new PdfIndirect(objNum, genNum, if (inner == null) PdfNull else inner)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.regex.Pattern

import PdfObjs._

/** The file-layer regexes that remain: each runs once per file or once per
  * repair (header version, %%EOF and startxref search, the xref-marker
  * checks), never per object or per line, so they stay regexes. The
  * per-token shapes (xref lines, `N G obj` headers, references and numbers)
  * are byte scanners: `XrefLine`, `ObjHeader` and `ObjLexer.parseObject`.
  * `\s` is written as an explicit class to match Go's definition
  * ([\t\n\f\r ]) rather than Java's (reference: pdf/core/parser.go:23-33).
  */
object PdfPatterns {
  private final val S = "[\\t\\n\\f\\r ]"
  val pdfVersion: Pattern = Pattern.compile("%PDF-(\\d)\\.(\\d)")
  val eof: Pattern = Pattern.compile("%%EOF")
  val xrefTable: Pattern = Pattern.compile(s"$S*xref$S*")
  val startXref: Pattern = Pattern.compile(s"startx?ref$S*(\\d+)")
  val repairXrefTable: Pattern = Pattern.compile(s"[\\r\\n]$S*(xref)$S*[\\r\\n]")
  val repairXrefStart: Pattern = Pattern.compile(s"${S}xref$S*")

  /** Bytes→String for regex matching: latin-1 keeps a 1:1 byte↔char mapping. */
  def str(b: Array[Byte]): String = new String(b, ISO_8859_1)
}

/** File-layer object lexer over a byte cursor. Faithful to the reference's
  * PdfParser lexing productions (pdf/core/parser.go:74-645), including its
  * quirks: unknown string escapes dropped, unparseable floats -> 0.0,
  * hex strings keeping all non-whitespace bytes, glued "/Keynull" dict bug
  * workaround, and the 15-byte peek dispatch order for numbers/references.
  *
  * Errors are thrown as PdfError; Go sites returning io.EOF that callers
  * treat as fatal throw PdfError("EOF") here (document layer aborts anyway).
  */
final class ObjLexer(val cur: ByteCursor) {
  // Fixed-size JVM stacks: cap recursive nesting (see ContentParser).
  private var depth = 0
  private def enter(): Unit = {
    depth += 1
    if (depth > 500) throw new PdfError("nesting depth exceeded")
  }
  private def leave(): Unit = depth -= 1

  /** pdf/core/parser.go:74-90 (EOF here surfaces at the next peek). Runs
    * between every file-layer token: advance over the backing array
    * directly, with the cursor loop handling any virtual tail byte.
    */
  def skipSpaces(): Int = {
    val data = cur.data
    val dlen = data.length
    val start = cur.pos
    var p = start
    while (p < dlen && isWhiteSpace(data(p) & 0xff)) p += 1
    cur.pos = p
    var cnt = p - start
    var b = cur.readByte()
    while (b != -1 && isWhiteSpace(b)) { cnt += 1; b = cur.readByte() }
    if (b != -1) cur.unreadByte()
    cnt
  }

  /** pdf/core/parser.go:93-120. Multi-line comments are handled iteratively
    * (the reference recurses per line; fixed JVM stacks cannot).
    */
  def skipComments(): Unit = {
    while (true) {
      skipSpaces()
      var isFirst = true
      var done = false
      while (!done) {
        val b = cur.peekByte
        if (b == -1) throw new PdfError("EOF")
        if (isFirst && b != '%') return
        isFirst = false
        if (b != '\r' && b != '\n') cur.readByte()
        else done = true
      }
    }
  }

  /** pdf/core/parser.go:123-151. */
  def readComment(): String = {
    val r = new StringBuilder
    skipSpaces()
    var isFirst = true
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF")
      if (isFirst && b != '%') throw new PdfError("Comment should start with %")
      isFirst = false
      if (b != '\r' && b != '\n') r.append(cur.readByte().toChar)
      else done = true
    }
    r.toString
  }

  /** pdf/core/parser.go:154-170. */
  def readTextLine(): String = {
    val r = new StringBuilder
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF")
      if (b != '\r' && b != '\n') r.append(cur.readByte().toChar)
      else done = true
    }
    r.toString
  }

  /** pdf/core/parser.go:173-221. Name bytes accumulate raw (latin-1). */
  def parseName(): PdfName = {
    val r = new ByteArrayOutputStream()
    var nameStarted = false
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) done = true // EOF tolerated (object streams)
      else if (!nameStarted) {
        if (b == '/') { nameStarted = true; cur.readByte() }
        else if (b == '%') { readComment(); skipSpaces() }
        else throw new PdfError(s"Invalid name: (${b.toChar})")
      } else {
        if (isWhiteSpace(b)) done = true
        else if (b == '/' || b == '[' || b == '(' || b == ']' || b == '<' || b == '>') done = true
        else if (b == '#') {
          val hexcode = cur.peek(3)
          if (hexcode.length < 3) throw new PdfError("EOF in name hex escape")
          cur.discard(3)
          val hi = Character.digit(hexcode(1), 16); val lo = Character.digit(hexcode(2), 16)
          if (hi < 0 || lo < 0) throw new PdfError("invalid hex escape in name")
          r.write((hi << 4) | lo)
        } else r.write(cur.readByte())
      }
    }
    PdfName(new String(r.toByteArray, ISO_8859_1))
  }

  /** pdf/core/parser.go:243-297: sign allowed at start and after 'e';
    * '.'/'e' force float; unparseable float -> 0.0 silently; unparseable
    * int -> error.
    */
  def parseNumber(): PdfObj = ObjLexer.parseNumberFrom(cur)

  /** pdf/core/parser.go:300-380: balanced parens, octal escapes (1-3 digits),
    * named escapes; UNKNOWN escape chars are dropped entirely (including the
    * line-continuation backslash-newline case).
    */
  def parseString(): PdfStr = {
    cur.readByte() // consume '('
    val r = new ByteArrayOutputStream()
    var count = 1
    while (true) {
      val pb = cur.peekByte
      if (pb == -1) throw new PdfError("EOF in string")
      if (pb == '\\') {
        cur.readByte()
        val b = cur.readByte()
        if (b == -1) throw new PdfError("EOF in string escape")
        if (isOctalDigit(b)) {
          if (cur.remaining < 2) throw new PdfError("EOF in string octal")
          var code = (b - '0').toLong
          var extra = 0
          while (extra < 2 && isOctalDigit(cur.peekAt(extra))) {
            code = code * 8 + (cur.peekAt(extra) - '0')
            extra += 1
          }
          cur.discard(extra)
          r.write((code & 0xff).toInt)
        } else {
          b match {
            case 'n' => r.write('\n')
            case 'r' => r.write('\r')
            case 't' => r.write('\t')
            case 'b' => r.write('\b')
            case 'f' => r.write('\f')
            case '(' => r.write('(')
            case ')' => r.write(')')
            case '\\' => r.write('\\')
            case _ => // dropped entirely (reference switch falls through)
          }
        }
      } else {
        if (pb == '(') count += 1
        else if (pb == ')') {
          count -= 1
          if (count == 0) { cur.readByte(); return new PdfStr(r.toByteArray) }
        }
        r.write(cur.readByte())
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** pdf/core/parser.go:384-411: keeps ALL non-whitespace bytes; non-hex
    * bytes make the final hex decode fail silently -> empty result tail
    * (the reference ignores hex.DecodeString's error).
    */
  def parseHexString(): PdfStr = {
    cur.readByte() // consume '<'
    val r = new StringBuilder
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF in hex string")
      if (b == '>') { cur.readByte(); done = true }
      else {
        cur.readByte()
        if (!isWhiteSpace(b)) r.append(b.toChar)
      }
    }
    if (r.length % 2 == 1) r.append('0')
    new PdfStr(ObjLexer.hexDecodeLenient(r.toString))
  }

  /** pdf/core/parser.go:414-440. */
  def parseArray(): PdfArr = {
    enter()
    try parseArray0()
    finally leave()
  }

  private def parseArray0(): PdfArr = {
    val arr = PdfArr.empty
    cur.readByte() // consume '['
    var done = false
    while (!done) {
      skipSpaces()
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF in array")
      if (b == ']') { cur.readByte(); done = true }
      else arr.items += parseObject()
    }
    arr
  }

  /** pdf/core/parser.go:443-463. */
  def parseBool(): PdfBool = {
    var bb = cur.peek(4)
    if (bb.length >= 4 && PdfPatterns.str(bb) == "true") { cur.discard(4); return PdfBool(true) }
    bb = cur.peek(5)
    if (bb.length >= 5 && PdfPatterns.str(bb) == "false") { cur.discard(5); return PdfBool(false) }
    throw new PdfError("Unexpected boolean string")
  }

  /** pdf/core/parser.go:484-487: null = discard 4 bytes. */
  def parseNull(): PdfObj = { cur.discard(4); PdfNull }

  /** pdf/core/parser.go:491-574. The reference peeks 15 bytes and tries, in
    * order, the null/false/true prefixes and the regexes
    * `^\s*(\d+)\s+(\d+)\s+R` (reference), `^[\+-.]*([0-9.]+)` (number) and
    * its exponential form (matches a subset of the number form). One scan
    * of the same window decides the token: skipSpaces just ran, so the
    * window cannot start with `\s`, and the digit and space runs are
    * maximal, so no backtracking is needed.
    */
  def parseObject(): PdfObj = {
    skipSpaces()
    while (true) {
      if (cur.remaining < 2) throw new PdfError("EOF parsing object")
      val b0 = cur.peekByte; val b1 = cur.peekAt(1)
      if (b0 == '/') return parseName()
      else if (b0 == '(') return parseString()
      else if (b0 == '[') return parseArray()
      else if (b0 == '<' && b1 == '<') return parseDict()
      else if (b0 == '<') return parseHexString()
      else if (b0 == '%') { readComment(); skipSpaces() }
      else {
        @inline def at(i: Int): Int = cur.peekAt(i)
        var p = 0
        while (p < 15 && isDecimalDigit(at(p))) p += 1
        if (p > 0) {
          // "D+ S+ D+ S+ R" with the 'R' inside the window is a reference;
          // the reference reads through the first 'R', which is this one
          // (no 'R' can sit inside a digit or space run). Every other
          // digit-led token matches the number pattern.
          var q = p
          while (q < 15 && isRegexSpace(at(q))) q += 1
          var r = q
          if (q > p) while (r < 15 && isDecimalDigit(at(r))) r += 1
          var s = r
          if (r > q) while (s < 15 && isRegexSpace(at(s))) s += 1
          if (s > r && s < 15 && at(s) == 'R') {
            var n1 = 0L; var i1 = 0
            while (i1 < p) { n1 = n1 * 10 + (at(i1) - '0'); i1 += 1 }
            var n2 = 0L; var i2 = q
            while (i2 < r) { n2 = n2 * 10 + (at(i2) - '0'); i2 += 1 }
            cur.discard(s + 1)
            return PdfRef(n1, n2)
          }
          return parseNumber()
        }
        // `[\+-.]` is the range '+'..'.', which includes ','. The number
        // pattern matches when the run is followed by a digit, or when the
        // run holds a '.' that backtracking can hand to `[0-9.]+`.
        var t = 0
        var c = b0
        var dot = false
        while (t < 15 && c >= '+' && c <= '.') { dot |= c == '.'; t += 1; c = at(t) }
        if (dot || (t < 15 && isDecimalDigit(c))) return parseNumber()
        val peekStr = PdfPatterns.str(cur.peek(15))
        if (peekStr.length > 3 && peekStr.startsWith("null")) return parseNull()
        if (peekStr.length > 4 && peekStr.startsWith("false")) return parseBool()
        if (peekStr.length > 3 && peekStr.startsWith("true")) return parseBool()
        throw new PdfError("Object parsing error - unexpected pattern")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** pdf/core/parser.go:578-645 including the glued "/Keynull" workaround. */
  def parseDict(): PdfDict = {
    enter()
    try parseDict0()
    finally leave()
  }

  private def parseDict0(): PdfDict = {
    val dict = new PdfDict
    if (cur.readByte() != '<') throw new PdfError("Invalid dict")
    if (cur.readByte() != '<') throw new PdfError("Invalid dict")
    var done = false
    while (!done) {
      skipSpaces()
      skipComments()
      if (cur.remaining < 2) throw new PdfError("EOF in dict")
      if (cur.peekByte == '>' && cur.peekAt(1) == '>') {
        cur.readByte(); cur.readByte(); done = true
      } else {
        val keyName = parseName().name
        var handled = false
        if (keyName.length > 4 && keyName.endsWith("null")) {
          val newKey = keyName.substring(0, keyName.length - 4)
          skipSpaces()
          if (cur.peekByte == '/') {
            dict.set(newKey, PdfNull)
            handled = true
          }
        }
        if (!handled) {
          skipSpaces()
          dict.set(keyName, parseObject())
        }
      }
    }
    dict
  }
}

object ObjLexer {
  /** Shared numeric production (file layer and content layer are identical
    * here; reference: pdf/core/parser.go:243-297 / contentstream/parser.go:193-252).
    */
  def parseNumberFrom(cur: ByteCursor): PdfObj = {
    // Fast path: token boundaries are found WITHOUT allocation; pure-digit
    // integer tokens (the overwhelming majority in content streams) are
    // accumulated directly. Floats and signed/exponential forms fall back to
    // the exact string-parse (same semantics as the reference's strconv).
    val start = cur.pos
    var isFloat = false
    var allowSigns = true
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) done = true // EOF handled like end of token
      else if (allowSigns && (b == '-' || b == '+')) { cur.readByte(); allowSigns = false }
      else if (isDecimalDigit(b)) cur.readByte()
      else if (b == '.') { cur.readByte(); isFloat = true }
      else if (b == 'e') { cur.readByte(); isFloat = true; allowSigns = true }
      else done = true
    }
    val end = cur.pos
    val len = end - start
    if (!isFloat) {
      // digits with an optional single leading sign; overflow falls back
      var i = start
      var neg = false
      var ok = len > 0 && len <= 18
      if (ok && !isDecimalDigit(cur.data(start) & 0xff)) {
        neg = (cur.data(start) & 0xff) == '-'
        i += 1
        ok = len > 1 // a bare sign is not a number
      }
      if (ok) {
        var v = 0L
        var j = i
        while (j < end) {
          val d = (cur.data(j) & 0xff) - '0'
          if (d < 0 || d > 9) { ok = false; j = end }
          else { v = v * 10 + d; j += 1 }
        }
        if (ok) return PdfInt(if (neg) -v else v)
      }
    }
    val str = new String(cur.data, start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (isFloat) {
      val v = try str.toDouble
      catch { case _: NumberFormatException => 0.0 } // silently 0.0 (reference quirk)
      PdfReal(v)
    } else {
      val v = try str.toLong
      catch { case _: NumberFormatException => throw new PdfError(s"invalid integer '$str'") }
      PdfInt(v)
    }
  }

  /** Lenient hex decode mirroring Go hex.DecodeString's behavior as used by
    * the reference (error ignored -> decoded prefix kept... Go's DecodeString
    * on error returns the bytes decoded so far; the reference keeps the
    * result variable which in Go is the full-size buffer truncated at error).
    * Go hex.DecodeString returns (decodedPrefix, err); unidoc ignores err and
    * uses the prefix.
    */
  def hexDecodeLenient(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(s.length / 2)
    var i = 0
    while (i + 1 < s.length) {
      val hi = Character.digit(s.charAt(i), 16)
      val lo = Character.digit(s.charAt(i + 1), 16)
      if (hi < 0 || lo < 0) return out.toByteArray // stop at first invalid pair
      out.write((hi << 4) | lo)
      i += 2
    }
    out.toByteArray
  }
}

package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.regex.Pattern

import scala.util.Random

/** Differential oracle for the file-layer token scanners (`XrefLine`,
  * `ObjHeader`, `ObjLexer.parseObject`): the reference's per-token regexes
  * (pdf/core/parser.go:23-33) and the decision procedures the parser ran on
  * them. `\s` is Go's class [\t\n\f\r ] and `$` is written `\z`, because Go's
  * `$` matches only at the end of the text, while Java's also matches before
  * a final line terminator such as U+0085.
  */
object FileLayerOracle {
  private final val S = "[\\t\\n\\f\\r ]"
  val numeric: Pattern = Pattern.compile("^[\\+-.]*([0-9.]+)")
  val exponential: Pattern = Pattern.compile("^[\\+-.]*([0-9.]+)e[\\+-.]*([0-9.]+)")
  val reference: Pattern = Pattern.compile(s"^$S*(\\d+)$S+(\\d+)$S+R")
  val indirectObject: Pattern = Pattern.compile(s"(\\d+)$S+(\\d+)$S+obj")
  val xrefSubsection: Pattern = Pattern.compile(s"(\\d+)$S+(\\d+)$S*\\z")
  val xrefEntry: Pattern = Pattern.compile(s"(\\d+)$S+(\\d+)$S+([nf])$S*\\z")

  /** A decision's value, or the class and message of the exception it threw. */
  def outcome[T](f: => T): Either[(Class[_], String), T] =
    try Right(f)
    catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  /** parseXrefTable's line decision: (kind, first, gen, nf) as `XrefLine`
    * reports it, or None for a noise line.
    */
  def xrefLine(txt: String): Option[(Int, Long, Int, Char)] = {
    val m1 = xrefSubsection.matcher(txt)
    if (m1.find()) Some((1, m1.group(1).toInt.toLong, 0, ' '))
    else {
      val m2 = xrefEntry.matcher(txt)
      if (m2.find()) Some((2, m2.group(1).toLong, m2.group(2).toInt, m2.group(3).charAt(0)))
      else None
    }
  }

  /** The leftmost header in a window: (start, number, generation, end). */
  def objHeader(window: String): Option[(Int, String, String, Int)] = {
    val m = indirectObject.matcher(window)
    if (m.find()) Some((m.start, m.group(1), m.group(2), m.end)) else None
  }

  /** parseObject's decision for a token that none of its structural cases
    * (name, string, array, dict, hex string, comment) takes: the 15-byte
    * peek is tried against the null/false/true prefixes, then the reference,
    * number and exponential patterns; a reference is read through its 'R'.
    */
  def parseToken(lex: ObjLexer): PdfObj = {
    val cur = lex.cur
    val peekStr = new String(cur.peek(15), ISO_8859_1)
    if (peekStr.length > 3 && peekStr.startsWith("null")) return lex.parseNull()
    if (peekStr.length > 4 && peekStr.startsWith("false")) return lex.parseBool()
    if (peekStr.length > 3 && peekStr.startsWith("true")) return lex.parseBool()
    if (reference.matcher(peekStr).find()) {
      val consumed = new StringBuilder
      var c = cur.readByte()
      while (c != -1 && c != 'R') { consumed.append(c.toChar); c = cur.readByte() }
      if (c == -1) throw new PdfError("EOF reading reference")
      consumed.append('R')
      val m2 = reference.matcher(consumed.toString)
      if (!m2.find()) throw new PdfError("Unable to parse reference")
      return PdfRef(m2.group(1).toLong, m2.group(2).toLong)
    }
    if (numeric.matcher(peekStr).find()) return lex.parseNumber()
    if (exponential.matcher(peekStr).find()) return lex.parseNumber()
    throw new PdfError("Object parsing error - unexpected pattern")
  }

  private val pieces: IndexedSeq[String] =
    ('0' to '9').map(_.toString) ++ Seq(" ", "\t", "\n", "\f", "\r", "\u0000", "\u0085",
      "n", "f", "N", "R", "obj", "+", "-", ".", ",", "e", "a", "x", "l", "null", "true", "false")
  private val tails = IndexedSeq("obj", "R", "n", "f", "ob", "N", "")

  /** A hostile token string: up to `maxTokens` pieces, digit runs (up to 22
    * digits, so every integer parse can overflow), space runs and whole
    * `D S D S tail` shapes, so headers, references and xref lines are
    * frequent, near-misses included.
    */
  def hostile(r: Random, maxTokens: Int): String = {
    val sb = new StringBuilder
    def digits(): Unit = {
      val len = if (r.nextInt(8) == 0) 1 + r.nextInt(22) else 1 + r.nextInt(4)
      for (_ <- 0 until len) sb.append(('0' + r.nextInt(10)).toChar)
    }
    def spaces(): Unit = for (_ <- 0 to r.nextInt(3)) sb.append(" \t\n\f\r\u0000".charAt(r.nextInt(6)))
    def piece(): Unit = sb.append(pieces(r.nextInt(pieces.length)))
    var n = 1 + r.nextInt(maxTokens)
    while (n > 0) {
      r.nextInt(5) match {
        case 0 => digits()
        case 1 => spaces()
        case 2 =>
          digits(); spaces(); digits(); spaces()
          sb.append(tails(r.nextInt(tails.length)))
        case _ => piece()
      }
      n -= 1
    }
    sb.toString
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.fixtures.PdfFixtures
import graft.spark.{PageRow, PagesGen}

/** Seeded input synthesis. Every payload is built by the repository's own
  * fixture builders from text drawn here, so the text extraction must
  * return is known by construction and recomputed per document id by the
  * checker; nothing is stored besides the generated parquet the program
  * reads.
  */
object Inputs {

  /** Word bank in the style of the documents table the repository's
    * oracle gates run on.
    */
  private val Words: Array[String] = (
    "a the data spark query table scan sort hash join filter group order key " +
      "value row column line part batch stream window merge vector agg fast " +
      "slow big small customer index page text token shard bucket cache node " +
      "plan lake crawl file block record")
    .split(' ')

  /** Independent generator per (seed, stream, id): any document can be
    * rebuilt alone, in any task, in any order.
    */
  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ (stream << 48) ^ id)

  def words(r: SplittableRandom, lo: Int, hi: Int): String = {
    val n = lo + r.nextInt(hi - lo + 1)
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    sb.toString
  }

  /** Document id of a generated url (its last eight digits). */
  def idOf(url: String): Long = url.substring(url.length - 8).toLong

  def joinLines(lines: Seq[String]): Array[Byte] = lines.mkString("\n").getBytes(UTF_8)

  // ---------------------------------------------------------- pdf_extract

  /** One doc in eight is a container family from `PagesGen.payloadFor`
    * (crypt, CMap, repair, LZW, images, ...); the rest are 40-line
    * operator-dense pages in the four `pagesBench` containers.
    */
  def pdfFamily(id: Long): Int = if (id % 8 == 7) 4 else (id % 4).toInt

  private def pdfLines(seed: Long, id: Long): Seq[String] = {
    val r = rng(seed, 1, id)
    (0 until 40).map(k => s"[p$k d$id] ${words(r, 4, 10)}")
  }

  private def containerText(seed: Long, id: Long): String = words(rng(seed, 2, id), 20, 60)

  private def containerVariant(id: Long): Int = ((id / 8) % PagesGen.PdfVariants).toInt

  def pdfPayload(seed: Long, id: Long): Array[Byte] =
    if (pdfFamily(id) == 4) PagesGen.payloadFor(id, containerText(seed, id), containerVariant(id))
    else PdfFixtures.multiLinePdf(pdfLines(seed, id), pdfFamily(id))

  def pdfExpected(seed: Long, id: Long): Array[Byte] =
    if (pdfFamily(id) == 4) containerText(seed, id).getBytes(UTF_8)
    else joinLines(pdfLines(seed, id))

  def pdfUrl(id: Long): String = f"https://bench.test/pdf-$id%08d"

  def pdfRow(seed: Long, id: Long): PageRow =
    PageRow(pdfUrl(id), new Timestamp(PagesGen.BaseTs + id), pdfPayload(seed, id), "", "en")

  // ------------------------------------------------------- crawl_warehouse

  /** Crawl urls: 8 in 10 boilerplate HTML pages (article page or plain
    * paragraph page), 1 in 10 PDFs; 1 in 10 urls is captured twice and the
    * later capture, with other text, must win.
    */
  def crawlKind(id: Long): Int = (id % 10).toInt match {
    case 3     => 2 // pdf
    case 6 | 9 => 1 // plain multi-paragraph html
    case _     => 0 // article page with nav/aside/footer boilerplate
  }

  def recrawled(id: Long): Boolean = id % 10 == 5

  private def crawlParts(seed: Long, id: Long, capture: Int): (String, Seq[String]) = {
    val r = rng(seed, 3 + capture, id)
    val title = s"Doc $id ${words(r, 2, 5)}"
    val n = crawlKind(id) match {
      case 2 => 12
      case _ => 3 + r.nextInt(6)
    }
    (title, (0 until n).map(k => s"[c$capture p$k] ${words(r, 20, 50)}"))
  }

  def crawlPayload(seed: Long, id: Long, capture: Int): Array[Byte] = {
    val (title, paras) = crawlParts(seed, id, capture)
    crawlKind(id) match {
      case 0 => PdfFixtures.htmlPage(title, paras)
      case 1 => PdfFixtures.htmlMultiPara(paras)
      case _ => PdfFixtures.multiLinePdf(paras, (id / 10 % 4).toInt)
    }
  }

  /** Text of the capture that must survive: the latest one. */
  def crawlExpected(seed: Long, id: Long): Array[Byte] = {
    val (title, paras) = crawlParts(seed, id, if (recrawled(id)) 1 else 0)
    crawlKind(id) match {
      case 0 => joinLines(title +: paras)
      case _ => joinLines(paras)
    }
  }

  def crawlUrl(id: Long): String = f"https://crawl.test/page-$id%08d"

  def crawlRows(seed: Long, id: Long): Seq[PageRow] = {
    val captures = if (recrawled(id)) Seq(0, 1) else Seq(0)
    captures.map { c =>
      PageRow(crawlUrl(id), new Timestamp(PagesGen.BaseTs + id * 1000 + c * 86400000L),
        crawlPayload(seed, id, c), "", "en")
    }
  }

  // --------------------------------------------------------- dedup_minhash

  /** Documents table (doc_id, text, lang). Every fifth doc heads a family:
    * 1 in 3 heads gets one exact copy, 1 in 3 a near-duplicate chain of
    * two one-word edits (each edit keeps Jaccard far above 0.7, so the
    * LSH stage finds it with near certainty), and 1 in 3 a distant cousin
    * below the threshold. All other text is drawn independently and shares
    * few shingles.
    */
  def dedupText(seed: Long, id: Long): String = {
    val head = id - id % 5
    val r = rng(seed, 5, head)
    val base = words(r, 100, 140)
    val role = (head / 5 % 3).toInt
    (id % 5, role) match {
      case (0, _)          => base
      case (1, 0)          => base
      case (1, 1) | (2, 1) => editChain(base, r, (id % 5).toInt)
      case (1, 2)          => cousin(base)
      case _               => words(rng(seed, 6, id), 30, 110)
    }
  }

  /** `base` with every eighth word replaced: Jaccard near 0.45, so LSH
    * often proposes the pair and verification must reject it.
    */
  private def cousin(base: String): String =
    base.split(' ').zipWithIndex.map { case (w, i) => if (i % 8 == 7) s"far$i" else w }.mkString(" ")

  /** Ids of the family headed by `head` (a multiple of five). */
  def dedupFamily(head: Long): Seq[Long] = (head / 5 % 3) match {
    case 0 => Seq(head, head + 1)
    case 1 => Seq(head, head + 1, head + 2)
    case _ => Seq(head)
  }

  /** `base` with its first `depth` words from a fixed edit list replaced. */
  private def editChain(base: String, r: SplittableRandom, depth: Int): String = {
    val ws = base.split(' ')
    val positions = Array.fill(2)(r.nextInt(ws.length))
    for (k <- 0 until depth) ws(positions(k)) = s"edit$k"
    ws.mkString(" ")
  }

  private val Langs = Array("en", "fr", "de", "es", "zh")

  def dedupLang(id: Long): String = Langs((id % Langs.length).toInt)
}

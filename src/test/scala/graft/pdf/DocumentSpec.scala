package graft.pdf

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.fixtures.PdfFixtures

/** Whole-file goldens: minimal.pdf byte-identity (hand-traced expected text
  * per FIXTURES.md §3), the synthetic corpus s01-s17, and the reference's
  * checked-in PDFs as parse-don't-crash + determinism gates.
  */
class DocumentSpec extends AnyFunSuite {

  private def refFile(name: String): Option[Array[Byte]] = {
    val p = Paths.get(s"/root/reference/testfiles/$name")
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  test("parseIndirectObject header: fast path, offset fallback, NUL rejection") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def parserOver(src: String) = new PdfFileParser(src.getBytes(ISO_8859_1))
    // exact "N G obj" at the cursor
    val p1 = parserOver("7 0 obj\n(hi)\nendobj\n")
    p1.parseIndirectObject() match {
      case ind: PdfIndirect =>
        assert(ind.num == 7 && ind.gen == 0)
        assert(new String(ind.obj.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "hi")
      case other => fail(s"unexpected $other")
    }
    // small leading junk: the header is found past it in the 20-byte window
    val p2 = parserOver("xx12 0 obj\n<< /A 5 >>\nendobj\n")
    p2.parseIndirectObject() match {
      case ind: PdfIndirect =>
        assert(ind.num == 12)
        assert(ind.obj.asInstanceOf[PdfDict].get("A") == PdfInt(5))
      case other => fail(s"unexpected $other")
    }
    // NUL-separated header: NUL is PDF whitespace but NOT in the header
    // pattern's class — rejected exactly like the reference's regex
    val p3 = parserOver("12\u0000 0 obj\n(x)\nendobj\n")
    assertThrows[PdfError](p3.parseIndirectObject())
    // ...while ordinary multi-space separation stays accepted
    val p4 = parserOver("3  0  obj\nnull\nendobj\n")
    assert(p4.parseIndirectObject().asInstanceOf[PdfIndirect].num == 3)
  }

  test("minimal.pdf: xref offsets and golden text 'Hello World'") {
    refFile("minimal.pdf") match {
      case None => cancel("reference testfiles not available")
      case Some(bytes) =>
        val parser = new PdfFileParser(bytes)
        parser.load()
        // Offsets asserted in the reference's (commented) parser_test.go:684-798.
        assert(parser.xrefs(1).offset == 18)
        assert(parser.xrefs(2).offset == 77)
        assert(parser.xrefs(3).offset == 178)
        assert(parser.xrefs(4).offset == 457)
        val r = Extract(bytes)
        assert(r.status == "ok", r.error)
        assert(r.text == "Hello World")
        assert(r.spans == Seq(graft.Span(0, 0, 11)))
    }
  }

  test("lorem.pdf and templates1.pdf: parse, deterministic across runs") {
    for (name <- Seq("lorem.pdf", "templates1.pdf")) {
      refFile(name) match {
        case None => cancel("reference testfiles not available")
        case Some(bytes) =>
          val r1 = Extract(bytes)
          val r2 = Extract(bytes)
          assert(r1.status == r2.status, s"$name status")
          assert(r1.textBytes.sameElements(r2.textBytes), s"$name determinism")
          assert(r1.status == "ok", s"$name: ${r1.error}")
          assert(r1.textBytes.nonEmpty, s"$name extracted nothing")
      }
    }
  }

  test("s01 classic xref -> verbatim text") {
    val r = Extract(PdfFixtures.s01("Hello World"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Hello World")
  }

  test("s01 round-trips arbitrary text incl. escapes and UTF-8") {
    val text = "Weird (text) with \\ backslash, tabs\tand ünïcödé ☂"
    val r = Extract(PdfFixtures.s01(text))
    assert(r.status == "ok", r.error)
    assert(r.text == text)
  }

  test("s02 Td ty<0 -> newline") {
    val r = Extract(PdfFixtures.s02())
    assert(r.text == "line1\nline2")
  }

  test("s03 Td tx>0 -> space") {
    val r = Extract(PdfFixtures.s03())
    assert(r.text == "a b")
  }

  test("s04 Tm rules") {
    val r = Extract(PdfFixtures.s04())
    assert(r.text == "r1c1\tr1c2\nr2c1")
  }

  test("s05 TJ kern rule") {
    val r = Extract(PdfFixtures.s05())
    assert(r.text == "to kernjoined")
  }

  test("s06 flate content stream") {
    val r = Extract(PdfFixtures.s06("Compressed content works"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Compressed content works")
  }

  test("s07 xref stream + object stream + PNG predictor") {
    val r = Extract(PdfFixtures.s07("From an object stream"))
    assert(r.status == "ok", r.error)
    assert(r.text == "From an object stream")
  }

  test("s08 ToUnicode CMap mapping") {
    val r = Extract(PdfFixtures.s08())
    assert(r.status == "ok", r.error)
    assert(r.text == "AB☺")
  }

  test("s09 content array joined with space") {
    val r = Extract(PdfFixtures.s09("part1", "part2"))
    assert(r.status == "ok", r.error)
    assert(r.text == "part1part2") // NB: the joiner space sits BETWEEN streams,
    // i.e. "...Tj ET BT...": no text op emits it, so extracted text is glued.
  }

  test("s10 quote ops and Do dropped") {
    val r = Extract(PdfFixtures.s10())
    assert(r.status == "ok", r.error)
    assert(r.text == "kept")
  }

  test("s11 multi-filter content stream") {
    val r = Extract(PdfFixtures.s11("Multi filter content"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Multi filter content")
  }

  test("s12 broken startxref repaired") {
    val r = Extract(PdfFixtures.s12("Repaired just fine"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Repaired just fine")
  }

  test("s13 glued trailer<<") {
    val r = Extract(PdfFixtures.s13("Glued trailer"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Glued trailer")
  }

  test("s14 oversized /Length corrected via next-xref heuristic") {
    val r = Extract(PdfFixtures.s14("Length corrected"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Length corrected")
  }

  test("s15 inline image before text") {
    val r = Extract(PdfFixtures.s15("after image"))
    assert(r.status == "ok", r.error)
    assert(r.text == "after image")
  }

  test("s16 unknown colorspace -> partial text + error status") {
    val r = Extract(PdfFixtures.s16())
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Unsupported colorspace"))
  }

  test("Indexed colorspace: in-range palette index -> full text") {
    val r = Extract(PdfFixtures.sIndexed("and after", scIndex = "1"))
    assert(r.status == "ok", r.error)
    assert(r.text == "partialand after")
  }

  test("Indexed colorspace: out-of-range index -> partial text + error") {
    // index 7 * 3 components = 21 >= 9 palette bytes (colorspace.go:2236-2238)
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "7"))
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Outside range"))
  }

  test("Indexed colorspace: negative index -> partial text + error") {
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "-1"))
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Outside range"))
  }

  test("Indexed colorspace: short lookup table -> index past table aborts") {
    // hival says 3 entries but the table holds 2 bytes; the reference loads
    // it with a debug note and the range check catches the access
    // (colorspace.go:2216-2222 + 2236-2238).
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "0", palette = "<FFFF>"))
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Outside range"))
  }

  test("Indexed colorspace: hival > 255 fails the page load (no text)") {
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "0", hival = 300))
    assert(r.status == "error")
    assert(r.text == "")
    assert(r.error.contains("Invalid hival"))
  }

  test("incremental update (/Prev chain): latest revision's object wins") {
    val r = Extract(PdfFixtures.sIncremental("fresh revision-2 text"))
    assert(r.status == "ok", r.error)
    assert(r.text == "fresh revision-2 text")
  }

  test("hybrid xref (/XRefStm): content object resolvable only via the stream") {
    val r = Extract(PdfFixtures.sHybrid("hybrid body"))
    assert(r.status == "ok", r.error)
    assert(r.text == "hybrid body")
  }

  test("Lab + CalRGB + Indexed colorspace ops before text") {
    val r = Extract(PdfFixtures.sColorSpaces("colored text"))
    assert(r.status == "ok", r.error)
    assert(r.text == "colored text")
  }

  test("Type-0 sampled + Type-2 exponential tint transforms before text") {
    val r = Extract(PdfFixtures.sTints("tinted text"))
    assert(r.status == "ok", r.error)
    assert(r.text == "tinted text")
  }

  test("hostile roll payload -> status=timeout within the budget") {
    val t0 = System.nanoTime()
    val r = Extract(PdfFixtures.sHostile(), Extract.DefaultMaxBytesPerDoc, timeoutMs = 300)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(r.status == "timeout")
    assert(r.text == "") // timeout drops partial text (top-level contract)
    assert(ms < 5000, s"deadline must fire promptly, took ${ms}ms")
  }

  test("cyclic /Parent chain -> clean error, not an unkillable spin") {
    val bld = new PdfFixtures.Builder()
    val c = "BT (x) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    // Root Pages node referencing ITSELF as /Parent; page has no /Resources,
    // so inheritedResources must walk (and bail out of) the cycle.
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] /Parent 2 0 R >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val t0 = System.nanoTime()
    val r = Extract(bld.build(), Extract.DefaultMaxBytesPerDoc, timeoutMs = 5000)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(r.status == "error" || r.status == "timeout", r.status)
    assert(ms < 10000, s"cycle guard must fire promptly, took ${ms}ms")
  }

  test("truncated inline image (EOF before EI) -> error with partial-page abort") {
    // Reference: ParseInlineImage returns io.EOF as an ERROR; the whole
    // content parse fails, so no text is extracted (page error row).
    val c = "BT (hello) Tj ET BI /W 1 /H 1 /CS /DeviceGray /BPC 8 ID "
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val r = Extract(bld.build())
    assert(r.status == "error", r.status)
    assert(r.text == "")
  }

  test("Encrypt dict without /V -> decrypt error (no default RC4 filters)") {
    // Take a valid RC4-encrypted doc and strip /V from its Encrypt dict:
    // the reference installs NO crypt filters when V is absent, so the
    // first decrypt fails (crypt.go:342-358).
    val bytes = PdfFixtures.sEncrypted("secret text", 7L, aes = false)
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val patched = s.replaceFirst("/V 2", "/Z 2 ") // same byte length: offsets intact
    val r = Extract(patched.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(r.status == "error", r.status)
  }

  test("s17 oversize doc -> skipped_oversize") {
    val r = Extract(PdfFixtures.s01("x"), maxBytesPerDoc = 10)
    assert(r.status == "skipped_oversize")
  }

  test("two pages joined with newline + spans") {
    val r = Extract(PdfFixtures.twoPages("page one", "page two"))
    assert(r.status == "ok", r.error)
    assert(r.text == "page one\npage two")
    assert(r.spans == Seq(graft.Span(0, 0, 8), graft.Span(1, 9, 17)))
  }

  test("resources inherited from Pages node") {
    val r = Extract(PdfFixtures.inheritedResources("inherited"))
    assert(r.status == "ok", r.error)
    assert(r.text == "inherited")
  }

  test("cyclic page tree terminates") {
    // Kids pointing back at an ancestor: the visited set must stop recursion.
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 2 0 R] /Count 2 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (cyclic ok) Tj ET".getBytes(UTF_8)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val r = Extract(bld.build())
    assert(r.status == "ok", r.error)
    assert(r.text == "cyclic ok")
  }

  test("encrypted document -> error status") {
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [] /Count 0 >>")
    val bytes = bld.build()
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val withEnc = s.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
    val r = Extract(withEnc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(r.status == "error") // Encrypt ref to a missing object
  }

  test("garbage payload -> error status, never a throw") {
    val r = Extract("%PDF-1.4 garbage no structure".getBytes(UTF_8))
    assert(r.status == "error")
  }

  test("outlines: cyclic Next chain terminates; bad Title errors the doc") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    // cyclic outline items
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (with outlines) Tj ET".getBytes(ISO_8859_1)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.obj(5, "<< /Type /Outlines /First 6 0 R >>")
    bld.obj(6, "<< /Title (a) /Next 7 0 R >>")
    bld.obj(7, "<< /Title (b) /Next 6 0 R >>") // cycle back to 6
    val r = Extract(bld.build())
    assert(r.status == "ok", r.error)
    assert(r.text == "with outlines")

    // Title not a string -> document error (reference outlines.go:143-146)
    val bad = new PdfFixtures.Builder()
    bad.obj(1, "<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>")
    bad.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bad.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    bad.stream(4, s"<< /Length ${c.length} >>", c)
    bad.obj(5, "<< /Type /Outlines /First 6 0 R >>")
    bad.obj(6, "<< /Title 42 >>")
    val rb = Extract(bad.build())
    assert(rb.status == "error")
    assert(rb.error.contains("Title"))
  }

  test("AcroForm: non-dict entry errors the doc") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R /AcroForm (bogus) >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val r = Extract(bld.build())
    assert(r.status == "error")
    assert(r.error.contains("acroform"))
  }

  test("per-doc time budget -> status=timeout") {
    // Large operator-dense doc + 1ms budget: the cooperative deadline trips.
    val lines = (0 until 20000).map(i => s"line number $i with some padding text")
    val pdf = PdfFixtures.multiLinePdf(lines, 0)
    val r = Extract(pdf, Extract.DefaultMaxBytesPerDoc, timeoutMs = 1)
    assert(r.status == "timeout")
    // Same doc with a sane budget extracts fine.
    val ok = Extract(pdf, Extract.DefaultMaxBytesPerDoc, timeoutMs = 30000)
    assert(ok.status == "ok", ok.error)
  }

  test("outline titles flattened (GetOutlinesFlattened-style)") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.obj(5, "<< /Type /Outlines /First 6 0 R >>")
    bld.obj(6, "<< /Title (Chapter 1) /Next 8 0 R /First 7 0 R >>")
    bld.obj(7, "<< /Title (Section 1.1) >>")
    bld.obj(8, "<< /Title (Chapter 2) >>")
    val doc = PdfDocument.open(bld.build())
    // Reference flattenFunc order (reader.go:415-449): Next recursed BEFORE
    // First, so sibling titles come before any children block.
    assert(doc.outlinesFlattened ==
      Seq("+", "  Chapter 1", "  Chapter 2", "  +", "    Section 1.1"))
  }

  test("page attribute validation: bad boxes/Rotate/LastModified/Annots error the doc") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def pageWith(extra: String): Array[Byte] = {
      val bld = new PdfFixtures.Builder()
      bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R $extra>>")
      val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
      bld.stream(4, s"<< /Length ${c.length} >>", c)
      bld.build()
    }
    assert(Extract(pageWith("/CropBox [0 0 100] ")).status == "error")          // len != 4
    assert(Extract(pageWith("/TrimBox [0 0 (a) 100] ")).status == "error")      // non-numeric
    assert(Extract(pageWith("/Rotate (ninety) ")).status == "error")
    assert(Extract(pageWith("/LastModified (not-a-date) ")).status == "error")
    assert(Extract(pageWith("/LastModified (D:20260816120000Z) ")).status == "ok")
    assert(Extract(pageWith("/Annots 7 ")).status == "error")                   // not an array
    assert(Extract(pageWith("/Annots [(str)] ")).status == "error")             // member not dict
    assert(Extract(pageWith("/Annots [null << /Subtype /Link >>] ")).status == "ok")
    assert(Extract(pageWith("/Annots [<< /Subtype (Link) >>] ")).status == "error") // subtype not name
    assert(Extract(pageWith("/CropBox [0 0 612 792] /Rotate 90 ")).status == "ok")
  }

  test("annotation subtype dispatch mirrors the reference error surface") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def doc(annots: String, extraObjs: PdfFixtures.Builder => Unit = _ => ()): Array[Byte] = {
      val bld = new PdfFixtures.Builder()
      bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R /Annots $annots >>")
      val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
      bld.stream(4, s"<< /Length ${c.length} >>", c)
      extraObjs(bld)
      bld.build()
    }
    // Known subtypes (markup and non-markup) pass; missing Subtype tolerated.
    assert(Extract(doc("[<< /Subtype /Widget >> << /Subtype /Highlight >> << /Rect [0 0 1 1] >>]")).status == "ok")
    // UNKNOWN subtype -> reference's "Unknown annotation" abort (whole doc).
    val unk = Extract(doc("[<< /Subtype /VendorMagic >>]"))
    assert(unk.status == "error" && unk.error.contains("Unknown annotation"))
    // Markup /Popup must be an INDIRECT object...
    assert(Extract(doc("[<< /Subtype /Text /Popup << /Subtype /Popup >> >>]")).status == "error")
    // ...whose annotation subtype IS Popup...
    assert(Extract(doc("[<< /Subtype /Text /Popup 5 0 R >>]",
      _.obj(5, "<< /Subtype /Popup >>"))).status == "ok")
    // ...anything else errors ("Popup not referring to a popup annotation!").
    val notPopup = Extract(doc("[<< /Subtype /Text /Popup 5 0 R >>]",
      _.obj(5, "<< /Subtype /Link >>")))
    assert(notPopup.status == "error" && notPopup.error.contains("popup annotation"))
    // Popup null is fine (annotations.go:947-949).
    assert(Extract(doc("[<< /Subtype /Ink /Popup null >>]")).status == "ok")
  }

  test("XrefLine equals the subsection/entry regex decision on every line") {
    // Total: the scanner's result, including the NumberFormatException an
    // overflowing number throws, equals the regex pair's (subsection first,
    // then entry) on canonical, whitespace-variant, hostile and junk lines.
    val lines = Seq(
      "0000000015 00000 n", "0000000000 65535 f", "0 46", "12 3",
      "0000000015 00000 n ", "15 0 n", "15\t0\tn", "2 7\r", "9 1 f",
      "0000000015 00000 x", "15 n", "n 15 0", "abc 12 0 n", " 12 0 n",
      "12 0 N", "12 0n", "120", "", "trailer<</Size 4>>", "%%EOF",
      "12  0   n  ", "007 008", "12 34n", "123 456 7", "1 2 3 n",
      "99999999999999999999 0 n", "12 99999999999999999999",
      "2147483647 1", "2147483648 1", "15 2147483648 n", "-1 2 n",
      "3.5 2", "1234", "0000000015\n00000 n", "abc12 34", "7 1\u0085",
      "12\u0000 0 n", "00000000000000000000000012 3", "1 2 3 4 n f")
    def scanned(txt: String) = FileLayerOracle.outcome {
      val p = XrefLine.classify(txt)
      if (p == null) None else Some((p.kind, p.first, p.gen, p.nf))
    }
    def check(txt: String): Unit = {
      val want = FileLayerOracle.outcome(FileLayerOracle.xrefLine(txt))
      assert(scanned(txt) == want, s"line '${txt.replace("\u0000", "\\0")}'")
    }
    lines.foreach(check)
    assert(scanned("abc12 34") == Right(Some((1, 12L, 0, ' '))))
    assert(scanned("1 2 3 n") == Right(Some((2, 2L, 3, 'n'))))
    assert(scanned("2147483648 1").left.map(_._1) == Left(classOf[NumberFormatException]))
    val r = new scala.util.Random(20261017L)
    for (_ <- 1 to 1000000) check(FileLayerOracle.hostile(r, 8))
  }

  test("ObjHeader finds the leftmost header the regex finds in its window") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val h = new ObjHeader
    def check(pre: String, window: String, post: String): Unit = {
      val data = (pre + window + post).getBytes(ISO_8859_1)
      val got =
        if (h.find(data, pre.length, pre.length + window.length))
          Some((h.start - pre.length, h.num, h.gen, h.end - pre.length))
        else None
      assert(got == FileLayerOracle.objHeader(window),
        s"window '${window.replace("\u0000", "\\0")}' after '$pre'")
    }
    for (w <- Seq("12 0 obj", "xx12 0 obj", "12\u0000 0 obj", "3  0  obj", "1 2 3 obj",
        "12 0 ob", "12 0obj", "007\t008\nobj", "1 x 2 0 obj", "99999999999 0 obj"))
      check("9", w, "9")
    val r = new scala.util.Random(20261018L)
    for (_ <- 1 to 1000000)
      check(FileLayerOracle.hostile(r, 2), FileLayerOracle.hostile(r, 8), FileLayerOracle.hostile(r, 2))
  }

  test("top-down repair reads headers, rejects NUL separators, overflows like toInt") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def rebuild(src: String) = new PdfFileParser(src.getBytes(ISO_8859_1)).repairRebuildXrefsTopDown()
    val t = rebuild("%PDF-1.4\n1 0 obj\nnull\nendobj\n 7  2\tobj\n(x)\nendobj\n")
    assert(t.keySet == Set(1, 7))
    assert(t(1).offset == 9 && t(7).offset == 30 && t(7).generation == 2)
    val nul = intercept[PdfError](rebuild("%PDF-1.4\n12\u0000 0 obj\nnull\nendobj\n"))
    assert(nul.getMessage == "Unable to detect indirect object signature")
    val big = intercept[NumberFormatException](rebuild("%PDF-1.4\n99999999999 0 obj\nnull\n"))
    assert(big.getMessage == "For input string: \"99999999999\"")
  }

  test("an xref line ending in byte 0x85 is noise, as under Go's end-of-text $") {
    // Java's $ also matches before a final U+0085 (NEL), which would make
    // "7 1<0x85>" a subsection renumbering the entries after it 7 and 8.
    val raw = "xref\n1 2\n7 1\u0085\n0000000100 00000 n\n0000000200 00000 n\n" +
      "trailer\n<< /Size 3 >>\n"
    val p = new PdfFileParser(raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    p.parseXrefTable()
    assert(p.xrefs.keySet == Set(1, 2))
    assert(p.xrefs(1).offset == 100 && p.xrefs(2).offset == 200)
  }

  private def manyStreams(n: Int): Array[Byte] = {
    val bld = new PdfFixtures.Builder()
    val raw = "BT (x) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    for (i <- 1 to n) bld.stream(i, s"<< /Length ${raw.length} >>", raw)
    bld.build()
  }

  private def nextOffsetOracle(p: PdfFileParser, x: Long): Long = {
    val above = p.xrefs.valuesIterator.map(_.offset).filter(_ > x)
    if (above.hasNext) above.min else 0L
  }

  test("xrefNextObjectOffset: smallest offset above x, also after an xref repair") {
    val pdf = manyStreams(40)
    // Point object 3's entry at offset 2 (inside the header): its lookup
    // parses the wrong object, which makes the parser rewrite the xref map.
    val src = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    val entry3 = src.lastIndexOf("\nxref\n") + "\nxref\n0 41\n".length + 3 * 20
    val broken = (src.substring(0, entry3) + "0000000002" + src.substring(entry3 + 10))
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val p = new PdfFileParser(broken)
    p.load()
    assert(p.xrefs(3).offset == 2L)
    def offsets = p.xrefs.valuesIterator.map(_.offset).toSet
    val before = offsets
    for (x <- 0L to broken.length.toLong) // the sorted table is built here
      assert(p.xrefNextObjectOffset(x) == nextOffsetOracle(p, x), s"x=$x")
    p.lookup(3)
    assert(offsets != before, "the repair rewrote the xref map")
    for (x <- 0L to broken.length.toLong)
      assert(p.xrefNextObjectOffset(x) == nextOffsetOracle(p, x), s"after repair x=$x")
  }

  test("stream-length validation is near-linear in the number of stream objects") {
    // Each stream's /Length check asks for the next xref offset; a scan of
    // the whole xref map per stream made opening n streams O(n^2).
    def bestOf3(pdf: Array[Byte], n: Int): Long = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val p = new PdfFileParser(pdf)
      p.load()
      var i = 1
      while (i <= n) { assert(p.lookup(i).isInstanceOf[PdfStream]); i += 1 }
      System.nanoTime() - t0
    }.min
    val small = manyStreams(2500)
    val big = manyStreams(10000)
    bestOf3(small, 2500) // JIT warm-up
    val tSmall = bestOf3(small, 2500)
    val tBig = bestOf3(big, 10000)
    assert(tBig < 8 * tSmall, s"4x the objects took ${tBig.toDouble / tSmall}x the time")
  }
}

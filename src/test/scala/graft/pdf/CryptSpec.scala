package graft.pdf

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Crypt goldens ported from /root/reference/pdf/core/crypt_test.go and the
  * encrypted-file integration goldens of crypt_file_test.go (byte-identical
  * page-1 text via the deprecated extractor, exactly as the reference test
  * does).
  */
class CryptSpec extends AnyFunSuite {

  private val id0 = Array(0x4e, 0x00, 0x99, 0xe5, 0x36, 0x78, 0x93, 0x24,
    0xff, 0xd5, 0x82, 0xe4, 0xec, 0x0e, 0xa3, 0xb4).map(_.toByte)
  private val oVal = Array(0xE6, 0x00, 0xEC, 0xC2, 0x02, 0x88, 0xAD, 0x8B,
    0x5C, 0x72, 0x64, 0xA9, 0x5C, 0x29, 0xC6, 0xA8, 0x3E, 0xE2, 0x51,
    0x76, 0x79, 0xAA, 0x02, 0x18, 0xBE, 0xCE, 0xEA, 0x8B, 0x79, 0x86,
    0x72, 0x6A, 0x8C, 0xDB).map(_.toByte)

  private def goldenKey(): Array[Byte] =
    PdfCrypt.fileKey(Array.emptyByteArray, oVal, -3904, id0, 3, 128, true)

  test("algorithm 2 golden (crypt_test.go:59-83)") {
    val exp = Array(0xf8, 0x94, 0x9c, 0x5a, 0xf5, 0xa0, 0xc0, 0xca,
      0x30, 0xb8, 0x91, 0xc1, 0xbb, 0x2c, 0x4f, 0xf5).map(_.toByte)
    assert(goldenKey().sameElements(exp))
  }

  test("algorithm 5 golden (crypt_test.go:113-140, first 16 bytes)") {
    val u = PdfCrypt.userValue(goldenKey(), id0, r = 3)
    val exp = Array(0x59, 0x66, 0x38, 0x6c, 0x76, 0xfe, 0x95, 0x7d, 0x3d,
      0x0d, 0x14, 0x3d, 0x36, 0xfd, 0x01, 0x3d).map(_.toByte)
    assert(u.length == 32 && u.take(16).sameElements(exp))
  }

  test("authored credentials authenticate: R2-R4, 40-128 bits, user and owner password") {
    val upass = "us3r pass".getBytes(ISO_8859_1)
    val opass = "0wner".getBytes(ISO_8859_1)
    val p = -3904
    val cases = Seq((2, 40, true)) ++
      (for (r <- Seq(3, 4); len <- Seq(40, 64, 128); em <- if (r == 4) Seq(true, false) else Seq(true))
        yield (r, len, em))
    for ((r, len, em) <- cases) {
      val (o, u, key) = PdfEncrypt.credentials(upass, opass, p, id0, r, len, em)
      val clue = s"R$r/$len/EncryptMetadata=$em"
      assert(o.length == 32 && u.length == 32 && key.length == (if (r == 2) 5 else len / 8), clue)
      def reader() = new PdfCrypt(v = if (r == 4) 4 else if (r == 3) 2 else 1, r = r,
        length = len, o = o, u = u, oe = null, ue = null, permsBytes = null, p = p,
        encryptMetadata = em, id0 = id0,
        cryptFilters = Map("StdCF" -> PdfCrypt.FilterDef("V2", len / 8)),
        stringFilter = "StdCF", streamFilter = "StdCF")
      for (pass <- Seq(upass, opass)) {
        val c = reader()
        assert(c.authenticate(pass), s"$clue pass=${new String(pass, ISO_8859_1)}")
        assert(c.encryptionKey.sameElements(key), s"$clue pass=${new String(pass, ISO_8859_1)}")
      }
      assert(!reader().authenticate("wrong".getBytes(ISO_8859_1)), clue)
    }
  }

  test("rc4 known vector") {
    // RFC 6229-style: key "Key", plaintext "Plaintext" -> BBF316E8D940AF0AD3
    val out = PdfCrypt.rc4("Key".getBytes(ISO_8859_1), "Plaintext".getBytes(ISO_8859_1))
    assert(out.map(b => f"${b & 0xff}%02X").mkString == "BBF316E8D940AF0AD3")
  }

  // ----- encrypted reference files (crypt_file_test.go goldens): page-1 text
  // via the DEPRECATED extractor over concatenated content streams.

  private def refFile(name: String): Option[Array[Byte]] = {
    val p = Paths.get(s"/root/reference/pdf/core/testdata/$name")
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  private def page1TextDeprecated(bytes: Array[Byte], pass: String): (Int, Array[Byte]) = {
    val doc = PdfDocument.open(bytes, Seq(pass.getBytes(UTF_8)))
    val content = new java.io.ByteArrayOutputStream()
    doc.contentStreams(doc.pages.head).foreach(content.write)
    val r = TextExtractor.extractTextDeprecated(content.toByteArray)
    assert(r.error.isEmpty, r.error)
    (doc.pages.length, r.bytes)
  }

  test("testcase_encry.pdf (AESV3 R5): owner and user passwords, byte-identical text") {
    refFile("testcase_encry.pdf") match {
      case None => cancel("reference testdata not available")
      case Some(bytes) =>
        val expected: Array[Byte] = Array[Int](
          0x0a, 0x00, 0x01, 0x00, 0x02, 0x00, 0x03, 0x00, 0x04, 0x00, 0x05,
          0x00, 0x06, 0x00, 0x07, 0x00, 0x08, 0x0a, 0x00, 0x01, 0x0a, 0x00,
          0x09, 0x00, 0x0a, 0x00, 0x0b).map(_.toByte)
        for (pass <- Seq("123", "456")) {
          val (pages, text) = page1TextDeprecated(bytes, pass)
          assert(pages == 1)
          assert(text.sameElements(expected), s"pass=$pass")
        }
    }
  }

  test("issue6010_1.pdf (R6): pass abc -> 'Issue 6010'") {
    refFile("issue6010_1.pdf") match {
      case None => cancel("reference testdata not available")
      case Some(bytes) =>
        val (pages, text) = page1TextDeprecated(bytes, "abc")
        assert(pages == 1)
        assert(new String(text, UTF_8) == "\nIssue 6010")
    }
  }

  test("issue6010_2.pdf (R6, unicode password): 10 pages golden") {
    refFile("issue6010_2.pdf") match {
      case None => cancel("reference testdata not available")
      case Some(bytes) =>
        val (pages, text) = page1TextDeprecated(bytes, "æøå")
        assert(pages == 10)
        val expected = "\nSample PDF Document\nRobert Maron\nGrzegorz Grudzi\n\u00b4\nnski\nFebruary 20, 1999"
        assert(new String(text, ISO_8859_1) == expected)
    }
  }

  test("pr6531_1/2.pdf (R6): decrypt + parse smoke") {
    for (name <- Seq("pr6531_1.pdf", "pr6531_2.pdf")) {
      refFile(name) match {
        case None => cancel("reference testdata not available")
        case Some(bytes) =>
          val doc = PdfDocument.open(bytes, Seq("asdfasdf".getBytes(UTF_8)))
          assert(doc.pages.length == 1, name)
      }
    }
  }

  test("x300.pdf (R5, long password)") {
    refFile("x300.pdf") match {
      case None => cancel("reference testdata not available")
      case Some(bytes) =>
        val pass = "rnofajrcudiaplhafbqrkrafphehjlvctmwftvpzvachsulmfkjltliftbfpgabustkjfybeqvwgdfawyghoijxgwuxkkrywybpapsswxcnigwwnpttgvfxtrlnbqzberhrnelvcqjaasothqhtzjoxqttlqrmxfqawyhizoslazxhdqffiweruqjrmpdsxutvevceaormydxhregsadphblbaziucrnsbntzptdzfkzfzlwmxhslywusuajwspvabqwopbxdttwbjappgiaxrkgmsuodkzhbqvqiwummcdu"
        val (pages, text) = page1TextDeprecated(bytes, pass)
        assert(pages == 1)
        assert(new String(text, UTF_8).contains("Template form for pdf_form_add.go"))
    }
  }

  test("wrong password is rejected") {
    refFile("testcase_encry.pdf") match {
      case None => cancel("reference testdata not available")
      case Some(bytes) =>
        val e = intercept[PdfError](PdfDocument.open(bytes, Seq("wrong".getBytes(UTF_8))))
        assert(e.getMessage.contains("password"))
    }
  }

  test("RC4 V2 stream decryption golden (crypt_test.go:147-218)") {
    val id0d = Array(0x5f, 0x91, 0xff, 0xf2, 0x00, 0x88, 0x13,
      0x5f, 0x30, 0x24, 0xd1, 0x0f, 0x28, 0x31, 0xc6, 0xfa).map(_.toByte)
    val od = Array(0xE6, 0x00, 0xEC, 0xC2, 0x02, 0x88, 0xAD, 0x8B,
      0x0d, 0x64, 0xA9, 0x29, 0xC6, 0xA8, 0x3E, 0xE2, 0x51,
      0x76, 0x79, 0xAA, 0x02, 0x18, 0xBE, 0xCE, 0xEA, 0x8B, 0x79, 0x86,
      0x72, 0x6A, 0x8C, 0xDB).map(_.toByte)
    val ud = Array(0xED, 0x5B, 0xA7, 0x76, 0xFD, 0xD8, 0xE3, 0x89,
      0x4F, 0x54, 0x05, 0xC1, 0x3B, 0xFD, 0x86, 0xCF, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00).map(_.toByte)
    val crypt = new PdfCrypt(v = 2, r = 3, length = 128, o = od, u = ud,
      oe = null, ue = null, permsBytes = null, p = -3904, encryptMetadata = true,
      id0 = id0d, cryptFilters = Map("StdCF" -> PdfCrypt.FilterDef("V2", 128),
        "Identity" -> PdfCrypt.FilterDef("", 0)),
      stringFilter = "Identity", streamFilter = "Identity")
    val streamData = Array(0xBC, 0x89, 0x86, 0x8B, 0x3E, 0xCF, 0x24, 0x1C,
      0xC4, 0x88, 0xF3, 0x60, 0x74, 0x8A, 0x22, 0xE3, 0xAD, 0xF4, 0x48,
      0x8E, 0x20, 0x94, 0x06, 0x4B, 0x4B, 0xB5, 0x3E, 0x93, 0x89, 0x4E,
      0x32, 0x38, 0xB4, 0xF6, 0x05, 0x3C, 0x5D, 0x0C, 0x12, 0xE4, 0xEB,
      0x9B, 0x8D, 0x26, 0x32, 0x7B, 0x09, 0x97, 0xA1, 0xC5, 0x98, 0xF6,
      0xE7, 0x1C, 0x3B).map(_.toByte)
    val raw = new java.io.ByteArrayOutputStream()
    raw.write("2 0 obj\n<< /Length 55 >>\nstream\n".getBytes(ISO_8859_1))
    raw.write(streamData)
    raw.write("\nendstream\n".getBytes(ISO_8859_1))
    val parser = new PdfFileParser(raw.toByteArray)
    val so = parser.parseIndirectObject().asInstanceOf[PdfStream]
    assert(crypt.authenticate(Array.emptyByteArray))
    crypt.decrypt(so, 0, 0)
    val exp = "  BT\n    /F1 18 Tf\n    0 0 Td\n    (Hello World) Tj\n  ET"
    assert(new String(so.raw, ISO_8859_1) == exp)
  }
}

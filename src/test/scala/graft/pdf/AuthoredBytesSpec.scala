package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.PagesGen

/** Byte pins for everything the library authors: every `PagesGen` payload
  * variant (the x10 corpus and the benchmark inputs are built from them)
  * and `PdfWriter.rewrite` with no encryption, RC4 and AESV2. The digests
  * are SHA-256 over the exact output bytes, so any change to the key
  * schedule, a fixture or the writer's serialization shows up here first.
  */
class AuthoredBytesSpec extends AnyFunSuite {

  private val docs = Seq(7L -> "Hello World",
    1234567L -> "The quick brown fox (jumps) over \\ the lazy dog\nline 2")

  private def sha256(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def check(actual: Seq[(String, String)], expected: Seq[(String, String)]): Unit =
    assert(actual == expected,
      actual.map { case (k, d) => s"""  "$k" -> "$d",""" }.mkString("\nactual:\n", "\n", ""))

  test("PagesGen.payloadFor bytes are pinned for every PDF variant") {
    val actual = (0 until PagesGen.PdfVariants).map { v =>
      s"v$v" -> sha256(docs.map { case (id, text) => PagesGen.payloadFor(id, text, v) })
    }
    check(actual, ExpectedPayloads)
  }

  test("PdfWriter.rewrite bytes are pinned: clear, RC4 and AESV2") {
    import PdfWriter.WriterEncrypt
    val src = PagesGen.payloadFor(99L, "rewrite pin", 0)
    val encrypted = PagesGen.payloadFor(99L, "rewrite pin", 5)
    def enc(aes: Boolean) = Some(WriterEncrypt(userPass = "u5er".getBytes(ISO_8859_1),
      ownerPass = "own3r".getBytes(ISO_8859_1), aes = aes, seed = "pin"))
    val actual = Seq(
      "clear" -> sha256(Seq(PdfWriter.rewrite(src))),
      "rc4" -> sha256(Seq(PdfWriter.rewrite(src, Nil, enc(aes = false)))),
      "aesv2" -> sha256(Seq(PdfWriter.rewrite(src, Nil, enc(aes = true)))),
      "decrypted" -> sha256(Seq(PdfWriter.rewrite(encrypted))))
    check(actual, ExpectedRewrites)
  }

  // Captured from the code before the key schedule was shared between the
  // reader and the writer; the bytes must not move.
  private val ExpectedPayloads: Seq[(String, String)] = Seq(
    "v0" -> "c28c2b33d0a620518d6be042121b0ab0bad137387bb9c83687b3d30c2c9fd524",
    "v1" -> "9bda1eaba632b8e8d59b57c90c418aff80c2798c533219206b968043ffea77b6",
    "v2" -> "19ce1ebe6a15d0334f552e7b3c98189ffd4bab9930d32edac4b271277320b3d0",
    "v3" -> "3fb94a367745f0cd8f37343fd8f965ca56a8a5d8bb978fc0911779122518e769",
    "v4" -> "564bc55f4df325a4d39b8af000d7519f164c2d489e6e05b644ae0fe282edfa9f",
    "v5" -> "647d41378e55dcf42d3eaa73aa6bcad5479e5b65a278354d62a82cf5da27858c",
    "v6" -> "6393450439d30ab86efdee7231dacf99a637b8228ad5fc073ed372465d1b0ad0",
    "v7" -> "ad94995f89c1c1074d0fe17857f3691f69ea2048a876e02d2e000a065051a9d0",
    "v8" -> "fd216cdb9843356c4386aa26259270a09b4d8a3d960f17cb30e89d9a89161362",
    "v9" -> "dbac54b2dc04a26f84b1b8af63127738e1b1cb0289d1d9acca4e4a4fff9291a2",
    "v10" -> "9b96fd6d2fd862a78577feab40f5489789aae3861eec793ec6bd66fa8bfe3717",
    "v11" -> "a1da15eb5ff1c6762d5643330fdc951bc5b6e2361f4b88161798084e23085dff",
    "v12" -> "228bfc507c9163d82c86e9ae24004b0ce7cc32cc21b02d9cd63830af6e083f68",
    "v13" -> "f6490defe3ac090e84a3adfa9776f0a9b181d2e8b2e05afe7b455f0f47063cd0",
    "v14" -> "aedac5af0c5c40baef0e3c98dda6f600e54c867e70f2adb7e4ff2228a6e6179d",
    "v15" -> "48290f06d7451de9ca2195fa1bac32e8daa111c5277ca729ca1cf261a1299f27",
    "v16" -> "c4ba59faa319d8faf74e69f8a906c37f5d7bce74494681e653af32d23ef04be1",
    "v17" -> "d1684ba7c8805dd66637fd45cd9496229ce782e80f497346b3f979919b633dd2",
    "v18" -> "4c31599232c89661b17dba59987ba643e2af5edc0e732e85befff1fb64b9bafb",
    "v19" -> "3059c854ea8a8576191b684c5c70e35142d7cf3cebb1ae3eeecaaa56295fa30b",
    "v20" -> "66f3c65cb6725087c91e4e6db42bf18a346e444df2b9bc6041c4e9ae954b8333",
    "v21" -> "cbf95ae5e7bab8d7733cae0b135495beedaa9095d337681c8b3396ffefd72fe2",
    "v22" -> "ba50155820914a2a77f718f050ebce9eba37ddc99ae40931165f7bd6fc57d039",
    "v23" -> "5bd675077985d94fa78714ec0336749434f436b447465e73250c7d1071b77f23")

  private val ExpectedRewrites: Seq[(String, String)] = Seq(
    "clear" -> "7d7e80663609dbfb67400520e7359280428491f2d08057ec6f0b69abfbe5fbb7",
    "rc4" -> "928e35fc167c0d11ff0a072e66616b0205f598b5124f190657d7a38b5488f873",
    "aesv2" -> "3cac6c410c4cba6e3371816d4916baf01a4b5ebb7d9ab5b0bc4ece63843bbc6d",
    "decrypted" -> "7d7e80663609dbfb67400520e7359280428491f2d08057ec6f0b69abfbe5fbb7")
}

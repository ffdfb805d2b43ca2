package graft.pdf

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import PdfCrypt.{fileKey, ownerKey, padded, rc4, rc4Chain, userValue}

/** WRITE direction of the PDF standard security handler: the credentials
  * and ciphers PdfWriter.writeFileEncrypted and the crypt fixture builders
  * encrypt with. The key schedule itself is the reader's (PdfCrypt's
  * companion object); only the steps that run in the writing direction
  * live here, so every authored document authenticates through
  * PdfCrypt.authenticate by construction.
  */
object PdfEncrypt {

  /** (O, U, file key) for an R2-R4 document, in writer.go's order: the O
    * value by Algorithm 3 (the owner key's RC4 over padded(upass)), the
    * file key by Algorithm 2 over that O, and the U value by Algorithm 4
    * (R2) or 5 (R>=3). Per-object keys come from PdfCrypt.objectKey.
    */
  def credentials(upass: Array[Byte], opass: Array[Byte], p: Int, id0: Array[Byte],
                  r: Int, lengthBits: Int,
                  encryptMetadata: Boolean = true): (Array[Byte], Array[Byte], Array[Byte]) = {
    val okey = ownerKey(opass, r, lengthBits)
    val o =
      if (r == 2) rc4(okey, padded(upass))
      else rc4Chain(okey, padded(upass))
    val key = fileKey(upass, o, p, id0, r, lengthBits, encryptMetadata)
    (o, userValue(key, id0, r), key)
  }

  /** AES-128-CBC encrypt with explicit IV prepended + PKCS#5 padding (the
    * layout aesCbcDecrypt strips).
    */
  def aesEncrypt(okey: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = CryptoPool.aesCbcPkcs5()
    cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(okey, "AES"), new IvParameterSpec(iv))
    val body = cipher.doFinal(data)
    val out = new Array[Byte](16 + body.length)
    System.arraycopy(iv, 0, out, 0, 16)
    System.arraycopy(body, 0, out, 16, body.length)
    out
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  // ------------------------------------------------------------- R6 (AESV3)

  /** R6 credential material for one password set: (U, UE, O, OE, Perms).
    * Forward direction of algorithms 8/9/10 (ISO 32000-2), built on the
    * kernel's alg2bR6 hash so authenticate() accepts it:
    *  - U  = alg2b(upass + vsalt)(32) ++ vsalt(8) ++ ksalt(8)
    *  - UE = AES-256-CBC-NoPad(key = alg2b(upass + ksalt), iv 0, fileKey)
    *  - O  = alg2b(opass + vsalt' + U)(32) ++ vsalt'(8) ++ ksalt'(8)
    *  - OE = AES-256-CBC-NoPad(key = alg2b(opass + ksalt' + U), iv 0, fileKey)
    *  - Perms = AES-256-ECB(fileKey, [P LE32 | ff*4 | 'T'/'F' | adb | seed])
    */
  def r6Credentials(upass: Array[Byte], opass: Array[Byte], fileKey: Array[Byte],
                    p: Int, encryptMetadata: Boolean,
                    saltSeed: Array[Byte]): (Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    import PdfCrypt.alg2bR6
    require(fileKey.length == 32)
    def aesNoPad(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val c = CryptoPool.aesCbcNoPad()
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
      c.doFinal(data)
    }
    val salts = CryptoPool.sha256().digest(saltSeed) // 32 deterministic bytes
    val uv = java.util.Arrays.copyOfRange(salts, 0, 8)   // user validation salt
    val uk = java.util.Arrays.copyOfRange(salts, 8, 16)  // user key salt
    val ov = java.util.Arrays.copyOfRange(salts, 16, 24) // owner validation salt
    val ok = java.util.Arrays.copyOfRange(salts, 24, 32) // owner key salt
    val uHash = java.util.Arrays.copyOf(alg2bR6(upass ++ uv, upass, Array.emptyByteArray), 32)
    val u = uHash ++ uv ++ uk // 48 bytes
    val ue = aesNoPad(java.util.Arrays.copyOf(alg2bR6(upass ++ uk, upass, Array.emptyByteArray), 32),
      new Array[Byte](16), fileKey)
    val oHash = java.util.Arrays.copyOf(alg2bR6(opass ++ ov ++ u, opass, u), 32)
    val o = oHash ++ ov ++ ok // 48 bytes
    val oe = aesNoPad(java.util.Arrays.copyOf(alg2bR6(opass ++ ok ++ u, opass, u), 32),
      new Array[Byte](16), fileKey)
    val perms = new Array[Byte](16)
    var i = 0
    while (i < 4) { perms(i) = ((p >> (8 * i)) & 0xff).toByte; i += 1 }
    perms(4) = 0xff.toByte; perms(5) = 0xff.toByte; perms(6) = 0xff.toByte; perms(7) = 0xff.toByte
    perms(8) = (if (encryptMetadata) 'T' else 'F').toByte
    perms(9) = 'a'; perms(10) = 'd'; perms(11) = 'b'
    System.arraycopy(salts, 0, perms, 12, 4) // random-ish tail
    val ecb = CryptoPool.aesEcbNoPad()
    ecb.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(fileKey, "AES"))
    val permsEnc = ecb.doFinal(perms)
    (u, ue, o, oe, permsEnc)
  }
}

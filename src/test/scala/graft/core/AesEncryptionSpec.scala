package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** AES-128 (V4/R4, AESV2) decryption: the fixture corpus only covers RC4
  * (encrypted.pdf, V2/R3), so this spec encrypts a minimal PDF itself —
  * with an independently-written encryptor (javax.crypto + the §7.6.2/3
  * algorithms spelled out from the spec) — and requires the loader to
  * authenticate + decrypt it. */
class AesEncryptionSpec extends AnyFunSuite {

  private val PadBytes: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }
  private def pad(pwd: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    val n = math.min(32, pwd.length)
    System.arraycopy(pwd, 0, out, 0, n)
    System.arraycopy(PadBytes, 0, out, n, 32 - n)
    out
  }
  private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("RC4")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE, new javax.crypto.spec.SecretKeySpec(key, "RC4"))
    c.doFinal(data)
  }

  /** Build an AES-V4/R4 PDF; `encDictOf(o, u, p)` renders the /Encrypt dict
    * (so tests can vary /Length and /StrF), `infoTitlePlain` optionally adds
    * an Info dict whose /Title string is left PLAINTEXT (for StrF=Identity). */
  private def buildAesV4(encDictOf: (String, String, Int) => String,
                         infoTitlePlain: Option[String] = None): Array[Byte] = {
    val userPwd = "aes_user".getBytes("ISO-8859-1")
    val ownerPwd = "aes_owner".getBytes("ISO-8859-1")
    val id = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    val p = -3904
    val keyLen = 16

    var okey = md5(pad(ownerPwd))
    (0 until 50).foreach(_ => okey = md5(okey))
    val rc4Key = okey.take(keyLen)
    var o = rc4(rc4Key, pad(userPwd))
    (1 to 19).foreach(i => o = rc4(rc4Key.map(b => (b ^ i).toByte), o))

    val pBytes = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte, ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
    var key = md5(pad(userPwd), o, pBytes, id)
    (0 until 50).foreach(_ => key = md5(key.take(keyLen)))
    val fileKey = key.take(keyLen)

    var u = md5(PadBytes, id)
    u = rc4(fileKey, u)
    (1 to 19).foreach(i => u = rc4(fileKey.map(b => (b ^ i).toByte), u))
    val uFull = u ++ Array.fill[Byte](16)(0)

    def aesEncrypt(data: Array[Byte], num: Int, gen: Int): Array[Byte] = {
      val ext = fileKey ++ Array(
        (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
        (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte,
        0x73.toByte, 0x41.toByte, 0x6c.toByte, 0x54.toByte)
      val objKey = md5(ext).take(16)
      val iv = Array.tabulate[Byte](16)(i => (i * 7 + num).toByte)
      val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(objKey, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      iv ++ cipher.doFinal(data)
    }

    val content = "BT /F1 12 Tf 1 0 0 1 100 700 Tm (AES Secret) Tj ET"
    val encContent = aesEncrypt(content.getBytes("ISO-8859-1"), 5, 0)
    def hex(b: Array[Byte]) = b.map(x => f"$x%02X").mkString

    val baseObjs = Vector(
      "<</Type/Catalog/Pages 2 0 R>>".getBytes("ISO-8859-1"),
      "<</Type/Pages/Kids[3 0 R]/Count 1>>".getBytes("ISO-8859-1"),
      "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>".getBytes("ISO-8859-1"),
      "<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>".getBytes("ISO-8859-1"),
      (s"<</Length ${encContent.length}>>\nstream\n".getBytes("ISO-8859-1") ++ encContent ++ "\nendstream".getBytes("ISO-8859-1")),
      encDictOf(hex(o), hex(uFull), p).getBytes("ISO-8859-1"))
    val objs = infoTitlePlain match {
      case Some(title) => baseObjs :+ s"<</Title($title)/Producer(graft)>>".getBytes("ISO-8859-1")
      case None => baseObjs
    }

    val out = new java.io.ByteArrayOutputStream()
    def wr(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    wr("%PDF-1.6\n")
    val offsets = Vector.newBuilder[Int]
    objs.zipWithIndex.foreach { case (body, i) =>
      offsets += out.size()
      wr(s"${i + 1} 0 obj\n"); out.write(body); wr("\nendobj\n")
    }
    val xrefAt = out.size()
    wr(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n")
    offsets.result().foreach(oo => wr(f"$oo%010d 00000 n \n"))
    val infoRef = if (infoTitlePlain.isDefined) "/Info 7 0 R" else ""
    wr(s"trailer\n<</Size ${objs.length + 1}/Root 1 0 R/Encrypt 6 0 R$infoRef/ID[<${hex(id)}><${hex(id)}>]>>\nstartxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  test("AESV2 WITHOUT top-level /Length: key length comes from the CF dict (CFM)") {
    // regression for the 5-byte-key bug: /Length defaults to 40 bits, but
    // the AESV2 crypt filter dictates a 16-byte key
    val pdf = buildAesV4((o, u, p) =>
      s"<</Filter/Standard/V 4/R 4/P $p/O <$o>/U <$u>" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen>>>>/StmF/StdCF/StrF/StdCF>>")
    val r = Extract.extractText(pdf, "aes_user")
    assert(r.ok, s"${r.errCode} ${r.errMsg}")
    assert(r.pages.head.text == "AES Secret", s"got: [${r.pages.head.text}]")
  }

  test("an AES document extracts exactly the text of its unencrypted original") {
    // the loader returns its validating probe only for unencrypted documents;
    // an encrypted one must still get a decrypting document
    val pdf = buildAesV4((o, u, p) =>
      s"<</Filter/Standard/V 4/R 4/Length 128/P $p/O <$o>/U <$u>" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>/StmF/StdCF/StrF/StdCF>>")
    val original = Extract.extractText(SynthPdf.onePage("BT /F1 12 Tf 1 0 0 1 100 700 Tm (AES Secret) Tj ET"))
    assert(original.ok && original.pages.map(_.text) == Vector("AES Secret"))
    assert(Extract.extractText(pdf, "aes_user") == original)
  }

  test("StrF=Identity leaves strings plaintext while StmF=AESV2 decrypts streams") {
    val pdf = buildAesV4((o, u, p) =>
      s"<</Filter/Standard/V 4/R 4/P $p/O <$o>/U <$u>" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>/StmF/StdCF/StrF/Identity>>",
      infoTitlePlain = Some("Plain Title"))
    val doc = PdfDocument.load(pdf, "aes_user").toOption.get
    assert(doc.page(0).textPage.text == "AES Secret")
    assert(doc.metadata().getOrElse("Title", "") == "Plain Title")
  }

  test("AES-V4/R4 (AESV2) document round trip through the loader") {
    val userPwd = "aes_user".getBytes("ISO-8859-1")
    val ownerPwd = "aes_owner".getBytes("ISO-8859-1")
    val id = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    val p = -3904 // permissions
    val keyLen = 16

    // Algorithm 3: O entry
    var okey = md5(pad(ownerPwd))
    (0 until 50).foreach(_ => okey = md5(okey))
    val rc4Key = okey.take(keyLen)
    var o = rc4(rc4Key, pad(userPwd))
    (1 to 19).foreach { i =>
      o = rc4(rc4Key.map(b => (b ^ i).toByte), o)
    }

    // Algorithm 2: file key (R4, metadata encrypted)
    val pBytes = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte, ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
    var key = md5(pad(userPwd), o, pBytes, id)
    (0 until 50).foreach(_ => key = md5(key.take(keyLen)))
    val fileKey = key.take(keyLen)

    // Algorithm 5: U entry (R>=3)
    var u = md5(PadBytes, id)
    u = rc4(fileKey, u)
    (1 to 19).foreach { i =>
      u = rc4(fileKey.map(b => (b ^ i).toByte), u)
    }
    val uFull = u ++ Array.fill[Byte](16)(0)

    // AES-CBC encrypt of a stream for object (num, gen): key = md5(fk+num+gen+sAlT)
    def aesEncrypt(data: Array[Byte], num: Int, gen: Int): Array[Byte] = {
      val ext = fileKey ++ Array(
        (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
        (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte,
        0x73.toByte, 0x41.toByte, 0x6c.toByte, 0x54.toByte)
      val objKey = md5(ext).take(16)
      val iv = Array.tabulate[Byte](16)(i => (i * 7 + num).toByte)
      val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(objKey, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      iv ++ cipher.doFinal(data)
    }

    val content = "BT /F1 12 Tf 1 0 0 1 100 700 Tm (AES Secret) Tj ET"
    val encContent = aesEncrypt(content.getBytes("ISO-8859-1"), 5, 0)

    def hex(b: Array[Byte]) = b.map(x => f"$x%02X").mkString
    val objs = Vector(
      "<</Type/Catalog/Pages 2 0 R>>".getBytes("ISO-8859-1"),
      "<</Type/Pages/Kids[3 0 R]/Count 1>>".getBytes("ISO-8859-1"),
      "<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>".getBytes("ISO-8859-1"),
      "<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>".getBytes("ISO-8859-1"),
      (s"<</Length ${encContent.length}>>\nstream\n".getBytes("ISO-8859-1") ++ encContent ++ "\nendstream".getBytes("ISO-8859-1")),
      (s"<</Filter/Standard/V 4/R 4/Length 128/P $p" +
        s"/O <${hex(o)}>/U <${hex(uFull)}>" +
        "/CF<</StdCF<</CFM/AESV2/AuthEvent/DocOpen/Length 16>>>>/StmF/StdCF/StrF/StdCF>>").getBytes("ISO-8859-1"))

    // assemble with trailer carrying /Encrypt + /ID
    val out = new java.io.ByteArrayOutputStream()
    def wr(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    wr("%PDF-1.6\n")
    val offsets = Vector.newBuilder[Int]
    objs.zipWithIndex.foreach { case (body, i) =>
      offsets += out.size()
      wr(s"${i + 1} 0 obj\n"); out.write(body); wr("\nendobj\n")
    }
    val xrefAt = out.size()
    wr(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n")
    offsets.result().foreach(oo => wr(f"$oo%010d 00000 n \n"))
    wr(s"trailer\n<</Size ${objs.length + 1}/Root 1 0 R/Encrypt 6 0 R/ID[<${hex(id)}><${hex(id)}>]>>\nstartxref\n$xrefAt\n%%EOF\n")
    val pdf = out.toByteArray

    val rUser = Extract.extractText(pdf, "aes_user")
    assert(rUser.ok, s"${rUser.errCode} ${rUser.errMsg}")
    assert(rUser.pages.head.text == "AES Secret", s"got: [${rUser.pages.head.text}]")
    val rOwner = Extract.extractText(pdf, "aes_owner")
    assert(rOwner.ok && rOwner.pages.head.text == "AES Secret")
    val rBad = Extract.extractText(pdf, "nope")
    assert(!rBad.ok && rBad.errCode == ErrCodes.Password)
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.{FileIngest, PdfText, PdfTextDecoder}

/** Fixture PDFs are built by hand (the minimal page-tree skeleton with
  * a content stream) — one uncompressed, one FlateDecode — so the spec
  * exercises both stream paths offline. */
class PdfTextSpec extends SparkSpec {
  import spark.implicits._

  /** A syntactically complete single-page PDF around `content`. */
  private def pdf(content: Array[Byte], flate: Boolean): Array[Byte] = {
    val filter = if (flate) " /Filter /FlateDecode" else ""
    val head =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj
         |4 0 obj << /Length ${content.length}$filter >>
         |stream
         |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1)
    val tail = "\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1)
    head ++ content ++ tail
  }

  private def deflate(s: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(s.getBytes(StandardCharsets.ISO_8859_1)); d.finish()
    val buf = new Array[Byte](8192)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private val contentStream =
    """BT
      |/F1 12 Tf
      |72 720 Td (Hello PDF world) Tj
      |0 -14 Td [(kerned) -250 (array)] TJ
      |0 -14 Td (escaped \(parens\) and \\ backslash \101) Tj
      |0 -14 Td <48657820737472696E67> Tj
      |ET""".stripMargin

  test("uncompressed content stream: Tj, TJ arrays, escapes, hex strings") {
    val text = PdfText.extract(pdf(contentStream.getBytes(StandardCharsets.ISO_8859_1),
      flate = false)).get
    assert(text.contains("Hello PDF world"))
    assert(text.contains("kernedarray")) // TJ parts concatenate
    assert(text.contains("escaped (parens) and \\ backslash A")) // \101 octal = A
    assert(text.contains("Hex string"))
    // Td line moves became newlines (chunker sees paragraph boundaries)
    assert(text.linesIterator.size >= 4)
  }

  test("FlateDecode content stream inflates and extracts the same text") {
    val text = PdfText.extract(pdf(deflate(contentStream), flate = true)).get
    assert(text.contains("Hello PDF world") && text.contains("Hex string"))
  }

  test("a nested dict (DecodeParms) cannot hide the stream's filter") {
    // /Filter sits in the OUTER dict; a naive lastIndexOf("<<") would
    // find the inner /DecodeParms dict and mis-read the deflate bytes
    // as plain text.
    val content = deflate("BT (Nested dict text) Tj ET")
    val raw = new String(pdf(content, flate = true), StandardCharsets.ISO_8859_1)
      .replace("/Filter /FlateDecode",
        "/Filter /FlateDecode /DecodeParms << /Columns 4 >>")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(raw).get.contains("Nested dict text"))
  }

  test("non-PDF, image-filter, and corrupt-deflate inputs are skipped, not thrown") {
    assert(PdfText.extract("not a pdf at all".getBytes).isEmpty)
    // DCTDecode (JPEG) stream: unsupported filter -> no text, no crash
    val jpeg = pdf("ÿØÿ junk".getBytes(StandardCharsets.ISO_8859_1), flate = false)
    val asJpeg = new String(jpeg, StandardCharsets.ISO_8859_1)
      .replace("/Length", "/Filter /DCTDecode /Length")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(asJpeg).isEmpty)
    // flate flag set but garbage bytes -> DataFormatException swallowed
    assert(PdfText.extract(pdf("garbage not deflate".getBytes, flate = true)).isEmpty)
  }

  /** A two-font PDF: /F1 is an Identity-H composite font with a
    * ToUnicode CMap (in a flate or plain stream), /F2 has none. */
  private def compositePdf(content: String, cmap: String,
                           flateCmap: Boolean): Array[Byte] = {
    val cb = content.getBytes(StandardCharsets.ISO_8859_1)
    val mb = if (flateCmap) deflate(cmap) else cmap.getBytes(StandardCharsets.ISO_8859_1)
    val mf = if (flateCmap) " /Filter /FlateDecode" else ""
    val head =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> /Contents 4 0 R >> endobj
         |5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Fake /Encoding /Identity-H /ToUnicode 6 0 R >> endobj
         |7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj
         |6 0 obj << /Length ${mb.length}$mf >>
         |stream
         |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1) ++ mb ++
        "\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1)
    val body =
      s"""4 0 obj << /Length ${cb.length} >>
         |stream
         |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1) ++ cb ++
        "\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1)
    head ++ body
  }

  private val toUnicodeCmap =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin begincmap
      |1 begincodespacerange <0000> <FFFF> endcodespacerange
      |3 beginbfchar
      |<0001> <041F>
      |<0002> <0440>
      |<0007> <00470072>
      |endbfchar
      |2 beginbfrange
      |<0010> <0019> <0030>
      |<0020> <0022> [<0058> <0059> <005A>]
      |endbfrange
      |endcmap end end""".stripMargin

  test("Identity-H + ToUnicode CMap: CIDs decode to Unicode (r6 VERDICT #8)") {
    // <0001><0002> -> Пр (bfchar), <0007> -> Gr (multi-char target),
    // <001000110019> -> 019 (bfrange increment), <002000210022> -> XYZ
    // (bfrange array form); the /F2 string must stay Latin-1.
    val content =
      """BT
        |/F1 12 Tf <00010002> Tj
        |0 -14 Td <0007> Tj
        |0 -14 Td <001000110019> Tj
        |0 -14 Td <002000210022> Tj
        |0 -14 Td /F2 12 Tf (plain latin) Tj
        |ET""".stripMargin
    for (flateCmap <- Seq(false, true)) {
      val text = PdfText.extract(compositePdf(content, toUnicodeCmap, flateCmap)).get
      val lines = text.linesIterator.toSeq
      assert(lines.contains("Пр"), s"got: $lines") // Пр
      assert(lines.contains("Gr"))
      assert(lines.contains("019"))
      assert(lines.contains("XYZ"))
      assert(lines.contains("plain latin")) // font switch back works
    }
  }

  test("ToUnicode literal strings and unmapped CIDs: decoded vs dropped") {
    // literal-string bytes under a CMapped font are 2-byte CIDs too
    // (octal escapes = CIDs 0001 0002); an unmapped CID (0999) is
    // dropped, never emitted as Latin-1 garbage
    val content =
      "BT /F1 12 Tf (\\000\\001\\000\\002) Tj 0 -14 Td <0999> Tj 0 -14 Td <0001> Tj ET"
    val text = PdfText.extract(compositePdf(content, toUnicodeCmap, flateCmap = false)).get
    assert(text.linesIterator.toSeq == Seq("Пр", "П"))
  }

  test("font dicts inside a compressed /ObjStm still resolve ToUnicode (PDF 1.5)") {
    // Writers since PDF 1.5 put page/font/resource DICTS in compressed
    // object streams; only the content stream and the CMap stream stay
    // top-level. Without ObjStm expansion the font scan never sees
    // /ToUnicode and CIDs are dropped.
    val content = "BT /F1 12 Tf <00010002> Tj ET"
    val cb = content.getBytes(StandardCharsets.ISO_8859_1)
    // objects 3 (page w/ font resources) and 5 (the Type0 font) live in
    // the ObjStm; 6 is the CMap stream, 4 the content stream.
    val obj3 = "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    val obj5 = "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode 6 0 R >>"
    val header = s"3 0 5 ${obj3.length + 1}"
    val first = header.length + 1
    val stmBody = s"$header\n$obj3 $obj5"
    val stm = deflate(stmBody)
    val mb = toUnicodeCmap.getBytes(StandardCharsets.ISO_8859_1)
    val doc =
      (s"""%PDF-1.5
          |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
          |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
          |8 0 obj << /Type /ObjStm /N 2 /First $first /Length ${stm.length} /Filter /FlateDecode >>
          |stream
          |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1) ++ stm ++
        "\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1) ++
        s"""6 0 obj << /Length ${mb.length} >>
           |stream
           |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1) ++ mb ++
        "\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1) ++
        s"""4 0 obj << /Length ${cb.length} >>
           |stream
           |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1) ++ cb ++
        "\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    val text = PdfText.extract(doc)
    assert(text.contains("Пр"), s"got $text")
  }

  // ---- encrypted PDFs (standard security handler, empty user password) ----

  import graft.sources.PdfCrypt

  private val fileId: Array[Byte] =
    Array.tabulate(16)(i => (i * 17 + 3).toByte)
  private val oEntry: Array[Byte] = Array.tabulate(32)(i => (i * 7 + 1).toByte)
  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xFF}%02X").mkString

  /** AES-CBC encrypt a PDF crypt payload: PKCS#5 padding, 16-byte IV
    * prefix (the inverse of `PdfCrypt`'s decrypt). */
  private def aesEncrypt(key: Array[Byte], iv: Array[Byte],
                         plain: Array[Byte]): Array[Byte] = {
    import javax.crypto.Cipher
    import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
    val pad = 16 - (plain.length % 16)
    val padded = plain ++ Array.fill(pad)(pad.toByte)
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    iv ++ c.doFinal(padded)
  }

  /** A complete single-page PDF whose content stream (object 4) holds
    * `payload` and whose trailer carries the given /Encrypt dict. */
  private def encryptedPdf(payload: Array[Byte], encDict: String): Array[Byte] = {
    val head =
      s"""%PDF-1.6
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj
         |4 0 obj << /Length ${payload.length} >>
         |stream
         |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1)
    val tail =
      s"""
         |endstream
         |endobj
         |5 0 obj $encDict endobj
         |trailer << /Root 1 0 R /Encrypt 5 0 R /ID [<${hex(fileId)}> <${hex(fileId)}>] >>
         |%%EOF
         |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1)
    head ++ payload ++ tail
  }

  test("RC4 R3 (128-bit) encrypted PDF decrypts and extracts (empty user password)") {
    val key = PdfCrypt.fileKeyR234(3, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(3, key, fileId)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT /F1 12 Tf (RC4 secret text) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val dict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    val text = PdfText.extract(encryptedPdf(payload, dict))
    assert(text.exists(_.contains("RC4 secret text")))
  }

  test("RC4 R2 (40-bit) encrypted PDF decrypts and extracts") {
    val key = PdfCrypt.fileKeyR234(2, 5, oEntry, -1, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(2, key, fileId)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT (forty bit rc4) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val dict = s"<< /Filter /Standard /V 1 /R 2 /P -1 " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    assert(PdfText.extract(encryptedPdf(payload, dict)).exists(_.contains("forty bit rc4")))
  }

  test("AES-128 /AESV2 (R4) encrypted PDF decrypts and extracts") {
    val key = PdfCrypt.fileKeyR234(4, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(4, key, fileId)
    val iv = Array.tabulate(16)(i => (i * 31 + 5).toByte)
    val payload = aesEncrypt(
      PdfCrypt.objectKey(key, 4, 0, aes = true), iv,
      "BT /F1 12 Tf (AES sealed words) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val dict = s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44 " +
      s"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >> /StmF /StdCF /StrF /StdCF " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    assert(PdfText.extract(encryptedPdf(payload, dict)).exists(_.contains("AES sealed words")))
  }

  test("AES-256 /AESV3 (R6) encrypted PDF decrypts and extracts") {
    val fileKey = Array.tabulate(32)(i => (i * 13 + 7).toByte)
    val vSalt = Array.tabulate(8)(i => (i + 40).toByte)
    val kSalt = Array.tabulate(8)(i => (i + 80).toByte)
    val uEntry = PdfCrypt.hash2B(Array.emptyByteArray, vSalt) ++ vSalt ++ kSalt
    val ik = PdfCrypt.hash2B(Array.emptyByteArray, kSalt)
    // UE = AES-256-CBC(ik, IV=0, fileKey), no padding: reuse the test
    // encryptor and strip its IV prefix + the one padding block.
    val ue = aesEncrypt(ik, new Array[Byte](16), fileKey)
      .slice(16, 48)
    val iv = Array.tabulate(16)(i => (i * 29 + 11).toByte)
    val payload = aesEncrypt(fileKey, iv,
      "BT /F1 12 Tf (PDF twenty secret) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val oEntry48 = Array.tabulate(48)(i => (i * 3 + 2).toByte)
    val dict = s"<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44 " +
      s"/CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/O <${hex(oEntry48)}> /U <${hex(uEntry)}> /UE <${hex(ue)}> >>"
    assert(PdfText.extract(encryptedPdf(payload, dict)).exists(_.contains("PDF twenty secret")))
  }

  test("V4 container with RC4 crypt filter (/CFM /V2) decrypts and extracts") {
    // R4 is a container revision: the crypt filter can still be RC4
    // (/V2) rather than AES — per-object keys then omit the sAlT bytes.
    val key = PdfCrypt.fileKeyR234(4, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(4, key, fileId)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT (v4 rc4 filter) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val dict = s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44 " +
      s"/CF << /StdCF << /CFM /V2 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    assert(PdfText.extract(encryptedPdf(payload, dict)).exists(_.contains("v4 rc4 filter")))
  }

  test("V4 dict with /StmF /Identity passes plaintext streams through (r8 ADVICE)") {
    // Identity crypt filter for streams: the payload is NOT ciphertext.
    // Decrypting it would garble every stream — the document must pass
    // through untouched and extract as plaintext.
    val key = PdfCrypt.fileKeyR234(4, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(4, key, fileId)
    val payload = "BT (identity stmf plaintext) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    val dict = s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44 " +
      s"/CF << /StdCF << /CFM /AESV2 >> >> /StmF /Identity /StrF /StdCF " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    assert(PdfText.extract(encryptedPdf(payload, dict)).exists(_.contains("identity stmf plaintext")))
  }

  test("a genuinely password-protected PDF (bad /U) is skipped, not garbled") {
    val key = PdfCrypt.fileKeyR234(3, 16, oEntry, -44, fileId, encryptMetadata = true)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT (locked) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    // /U does not match the empty-password derivation -> a real password
    val badU = Array.fill(32)(0x55.toByte)
    val dict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 " +
      s"/O <${hex(oEntry)}> /U <${hex(badU)}> >>"
    assert(PdfText.extract(encryptedPdf(payload, dict)).isEmpty)
  }

  test("R6 dict with /UE listed before /U still authenticates (key order varies)") {
    val fileKey = Array.tabulate(32)(i => (i * 13 + 7).toByte)
    val vSalt = Array.tabulate(8)(i => (i + 40).toByte)
    val kSalt = Array.tabulate(8)(i => (i + 80).toByte)
    val uEntry = PdfCrypt.hash2B(Array.emptyByteArray, vSalt) ++ vSalt ++ kSalt
    val ik = PdfCrypt.hash2B(Array.emptyByteArray, kSalt)
    val ue = aesEncrypt(ik, new Array[Byte](16), fileKey).slice(16, 48)
    val iv = Array.tabulate(16)(i => (i * 29 + 11).toByte)
    val payload = aesEncrypt(fileKey, iv,
      "BT (ue first ordering) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val oEntry48 = Array.tabulate(48)(i => (i * 3 + 2).toByte)
    val dict = s"<< /Filter /Standard /V 5 /R 6 /Length 256 " +
      s"/UE <${hex(ue)}> /U <${hex(uEntry)}> /O <${hex(oEntry48)}> >>" // UE before U
    assert(PdfText.extract(encryptedPdf(payload, dict)).exists(_.contains("ue first ordering")))
  }

  test("an unencrypted PDF merely MENTIONING /Encrypt n g R still extracts") {
    val content = "BT (see /Encrypt 9 0 R for details) Tj ET"
    val text = PdfText.extract(pdf(content.getBytes(StandardCharsets.ISO_8859_1), flate = false))
    assert(text.exists(_.contains("see /Encrypt 9 0 R for details")))
  }

  test("'15 0 obj' earlier in the file cannot shadow '/Encrypt 5 0 R' resolution") {
    // Without a digit boundary, the object-header regex for `5 0 obj`
    // matches INSIDE `15 0 obj`; the resolved body has no /Standard,
    // and the encrypted file would pass through as plaintext ciphertext
    // garbage — the worst failure mode the /U-skip exists to prevent.
    val key = PdfCrypt.fileKeyR234(3, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(3, key, fileId)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT (shadow proof) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val dict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    val doc = new String(encryptedPdf(payload, dict), StandardCharsets.ISO_8859_1)
      .replace("%PDF-1.6\n",
        "%PDF-1.6\n15 0 obj << /Type /Metadata >> endobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(doc).exists(_.contains("shadow proof")))
  }

  test("literal-string /ID and backslash-EOL continuations in key material parse") {
    // Same RC4 R3 document, but /ID written as literal strings and /O
    // as a literal with a line continuation — both spec-legal forms.
    val key = PdfCrypt.fileKeyR234(3, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(3, key, fileId)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT (literal forms) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    def lit(b: Array[Byte]): String = "(" + b.map { x =>
      f"\\${x & 0xFF}%03o" // octal-escape every byte: always spec-legal
    }.mkString + ")"
    // split the /O literal across lines with a backslash continuation —
    // at an escape boundary (1 + 4*10: each octal escape is 4 chars)
    val oLit = lit(oEntry)
    val oWrapped = oLit.substring(0, 41) + "\\\n" + oLit.substring(41)
    val dict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 " +
      s"/O $oWrapped /U <${hex(u)}> >>"
    val doc = new String(encryptedPdf(payload, dict), StandardCharsets.ISO_8859_1)
      .replace(s"/ID [<${hex(fileId)}> <${hex(fileId)}>]",
        s"/ID [${lit(fileId)} ${lit(fileId)}]")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(doc).exists(_.contains("literal forms")))
  }

  test("corrupt encrypted/ObjStm inputs are skipped or partially read, never thrown") {
    val key = PdfCrypt.fileKeyR234(3, 16, oEntry, -44, fileId, encryptMetadata = true)
    val u = PdfCrypt.computeU(3, key, fileId)
    val payload = PdfCrypt.rc4(
      PdfCrypt.objectKey(key, 4, 0, aes = false),
      "BT (fuzz base) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val dict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 " +
      s"/O <${hex(oEntry)}> /U <${hex(u)}> >>"
    val good = encryptedPdf(payload, dict)
    // Truncations at every byte boundary region + targeted corruptions:
    // extraction may return text or None but must never throw.
    val cases = Seq(
      good.take(20), good.take(good.length / 2), good.take(good.length - 3),
      good ++ good, // doubled document
      new String(good, StandardCharsets.ISO_8859_1)
        .replace("/Length 128", "/Length abc").getBytes(StandardCharsets.ISO_8859_1),
      new String(good, StandardCharsets.ISO_8859_1)
        .replace("/R 3", "/R 99").getBytes(StandardCharsets.ISO_8859_1),
      new String(good, StandardCharsets.ISO_8859_1)
        .replace(s"/O <${hex(oEntry)}>", "/O ()").getBytes(StandardCharsets.ISO_8859_1),
      // ObjStm with a /First pointing past the stream body
      ("%PDF-1.5\n8 0 obj << /Type /ObjStm /N 2 /First 9999 /Length 4 >>\n" +
        "stream\nabcd\nendstream\nendobj\n%%EOF\n").getBytes(StandardCharsets.ISO_8859_1),
      // ObjStm whose header is garbage
      ("%PDF-1.5\n8 0 obj << /Type /ObjStm /N 2 /First 5 /Length 9 >>\n" +
        "stream\nxx yy zz\nendstream\nendobj\n%%EOF\n").getBytes(StandardCharsets.ISO_8859_1))
    cases.zipWithIndex.foreach { case (c, i) =>
      PdfText.extract(c) // must not throw
      ()
    }
    // deterministic byte flips across the whole good document
    (0 until good.length by 37).foreach { pos =>
      val mutated = good.clone()
      mutated(pos) = (mutated(pos) ^ 0x5A).toByte
      PdfText.extract(mutated) // must not throw
    }
  }

  test("pdf files flow through readDocuments into chunks (S3 end-to-end)") {
    val root = Files.createTempDirectory("graft-pdf")
    Files.write(root.resolve("doc.pdf"),
      pdf(contentStream.getBytes(StandardCharsets.ISO_8859_1), flate = false))
    Files.writeString(root.resolve("plain.md"), "plain markdown doc")
    val docs = FileIngest.readDocuments(spark, root.toString,
      extensions = FileIngest.defaultExtensions :+ "pdf",
      decoder = PdfTextDecoder)
      .as[(String, String)].collect().toMap
    assert(docs.size == 2)
    val pdfText = docs.keys.find(_.contains("Hello PDF world"))
    assert(pdfText.isDefined)
    // and it chunks like any other document
    val chunks = graft.pipeline.Index.chunkDocs(
      Seq((pdfText.get, "doc.pdf")).toDF("text", "source"), "text", "source",
      strategy = "simple").collect()
    assert(chunks.nonEmpty && chunks.head.text.nonEmpty)
  }
}

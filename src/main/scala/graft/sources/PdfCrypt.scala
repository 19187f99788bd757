package graft.sources

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Standard-security-handler decryption for [[PdfText]] (S3 parity: the
  * reference's `pdf_extract` path decodes what the `pdf` crate decrypts,
  * `src/cli/build.rs:637-655`). Everything here is the PUBLIC password
  * algorithm set of ISO 32000 §7.6 — no external crypto beyond the
  * JDK's MD5/SHA-2 and AES:
  *
  *  - **R2/R3** (V1/V2): RC4 40-128 bit, key from Algorithm 2 (MD5 of
  *    padded password + /O + /P + file ID, 50-fold MD5 for R3), one
  *    derived key per object (MD5 of file key + objnum/gen).
  *  - **R4** (V4 `/AESV2`): same Algorithm 2 key; streams are AES-128-
  *    CBC with a 16-byte IV prefix and the `sAlT` bytes appended to the
  *    per-object MD5 input.
  *  - **R6** (V5 `/AESV3`, PDF 2.0): SHA-2 "hardened" hash (Algorithm
  *    2.B) validates the empty user password against /U and unwraps the
  *    256-bit file key from /UE; all streams are AES-256-CBC with the
  *    file key directly (no per-object derivation in V5).
  *
  * Scope is the **empty user password** (owner-restricted but
  * world-readable files — the overwhelming majority of encrypted PDFs
  * in a crawled corpus). A file whose /U check fails is genuinely
  * password-protected: [[decryptDocument]] returns None and ingest
  * skips it, the same warn-and-skip stance as the reference's failed
  * `pdf_extract::extract_text`.
  */
object PdfCrypt {

  /** Parsed /Encrypt parameters + the authenticated file key. */
  final case class EncryptInfo(r: Int, keyBytes: Array[Byte], aes: Boolean)

  // Algorithm 2's 32-byte password padding constant (ISO 32000-1 Table 3.1)
  private val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** True when the document carries an /Encrypt dictionary reference. */
  def isEncrypted(raw: String): Boolean = EncRefRe.findFirstIn(raw).isDefined

  /** Resolve the /Encrypt reference to the body of an actual /Standard
    * security-handler object. Shared by [[authenticate]] and
    * [[hasStandardEncryptDict]] so the skip-vs-plaintext decision can
    * never diverge from the decrypt attempt. Every `/Encrypt n g R`
    * byte pattern is tried (a spurious one in content must not shadow
    * the trailer's), and the object-header match is digit-bounded —
    * without `(?<!\d)`, looking for `5 0 obj` would happily match
    * inside `15 0 obj` and resolve the wrong object. */
  private def resolveEncryptDict(raw: String): Option[String] =
    EncRefRe.findAllMatchIn(raw).flatMap { m =>
      (s"""(?s)(?<!\\d)${m.group(1)}\\s+${m.group(2)}\\s+obj(.*?)endobj""").r
        .findFirstMatchIn(raw).map(_.group(1))
    }.find(_.contains("/Standard"))

  /** True when the /Encrypt reference resolves to an actual /Standard
    * security-handler dictionary — distinguishes a really-encrypted
    * document (skip when we can't open it) from an unencrypted one that
    * merely CONTAINS the `/Encrypt n g R` byte pattern, e.g. inside a
    * content stream (proceed as plaintext). */
  def hasStandardEncryptDict(raw: String): Boolean =
    resolveEncryptDict(raw).isDefined

  // ---- dictionary parsing ---------------------------------------------

  private val EncRefRe = """/Encrypt\s+(\d+)\s+(\d+)\s+R""".r
  private def intParam(dict: String, name: String): Option[Int] =
    (s"""/$name\\s+(-?\\d+)""").r.findFirstMatchIn(dict).map(_.group(1).toInt)

  /** A PDF string value for key material: literal `(...)` with escapes
    * or hex `<...>`, returned as raw bytes. The name match is
    * boundary-aware — `/U` must not match the prefix of `/UE` (real
    * dicts order those keys either way). */
  private def strParam(dict: String, name: String): Option[Array[Byte]] = {
    val at = ("/" + java.util.regex.Pattern.quote(name) + "(?![0-9A-Za-z])").r
      .findFirstMatchIn(dict).map(_.start).getOrElse(return None)
    var i = at + name.length + 1
    while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
    if (i >= dict.length) None
    else if (dict.charAt(i) == '(') Some(literalBytes(dict, i))
    else if (dict.charAt(i) == '<' && (i + 1 >= dict.length || dict.charAt(i + 1) != '<'))
      Some(hexBytes(dict, i))
    else None
  }

  private def literalBytes(s: String, open: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = open + 1
    var depth = 1
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => out.write('\n'); i += 2
            case 'r' => out.write('\r'); i += 2
            case 't' => out.write('\t'); i += 2
            case 'b' => out.write('\b'); i += 2
            case 'f' => out.write('\f'); i += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
              }
              out.write(v)
            case '\n' => i += 2 // line continuation: backslash-EOL emits nothing
            case '\r' =>
              i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
            case c => out.write(c); i += 2
          }
        case '(' => depth += 1; out.write('('); i += 1
        case ')' => depth -= 1; if (depth > 0) out.write(')'); i += 1
        case c => out.write(c); i += 1
      }
    }
    out.toByteArray
  }

  private def hexBytes(s: String, open: Int): Array[Byte] = {
    val hex = new StringBuilder
    var i = open + 1
    while (i < s.length && s.charAt(i) != '>') {
      if (Character.digit(s.charAt(i), 16) >= 0) hex += s.charAt(i)
      i += 1
    }
    val h = if (hex.length % 2 == 1) hex.append('0') else hex
    Array.tabulate(h.length / 2)(k =>
      Integer.parseInt(h.substring(2 * k, 2 * k + 2), 16).toByte)
  }

  /** First element of the trailer /ID array (raw bytes); R<=4 key
    * derivation consumes it. Both spec-legal string forms are parsed —
    * hex `<...>` and literal `(...)` — by reading the element that
    * starts DIRECTLY after the `[` (scanning ahead for the next '<'
    * anywhere in the file would latch onto an unrelated `<<`). */
  private def firstFileId(raw: String): Array[Byte] =
    """/ID\s*\[""".r.findFirstMatchIn(raw).map { m =>
      var i = m.end
      while (i < raw.length && raw.charAt(i).isWhitespace) i += 1
      if (i >= raw.length) Array.emptyByteArray
      else raw.charAt(i) match {
        case '<' => hexBytes(raw, i)
        case '(' => literalBytes(raw, i)
        case _ => Array.emptyByteArray
      }
    }.getOrElse(Array.emptyByteArray)

  // ---- primitives ------------------------------------------------------

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  private[graft] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    for (i <- 0 until 256) {
      j = (j + s(i) + key(i % key.length)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
    }
    val out = new Array[Byte](data.length)
    var i = 0; j = 0
    for (k <- data.indices) {
      i = (i + 1) & 0xFF
      j = (j + s(i)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      out(k) = (data(k) ^ s((s(i) + s(j)) & 0xFF)).toByte
    }
    out
  }

  private def aesCbc(mode: Int, key: Array[Byte], iv: Array[Byte],
                     data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** AES-CBC decrypt a PDF crypt payload: 16-byte IV prefix, PKCS#5
    * padding stripped (tolerantly — a malformed pad keeps the bytes). */
  private def aesDecrypt(key: Array[Byte], payload: Array[Byte]): Option[Array[Byte]] =
    if (payload.length < 32 || (payload.length % 16) != 0) None
    else {
      val iv = java.util.Arrays.copyOfRange(payload, 0, 16)
      val body = java.util.Arrays.copyOfRange(payload, 16, payload.length)
      val plain = aesCbc(Cipher.DECRYPT_MODE, key, iv, body)
      val pad = plain.last & 0xFF
      Some(
        if (pad >= 1 && pad <= 16 && pad <= plain.length)
          java.util.Arrays.copyOfRange(plain, 0, plain.length - pad)
        else plain)
    }

  // ---- R2-R4: Algorithm 2 file key + per-object keys -------------------

  /** Algorithm 2: file encryption key for the EMPTY user password. */
  private[graft] def fileKeyR234(r: Int, keyLen: Int, o: Array[Byte],
                                   p: Int, id0: Array[Byte],
                                   encryptMetadata: Boolean): Array[Byte] = {
    val pBytes = Array[Byte](
      (p & 0xFF).toByte, ((p >> 8) & 0xFF).toByte,
      ((p >> 16) & 0xFF).toByte, ((p >> 24) & 0xFF).toByte)
    val extra =
      if (r >= 4 && !encryptMetadata)
        Array[Byte](0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
      else Array.emptyByteArray
    var key = md5(Pad, o, pBytes, id0, extra).take(keyLen)
    if (r >= 3)
      for (_ <- 0 until 50) key = md5(key).take(keyLen)
    key
  }

  /** Algorithms 4 (R2) / 5 (R3+): the /U value for the empty user
    * password — recomputed to authenticate (R3+ compares 16 bytes). */
  private[graft] def computeU(r: Int, key: Array[Byte], id0: Array[Byte]): Array[Byte] =
    if (r == 2) rc4(key, Pad)
    else {
      var u = rc4(key, md5(Pad, id0))
      for (i <- 1 to 19)
        u = rc4(key.map(b => (b ^ i).toByte), u)
      u ++ Array.fill(16)(0.toByte) // arbitrary 16-byte tail per spec
    }

  /** Per-object key (Algorithm 1): MD5 of file key + 3 LE bytes of the
    * object number + 2 LE bytes of the generation (+ `sAlT` for AES). */
  private[graft] def objectKey(fileKey: Array[Byte], obj: Int, gen: Int,
                                 aes: Boolean): Array[Byte] = {
    val tail = Array[Byte](
      (obj & 0xFF).toByte, ((obj >> 8) & 0xFF).toByte, ((obj >> 16) & 0xFF).toByte,
      (gen & 0xFF).toByte, ((gen >> 8) & 0xFF).toByte)
    val salt = if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) else Array.emptyByteArray
    md5(fileKey, tail, salt).take(math.min(fileKey.length + 5, 16))
  }

  // ---- R6: SHA-2 hardened hash (Algorithm 2.B) -------------------------

  /** Algorithm 2.B hash for the empty user password (no /U udata). */
  private[graft] def hash2B(password: Array[Byte], salt: Array[Byte]): Array[Byte] = {
    var k = MessageDigest.getInstance("SHA-256").digest(password ++ salt)
    var e = Array.emptyByteArray
    var round = 0
    while (round < 64 || (e.last & 0xFF) > round - 32) {
      val k1 = {
        val one = password ++ k
        val out = new java.io.ByteArrayOutputStream()
        for (_ <- 0 until 64) out.write(one)
        out.toByteArray
      }
      e = aesCbc(Cipher.ENCRYPT_MODE, k.take(16),
        java.util.Arrays.copyOfRange(k, 16, 32), k1)
      val mod = java.util.Arrays.copyOfRange(e, 0, 16).map(_ & 0xFF).sum % 3
      k = MessageDigest.getInstance(mod match {
        case 0 => "SHA-256"; case 1 => "SHA-384"; case 2 => "SHA-512"
      }).digest(e)
      round += 1
    }
    k.take(32)
  }

  // ---- document-level decryption --------------------------------------

  private val ObjHeadRe = """(?s)(\d+)\s+(\d+)\s+obj""".r
  // V4/V5 dicts can route streams through the Identity crypt filter
  // (plaintext streams); "decrypting" those garbles every one.
  private val IdentityStmFRe = """/StmF\s*/Identity""".r
  // Cross-reference streams are never encrypted (ISO 32000 §7.5.8.2).
  private val XrefTypeRe = """/Type\s*/XRef""".r

  /** Authenticate the empty user password and return the file key, or
    * None when the file is truly password-protected / an unsupported
    * revision. */
  private[graft] def authenticate(raw: String): Option[EncryptInfo] = {
    val encDict = resolveEncryptDict(raw).getOrElse(return None)
    val r = intParam(encDict, "R").getOrElse(return None)
    val o = strParam(encDict, "O").getOrElse(return None)
    val u = strParam(encDict, "U").getOrElse(return None)
    r match {
      case 2 | 3 | 4 =>
        val p = intParam(encDict, "P").getOrElse(return None)
        // spec range 40-128 bits; clamp so a mangled /Length can't
        // produce a zero-length RC4 key (division by zero) or an
        // oversized MD5 take
        val keyLen = intParam(encDict, "Length").map(_ / 8).getOrElse(5)
          .max(1).min(16)
        val encryptMetadata = !encDict.contains("/EncryptMetadata false")
        val aes = r == 4 && encDict.contains("/AESV2")
        // R4 with neither /AESV2 nor /V2 is an unknown crypt filter
        // method — skip. (/StmF /Identity — plaintext streams — is
        // handled upstream in decryptDocumentUnsafe for any V4/V5 dict.)
        if (r == 4 && !aes && !encDict.contains("/V2")) return None
        val id0 = firstFileId(raw)
        val key = fileKeyR234(r, keyLen, o, p, id0, encryptMetadata)
        val uCheck = computeU(r, key, id0)
        val n = if (r == 2) 32 else 16
        if (java.util.Arrays.equals(uCheck.take(n), u.take(n)))
          Some(EncryptInfo(r, key, aes))
        else None
      case 6 =>
        if (u.length < 48) return None
        val vSalt = java.util.Arrays.copyOfRange(u, 32, 40)
        val kSalt = java.util.Arrays.copyOfRange(u, 40, 48)
        if (!java.util.Arrays.equals(hash2B(Array.emptyByteArray, vSalt), u.take(32)))
          return None
        val ue = strParam(encDict, "UE").getOrElse(return None)
        if (ue.length != 32) return None
        val ik = hash2B(Array.emptyByteArray, kSalt)
        val fileKey = aesCbc(Cipher.DECRYPT_MODE, ik, new Array[Byte](16), ue)
        Some(EncryptInfo(r, fileKey, aes = true))
      case _ => None // R5 (the withdrawn AESV3 draft) and unknown revisions
    }
  }

  /** Decrypt every object's stream payload, returning a rebuilt
    * document whose streams are plaintext (the rest of the bytes —
    * dictionaries, operators, the /Encrypt object itself — pass through
    * untouched, so [[PdfText]]'s scanning pipeline needs no changes).
    * None when the password check fails or nothing decrypts. */
  def decryptDocument(raw: String, bytes: Array[Byte]): Option[(String, Array[Byte])] = try {
    decryptDocumentUnsafe(raw, bytes)
  } catch {
    // A corrupt/hostile encrypt dictionary (bad key material lengths,
    // cipher parameter errors) means unreadable, not a crash — the
    // ingest stance is skip, same as the reference's failed
    // pdf_extract::extract_text.
    case scala.util.control.NonFatal(_) => None
  }

  private def decryptDocumentUnsafe(raw: String, bytes: Array[Byte]): Option[(String, Array[Byte])] = {
    // /StmF /Identity: stream payloads are already plaintext — pass the
    // document through untouched (no key needed to read it).
    if (resolveEncryptDict(raw).exists(d => IdentityStmFRe.findFirstIn(d).isDefined))
      return Some((raw, bytes))
    val info = authenticate(raw).getOrElse(return None)
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var copied = 0
    for (m <- ObjHeadRe.findAllMatchIn(raw)) {
      val objEnd = raw.indexOf("endobj", m.end)
      val s = raw.indexOf("stream", m.end)
      // Skip /Type /XRef stream objects: spec-unencrypted regardless of
      // the handler, so decrypting them would only produce noise.
      if (objEnd >= 0 && s >= 0 && s < objEnd &&
          XrefTypeRe.findFirstIn(raw.substring(m.end, s)).isEmpty) {
        var dataStart = s + "stream".length
        if (dataStart < raw.length && raw.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < raw.length && raw.charAt(dataStart) == '\n') dataStart += 1
        val e = raw.indexOf("endstream", dataStart)
        if (e >= 0 && e <= objEnd) {
          // The spec puts an EOL between the stream data and the
          // `endstream` keyword — those bytes are NOT ciphertext (they
          // break the AES length check and tail-garble RC4).
          var pe = e
          if (pe > dataStart && bytes(pe - 1) == '\n') pe -= 1
          if (pe > dataStart && bytes(pe - 1) == '\r') pe -= 1
          val payload = java.util.Arrays.copyOfRange(bytes, dataStart, pe)
          val plain: Option[Array[Byte]] =
            if (info.r == 6) aesDecrypt(info.keyBytes, payload)
            else {
              val ok = objectKey(info.keyBytes, m.group(1).toInt, m.group(2).toInt, info.aes)
              if (info.aes) aesDecrypt(ok, payload) else Some(rc4(ok, payload))
            }
          plain.foreach { p =>
            out.write(bytes, copied, dataStart - copied)
            out.write(p)
            copied = e // resume at "endstream"
          }
        }
      }
    }
    if (copied == 0) return None // no stream decrypted — treat as unreadable
    out.write(bytes, copied, bytes.length - copied)
    val nb = out.toByteArray
    Some((new String(nb, "ISO-8859-1"), nb))
  }
}

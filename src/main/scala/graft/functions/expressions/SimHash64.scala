package graft.functions.expressions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass SimHash over a text column (ref near-dup semantics;
  * SURVEY "beyond the reference" dedup tier).
  *
  * Bit-identical to the relational formulation in `Dedup.simhash`
  * (tokenize → per-term md5 → ±1 weighted bit sums → sign bits), which
  * costs an explode, a 60x bit-position blowup and three shuffles. As a
  * scalar expression SimHash is a pure map: 100 TB of documents
  * fingerprint with ZERO shuffle — each row tokenizes, hashes its
  * distinct terms once, and folds the weighted bit counts locally.
  *
  * Parity contract (must keep matching the DuckDB oracle):
  * tokens = `[a-z0-9]{2,}` runs over `UTF8String.toLowerCase` (Spark's
  * own `lower()` semantics, not locale-dependent Java toLowerCase);
  * term hash = first 15 hex chars of md5 as a 60-bit value, exactly
  * `conv(substring(md5(t),1,15),16,10)`; bit i set iff
  * `sum_t f(t) * ((h(t)>>i & 1) * 2 - 1) > 0`.
  *
  * `CodegenFallback`: the body is a per-row hash loop with local state —
  * nothing whole-stage codegen could fuse; the fallback call is the
  * loop itself.
  */
case class SimHash64(child: Expression, bits: Int = 60)
    extends UnaryExpression with CodegenFallback {

  require(bits > 0 && bits <= 60, s"bits must be in 1..60, got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects STRING input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase.toString
    val freqs = new java.util.HashMap[String, Long]()
    val m = SimHash64.tokenPattern.matcher(text)
    while (m.find()) freqs.merge(m.group(), 1L, _ + _)
    // Token-less docs: NULL, not fingerprint 0 — a zero sentinel would
    // make every such doc a mutual Hamming-0 "duplicate" and a banding
    // hot key; the relational/oracle formulation omits these docs too.
    if (freqs.isEmpty) return null

    val acc = new Array[Long](bits)
    val it = freqs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = SimHash64.md5Hex15(e.getKey)
      val f = e.getValue
      var i = 0
      while (i < bits) {
        acc(i) += f * (((h >>> i) & 1L) * 2 - 1)
        i += 1
      }
    }
    var sh = 0L
    var i = 0
    while (i < bits) {
      if (acc(i) > 0) sh |= 1L << i
      i += 1
    }
    sh
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** Shared with MinHashSig; sourced from the single tokenizer constant
    * so the Column/expression/oracle paths can never drift. */
  private[graft] val tokenPattern =
    Pattern.compile(graft.functions.TextFunctions.TokenRegex)

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 hex chars of md5 as a 60-bit long — identical to
    * `conv(substring(md5(t),1,15),16,10)`: the big-endian value of the
    * first 8 digest bytes, dropping the 16th nibble. */
  private[graft] def md5Hex15(term: String): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (b(i) & 0xffL)
      i += 1
    }
    v >>> 4
  }
}

package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Single-pass random-hyperplane (sign) LSH bucket key over an
  * ARRAY<DOUBLE> vector: `bits` seeded pseudo-random hyperplanes, one
  * sign bit per plane.
  *
  * Bit-identical to the Column formulation
  * (KnnReference.signLshKeyColumns in the specs): same splitmix64-style
  * plane derivation, same left-to-right projection summation, same
  * strict `proj > 0` bit test. The Column form builds a bits × dims
  * expression tree (`element_at` × dims × bits ≈ 1k nodes at test
  * scale, 12k-25k at 768-1536 production dims — past JIT/codegen method
  * limits and into interpreted fallback); this expression is two nested
  * primitive loops over a precomputed plane matrix.
  *
  * The planes are derived on first use and cached per expression
  * instance (bits × dims doubles — at 16 × 1536 that's 192 KB per task,
  * not per row).
  *
  * `CodegenFallback`: per-row loop with local state, same stance as
  * [[SimHash64]]/[[QuantizeInt8]].
  */
case class SignLsh64(child: Expression, dims: Int, bits: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {

  require(bits > 0 && bits <= 63, s"bits must be in 1..63, got $bits")
  require(dims > 0, s"dims must be positive, got $dims")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh64 expects ARRAY<DOUBLE> input, got $other")
  }

  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(bits, dims)((b, d) =>
      SignLsh64.mix(seed + b * 1000003L + d).toDouble / Long.MaxValue)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // fail fast like DotProduct: a short vector means a wrong-dims
    // configuration; reading past numElements on UnsafeArrayData would
    // silently hash garbage memory into the bucket key
    if (v.numElements() < dims)
      throw new IllegalArgumentException(
        s"sign_lsh64: vector has ${v.numElements()} elements, expected >= $dims")
    var key = 0L
    var b = 0
    while (b < bits) {
      val p = planes(b)
      var proj = 0.0
      var d = 0
      while (d < dims) {
        proj += v.getDouble(d) * p(d)
        d += 1
      }
      if (proj > 0) key |= 1L << b
      b += 1
    }
    key
  }

  override protected def withNewChildInternal(newChild: Expression): SignLsh64 =
    copy(child = newChild)

  override def prettyName: String = "sign_lsh64"
}

object SignLsh64 {
  /** splitmix64 finalizer — the shared plane derivation (kept in one
    * place so the Column parity formulation and this expression cannot
    * drift). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

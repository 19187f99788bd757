package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Single-pass symmetric int8 scalar quantization of an ARRAY<DOUBLE>
  * vector: scale = max|x|/127, code_i = round(x_i/scale) — the
  * storage-tier trade (4x smaller) for 100 TB of vectors.
  *
  * Bit-identical to the composable Column formulation (FunctionsSpec
  * keeps it as the parity oracle): that one is built from higher-order
  * functions whose lambdas evaluate interpreted — and worse, after
  * `CollapseProject` inlines the struct fields into downstream
  * consumers, the max|x| fold re-evaluates PER
  * ELEMENT of every lambda that references `scale`, turning an O(d) map
  * into O(d²) per row (at 768-1536 production dims that's the whole
  * query budget). This expression computes the struct once per row in
  * two tight primitive loops.
  *
  * Rounding parity: `round(x)` in the Column form is Spark's `Round`
  * (BigDecimal HALF_UP on the double's shortest decimal representation
  * — NOT `Math.floor(x+0.5)`, which differs on values like
  * 0.49999999999999994); [[Int8Quant.code]] reproduces it exactly so
  * quantized scores keep hash-matching the DuckDB oracle.
  *
  * Null handling: null vector → null struct; elements are assumed
  * non-null (embedding vectors). Zero/empty vectors quantize to
  * scale 0 + zero codes, matching the Column form's `otherwise(0)`.
  *
  * `CodegenFallback`: the body is a per-row primitive loop with local
  * state — nothing whole-stage codegen could fuse; the fallback call is
  * the loop itself (same stance as [[SimHash64]]).
  */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = Int8Quant.structType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_int8 expects ARRAY<DOUBLE> input, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(arr.getDouble(i))
      // fail fast with a clear message: BigDecimal.valueOf(NaN) inside
      // code() would throw an opaque NumberFormatException mid-task.
      // Checked per element — NaN never propagates through `a > maxAbs`
      // (NaN compares false), so a post-loop check on maxAbs misses it.
      if (!java.lang.Double.isFinite(a))
        throw new IllegalArgumentException(
          "quantize_int8: vector contains a non-finite element")
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = maxAbs / 127.0
    val codes = new Array[Int](n)
    if (scale > 0) {
      i = 0
      while (i < n) {
        codes(i) = Int8Quant.code(arr.getDouble(i), scale)
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](scale,
      UnsafeArrayData.fromPrimitiveArray(codes)))
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)

  override def prettyName: String = "quantize_int8"
}

/** Inverse of [[QuantizeInt8]]: codes_i * scale as ARRAY<DOUBLE>, one
  * primitive loop per row. Bit-identical to
  * `transform(q.codes, c => c.cast("double") * q.scale)` (int→double
  * widening then one double multiply — both exact in IEEE754 for
  * |code| ≤ 127). */
case class DequantizeInt8(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(StructField(_, DoubleType, _, _),
                          StructField(_, ArrayType(IntegerType, _), _, _))) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dequantize_int8 expects STRUCT<scale DOUBLE, codes ARRAY<INT>>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val scale = row.getDouble(0)
    val codes = row.getArray(1)
    val n = codes.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = codes.getInt(i).toDouble * scale
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): DequantizeInt8 =
    copy(child = newChild)

  override def prettyName: String = "dequantize_int8"
}

object Int8Quant {
  val structType: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  /** Spark `round(x)` semantics (HALF_UP on the shortest decimal
    * representation), then the `cast("int")` of the integral result.
    * |x/scale| ≤ 127 by construction, so the int cast cannot overflow. */
  def code(x: Double, scale: Double): Int =
    java.math.BigDecimal.valueOf(x / scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).intValue()
}

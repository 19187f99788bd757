package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>`.
  *
  * Re-expresses the reference's vector math (dot product
  * `src/index/recompute.rs:137-139`) as Catalyst higher-order-function
  * expressions — codegen-friendly, no UDF, no driver-side loops.
  *
  * All arithmetic is done in Double with a per-row *sequential* fold
  * (`aggregate` evaluates left-to-right), so scores are deterministic and
  * reproducible against a DuckDB oracle computing the same double math.
  */
object VectorFunctions {
  /** Cast a vector column to ARRAY<DOUBLE> for stable arithmetic. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** `round(x, 6)` over a DOUBLE column with identical HALF_UP
    * semantics but without BigDecimal per value — the per-pair cost of
    * the built-in on the n² scoring tiers (~430 ns/value, 1.7 s of the
    * knn_graph row) goes through
    * [[graft.functions.expressions.RoundHalfUp]]'s fast path instead;
    * near-tie values fall back to the exact BigDecimal semantic.
    * Equivalence vs the built-in is brute-forced in RoundHalfUpSpec. */
  def round6(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.RoundHalfUp(
      GraftColumnBridge.expression(c.cast("double")), 6))
  }

  /** Inner product of two vector columns, computed in Double via the
    * codegen'd [[graft.functions.expressions.DotProduct]] expression
    * (same left-to-right summation as the `aggregate(zip_with(...))`
    * formulation, so results are bit-identical — just inside
    * whole-stage codegen instead of interpreted lambdas). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.DotProduct(
      GraftColumnBridge.expression(asDouble(a)), GraftColumnBridge.expression(asDouble(b))))
  }

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Squared L2 distance. */
  def l2DistanceSq(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, x) => acc + x)

  /** Per-vector symmetric int8 scalar quantization: scale = max|x|/127,
    * code_i = round(x_i/scale). 4x smaller storage than FLOAT at ~0.3%
    * dot-product error — the storage-tier trade for 100 TB of vectors.
    * Returns a struct (scale DOUBLE, codes ARRAY<INT>); `round` is
    * HALF_UP like the SQL oracle's. Zero vectors quantize to scale 0 +
    * zero codes. Computed by the single-pass
    * [[graft.functions.expressions.QuantizeInt8]] expression — the HOF
    * formulation (kept in FunctionsSpec as the parity oracle)
    * re-evaluates the scale fold per element once CollapseProject
    * inlines it into downstream lambdas. */
  def quantizeInt8(v: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.QuantizeInt8(
      GraftColumnBridge.expression(asDouble(v))))
  }

  /** Dequantized vector from a quantizeInt8 struct (single-pass
    * [[graft.functions.expressions.DequantizeInt8]]). */
  def dequantizeInt8(q: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.DequantizeInt8(
      GraftColumnBridge.expression(q)))
  }
}

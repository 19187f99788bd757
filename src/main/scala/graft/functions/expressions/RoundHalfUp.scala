package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `round(x, scale)` over DOUBLE with Spark/DuckDB-identical HALF_UP
  * semantics, without paying BigDecimal per value (r16, guide §"per-task
  * work").
  *
  * Spark's `Round` on DoubleType routes EVERY value through
  * `BigDecimal.valueOf(x).setScale(scale, HALF_UP).toDouble` — a
  * Double.toString (shortest decimal representation), a decimal parse,
  * BigInteger scaling and a re-parse, measured ~430 ns/value: on the n²
  * kNN oracle tier the rounding alone cost 1.7 s of a 3.9 s row.
  *
  * The fast path multiplies into y = x·10^scale, takes
  * floor / floor+1 by comparing frac(y) against 0.5, and divides back —
  * all exact-analyzable IEEE steps:
  *
  *   - 10^scale is exactly representable (scale <= 15 here), and the
  *     final r / 10^scale is one correctly-rounded division of an
  *     exactly-representable integer r, which is the same real number
  *     BigDecimal's `toDouble` rounds — identical result bits;
  *   - the rounding DECISION differs from BigDecimal's only when
  *     frac(y) sits within the accumulated float error of 0.5.
  *     BigDecimal decides on the shortest-decimal value D of x with
  *     |D - x| <= ulp(x)/2, and y itself carries one multiplication
  *     rounding: with the fast path gated to |x| < 10^(9-scale), the
  *     total error in y-units stays under ~2e-4, so any value whose
  *     frac(y) lands within 1e-3 of 0.5 is routed to the EXACT
  *     BigDecimal path instead (ties — where HALF_UP vs nearest
  *     matters — always land there). Everything outside the margin
  *     provably decides identically.
  *
  * NaN/Infinity pass through (Spark's guard), |x| beyond the gate falls
  * back to BigDecimal wholesale, and -0.0 inputs return +0.0 exactly as
  * the BigDecimal path does. Equivalence against the built-in `round`
  * is brute-forced in RoundHalfUpSpec (uniform, tie-adversarial,
  * denormal, signed-zero, non-finite arms).
  */
case class RoundHalfUp(child: Expression, scale: Int)
    extends UnaryExpression {

  require(scale >= 0 && scale <= 15,
    s"round_half_up supports scales in [0, 15], got $scale")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"round_half_up expects a DOUBLE child, got $other")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(x: Any): Any =
    RoundHalfUp.round(x.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = RoundHalfUp.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val pow = math.pow(10, scale)
    val bound = math.pow(10, 9 - scale)
    nullSafeCodeGen(ctx, ev, x => {
      val y = ctx.freshName("y")
      val f = ctx.freshName("f")
      val frac = ctx.freshName("frac")
      s"""
         |if (Double.isNaN($x) || Double.isInfinite($x)) {
         |  ${ev.value} = $x;
         |} else if ($x == 0.0d) {
         |  ${ev.value} = 0.0d;
         |} else if (!(Math.abs($x) < ${bound}d)) {
         |  ${ev.value} = $cls.exact($x, $scale);
         |} else {
         |  double $y = $x * ${pow}d;
         |  double $f = Math.floor($y);
         |  double $frac = $y - $f;
         |  if (Math.abs($frac - 0.5d) < 1.0E-3d) {
         |    ${ev.value} = $cls.exact($x, $scale);
         |  } else {
         |    ${ev.value} = ($frac > 0.5d ? $f + 1.0d : $f) / ${pow}d;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundHalfUp {

  /** The reference semantic: exactly what Spark's `Round` does for
    * DOUBLE — NaN and infinities pass through, anything else is decimal
    * HALF_UP on the shortest decimal representation. Public because
    * generated code calls it. */
  def exact(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Interpreted twin of the generated code. */
  def round(x: Double, scale: Int): Double = {
    if (x.isNaN || x.isInfinite) x
    else if (x == 0.0d) 0.0d
    else if (!(math.abs(x) < math.pow(10, 9 - scale))) exact(x, scale)
    else {
      val pow = math.pow(10, scale)
      val y = x * pow
      val f = math.floor(y)
      val frac = y - f
      if (math.abs(frac - 0.5d) < 1.0e-3d) exact(x, scale)
      else (if (frac > 0.5d) f + 1.0d else f) / pow
    }
  }
}

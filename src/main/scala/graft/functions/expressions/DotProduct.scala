package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native inner product over two ARRAY<DOUBLE> columns.
  *
  * The composable formulation `aggregate(zip_with(a, b, *), 0, +)` is
  * correct but built from higher-order functions, which evaluate their
  * lambdas interpreted, outside whole-stage codegen. This expression
  * generates a tight primitive loop instead (and evaluates the same
  * left-to-right summation, so scores are bit-identical to the HOF
  * version and to the DuckDB oracle).
  *
  * Null handling: a null array yields null; elements are assumed
  * non-null (embedding vectors), matching `containsNull=false` data.
  * Mismatched dimensions throw (DuckDB's list_inner_product does too;
  * a silent partial product would produce plausible wrong rankings).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects ARRAY<DOUBLE> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val cls = classOf[DotProduct].getName
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw $cls.dimMismatch($n, $b.numElements());
         |}
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The loop the generated code runs, for callers holding the arrays
    * themselves (the interpreted path and Lloyd's partition kernel). */
  def of(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) {
      throw dimMismatch(n, y.numElements())
    }
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }

  /** Dimension mismatch is a configuration bug (wrong embedder for the
    * index); fail fast like DuckDB's list_inner_product rather than
    * silently truncating to the shorter vector. Called from generated
    * code, hence public + Java-friendly. */
  def dimMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"dot_product: vector dimensions differ ($a vs $b)")
}

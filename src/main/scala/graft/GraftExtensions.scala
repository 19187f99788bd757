package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions.DotProduct

/** SparkSessionExtensions wiring: registers graft's custom Catalyst
  * expressions as SQL functions, so the engine's capabilities are
  * reachable from `spark.sql(...)` as well as the Column API:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or: spark.sql.extensions=graft.GraftExtensions
  *   spark.sql("SELECT dot_product(a, b) FROM vecs")
  *
  * `GraftExtensions.install(spark)` registers on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.dotProductDescriptor)
    e.injectFunction(GraftExtensions.simhashDescriptor)
    e.injectFunction(GraftExtensions.minhashDescriptor)
    e.injectFunction(GraftExtensions.quantizeDescriptor)
    e.injectFunction(GraftExtensions.dequantizeDescriptor)
    e.injectFunction(GraftExtensions.signLshDescriptor)
    e.injectFunction(GraftExtensions.nfcDescriptor)
    e.injectFunction(GraftExtensions.phashDescriptor)
    e.injectFunction(GraftExtensions.audioFpDescriptor)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // NOTE: bounded_ids_20 (an Aggregator udaf) registers only through
    // install(spark) — SparkSessionExtensions' injectFunction path takes
    // expression builders, and a udaf needs a live session's UDF
    // registry. spark.sql.extensions users call install() once at
    // session start for the full surface.
    ()
  }
}

object GraftExtensions {
  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"dot_product expects 2 arguments, got ${args.length}")
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    DotProduct(Cast(args.head, ArrayType(DoubleType)),
      Cast(args(1), ArrayType(DoubleType)))
  }

  private[graft] val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      build)

  private def buildSimhash(args: Seq[Expression]): Expression = {
    require(args.nonEmpty && args.length <= 2,
      s"simhash64 expects 1-2 arguments, got ${args.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bits = args.drop(1).headOption match {
      case Some(Literal(b: Int, _)) => b
      case None => 60
      case other => throw new IllegalArgumentException(
        s"simhash64 bits must be an integer literal, got $other")
    }
    graft.functions.expressions.SimHash64(args.head, bits)
  }

  private[graft] val simhashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.functions.expressions.SimHash64].getName, "simhash64"),
      buildSimhash)

  private def buildMinhash(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(args.length == 3, s"minhash_sig expects (text, n, numHashes), got ${args.length} args")
    (args(1), args(2)) match {
      case (Literal(n: Int, _), Literal(h: Int, _)) =>
        graft.functions.expressions.MinHashSig(args.head, n, h)
      case other => throw new IllegalArgumentException(
        s"minhash_sig n/numHashes must be integer literals, got $other")
    }
  }

  private[graft] val minhashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[graft.functions.expressions.MinHashSig].getName, "minhash_sig"),
      buildMinhash)

  private def castVec(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    Cast(e, ArrayType(DoubleType))
  }

  private def buildQuantize(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"quantize_int8 expects 1 argument, got ${args.length}")
    graft.functions.expressions.QuantizeInt8(castVec(args.head))
  }

  private def buildDequantize(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"dequantize_int8 expects 1 argument, got ${args.length}")
    graft.functions.expressions.DequantizeInt8(args.head)
  }

  private def buildSignLsh(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(args.length == 3 || args.length == 4,
      s"sign_lsh64 expects (vec, dims, bits[, seed]), got ${args.length} args")
    (args(1), args(2), args.drop(3).headOption) match {
      case (Literal(d: Int, _), Literal(b: Int, _), seedLit) =>
        val seed = seedLit match {
          case None => 42L
          case Some(Literal(s: Int, _)) => s.toLong
          case Some(Literal(s: Long, _)) => s
          case other => throw new IllegalArgumentException(
            s"sign_lsh64 seed must be an integer literal, got $other")
        }
        graft.functions.expressions.SignLsh64(castVec(args.head), d, b, seed)
      case other => throw new IllegalArgumentException(
        s"sign_lsh64 dims/bits must be integer literals, got $other")
    }
  }

  private def buildNfc(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"nfc_normalize expects 1 argument, got ${args.length}")
    graft.functions.expressions.NfcNormalize(args.head)
  }

  private def buildPhash(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"phash64 expects 1 argument, got ${args.length}")
    graft.functions.expressions.PHash64(args.head)
  }

  private def buildAudioFp(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"audio_fp64 expects 1 argument, got ${args.length}")
    graft.functions.expressions.AudioFp64(args.head)
  }

  private[graft] val quantizeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("quantize_int8"),
      new ExpressionInfo(classOf[graft.functions.expressions.QuantizeInt8].getName, "quantize_int8"),
      buildQuantize)

  private[graft] val dequantizeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("dequantize_int8"),
      new ExpressionInfo(classOf[graft.functions.expressions.DequantizeInt8].getName, "dequantize_int8"),
      buildDequantize)

  private[graft] val signLshDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("sign_lsh64"),
      new ExpressionInfo(classOf[graft.functions.expressions.SignLsh64].getName, "sign_lsh64"),
      buildSignLsh)

  private[graft] val nfcDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.expressions.NfcNormalize].getName, "nfc_normalize"),
      buildNfc)

  private[graft] val phashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("phash64"),
      new ExpressionInfo(classOf[graft.functions.expressions.PHash64].getName, "phash64"),
      buildPhash)

  private[graft] val audioFpDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("audio_fp64"),
      new ExpressionInfo(classOf[graft.functions.expressions.AudioFp64].getName, "audio_fp64"),
      buildAudioFp)

  /** Register on an already-built session. */
  def install(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("dot_product"), dotProductDescriptor._2, build _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash64"), simhashDescriptor._2, buildSimhash _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_sig"), minhashDescriptor._2, buildMinhash _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("quantize_int8"), quantizeDescriptor._2, buildQuantize _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("dequantize_int8"), dequantizeDescriptor._2, buildDequantize _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("sign_lsh64"), signLshDescriptor._2, buildSignLsh _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("nfc_normalize"), nfcDescriptor._2, buildNfc _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("phash64"), phashDescriptor._2, buildPhash _)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("audio_fp64"), audioFpDescriptor._2, buildAudioFp _)
    // Aggregators register per-session through the UDF registry (the
    // FunctionRegistry path above is for expression builders). Default
    // cap 20 — SQL callers needing another cap register their own.
    spark.udf.register("bounded_ids_20", org.apache.spark.sql.functions.udaf(
      new graft.functions.BoundedIds(20), org.apache.spark.sql.Encoders.scalaLong))
    ()
  }
}

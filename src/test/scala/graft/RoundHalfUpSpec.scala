package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.round6
import graft.functions.expressions.RoundHalfUp

/** The fast HALF_UP round must be bit-identical to Spark's built-in
  * `round` on DOUBLE for every value class — uniform randoms,
  * tie-adversarial 7th-decimal values, huge magnitudes past the fast
  * gate, denormals, signed zeros and non-finites — because every scored
  * row the oracle hash-checks goes through it. */
class RoundHalfUpSpec extends SparkSpec {
  import spark.implicits._

  private def check(xs: Seq[Double], label: String): Unit = {
    val df = xs.toDF("x")
      .select(col("x"), round(col("x"), 6).as("builtin"),
        round6(col("x")).as("fast"))
    val bad = df.filter(
      !(col("builtin") <=> col("fast")) ||
        // -0.0 <=> 0.0 is true under SQL equality; compare the raw bits
        // driver-side below for the zero arms instead
        isnull(col("fast")) =!= isnull(col("builtin")))
      .collect()
    assert(bad.isEmpty, s"$label: ${bad.take(5).mkString("; ")}")
  }

  test("uniform randoms agree with the built-in (codegen path)") {
    val rnd = new scala.util.Random(42)
    check(Seq.fill(200000)((rnd.nextDouble() - 0.5) * 2000.0), "uniform")
    check(Seq.fill(50000)(rnd.nextGaussian() * 1e-3), "small gaussians")
  }

  test("tie-adversarial values (exact .5 at the rounding digit) agree") {
    // values whose shortest decimal ends in 5 exactly at the 7th place
    val ties = (0 until 20000).map(i => (i * 10 + 5) * 1e-7) ++
      (0 until 20000).map(i => -(i * 10 + 5) * 1e-7) ++
      Seq(0.1234565, -0.1234565, 1.0000005, -1.0000005, 999.9999995)
    check(ties, "ties")
  }

  test("magnitudes past the fast gate, denormals, zeros, non-finites") {
    val edge = Seq(
      1e9, -1e9, 1.23456789e12, -9.87e15, 1e300, -1e300,
      Double.MinPositiveValue, -Double.MinPositiveValue, 1e-300, -1e-300,
      0.0, -0.0, 1000.0000004999, -1000.0000004999)
    check(edge, "edges")
    // driver-side raw-bit agreement (SQL <=> treats -0.0 == 0.0), at
    // scale 6 and at PCA's scale 9 (unit-vector components, ties at the
    // 10th decimal)
    val rnd = new scala.util.Random(9)
    val scale9 = Seq(0.1234567895, -0.1234567895, 0.9999999995, -0.9999999995,
      0.0000000005, -0.0000000005, 0.5, 1e-10, -1e-10) ++
      (0 until 2000).map(i => (i * 10 + 5) * 1e-10) ++
      Seq.fill(20000)(rnd.nextDouble() * 2 - 1)
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    for ((scale, xs) <- Seq(6 -> (edge ++ nonFinite), 9 -> (edge ++ nonFinite ++ scale9));
         x <- xs) {
      val fast = RoundHalfUp.round(x, scale)
      val exact =
        if (x.isNaN || x.isInfinite) x
        else RoundHalfUp.exact(x, scale)
      assert(java.lang.Double.doubleToLongBits(fast) ==
        java.lang.Double.doubleToLongBits(exact),
        s"bit mismatch at $x (scale $scale): fast=$fast exact=$exact")
    }
  }

  test("interpreted twin agrees with generated code") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(50000)((rnd.nextDouble() - 0.5) * 2.0)
    val viaSpark = xs.toDF("x").select(round6(col("x"))).as[Double].collect()
    xs.zip(viaSpark).foreach { case (x, s) =>
      assert(java.lang.Double.doubleToLongBits(RoundHalfUp.round(x, 6)) ==
        java.lang.Double.doubleToLongBits(s), s"at $x")
    }
  }
}

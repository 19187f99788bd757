package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared round driver alone, over synthetic steps: one row per id
  * carrying value `v` and its previous (`p1`) and two-rounds-back
  * (`p2`) values, watched by the L1 terms |v - p1| and |v - p2|. */
class FixedPointSpec extends SparkSpec {
  import spark.implicits._

  private def state(vs: Double*): DataFrame =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .select(col("id"), col("v"), lit(null).cast("double").as("p1"),
        lit(null).cast("double").as("p2"))

  private def step(f: Column => Column): DataFrame => DataFrame =
    s => s.select(col("id"), f(col("v")).as("v"), col("v").as("p1"),
      col("p1").as("p2"))

  private def watch(tol: Double) = Some(FixedPoint.Watch(tol,
    abs(col("v") - col("p1")), abs(col("v") - col("p2"))))

  private def values(df: DataFrame): Seq[Double] =
    df.orderBy("id").select("v").as[Double].collect().toSeq

  private def loop(init: DataFrame, maxIters: Int, tol: Option[Double])
                  (f: Column => Column): (DataFrame, Int) =
    FixedPoint.run(init, maxIters, tol.flatMap(watch))(step(f))

  private def run(init: DataFrame, maxIters: Int, tol: Option[Double])
                 (f: Column => Column): (Seq[Double], Int) = {
    val (df, rounds) = loop(init, maxIters, tol)(f)
    (values(df), rounds)
  }

  private def local(maxIters: Int)(f: Double => Double): (Double, Int) =
    FixedPoint.runLocal(0.0, maxIters, Some(FixedPoint.LocalWatch[Double](0.0,
      (a, b) => math.abs(a - b))))(f)

  test("stops at a fixed point with the fixed-round result") {
    val settle = (v: Column) => least(v + 1, lit(3.0))
    // 0 -> 1 -> 2 -> 3 -> 3: the fourth round moves nothing
    assert(run(state(0.0, 2.0), 10, Some(0.0))(settle) == ((Seq(3.0, 3.0), 4)))
    assert(run(state(0.0, 2.0), 10, None)(settle) == ((Seq(3.0, 3.0), 10)))
    assert(local(10)(v => math.min(v + 1, 3.0)) == ((3.0, 4)))
  }

  test("a period-2 cycle stops only on an even remaining budget") {
    // 0 -> 1 -> 0 -> ...: d1 is never 0, d2 is 0 from the second round
    val flip = (v: Column) => lit(1.0) - v
    for ((cap, stop) <- Seq(10 -> 2, 9 -> 3)) {
      val (fixed, _) = run(state(0.0), cap, None)(flip)
      assert(run(state(0.0), cap, Some(0.0))(flip) == ((fixed, stop)), s"cap $cap")
      assert(local(cap)(1.0 - _) == ((fixed.head, stop)), s"cap $cap")
    }
  }

  test("tol > 0 stops on the sums its checkpoint jobs return") {
    // two rows halving from 1.0: d1 after round r is 2^-r, first <= 0.1 at r = 4
    val halve = (v: Column) => v / 2
    val ((df, rounds), jobs) = jobsOf(loop(state(1.0, 1.0), 50, Some(0.1))(halve))
    assert(rounds == 5 && values(df) == Seq(0.03125, 0.03125))
    // at tol = 0 the same loop never reaches an exact fixed point
    assert(run(state(1.0, 1.0), 8, Some(0.0))(halve)._2 == 8)
    // the job that checkpoints a round is its probe: no probe job
    assert(jobs == rounds, s"$jobs jobs for $rounds rounds")
  }

  test("a round's state is a checkpoint of exactly the step's columns") {
    val grow = (v: Column) => v + 1
    for (tol <- Seq(None, Some(0.0), Some(0.5))) {
      val (df, rounds) = loop(state(0.0, 5.0), 3, tol)(grow)
      assert(rounds == 3 && values(df) == Seq(3.0, 8.0), s"tol $tol")
      assert(df.columns.toSeq == Seq("id", "v", "p1", "p2"), s"tol $tol")
      df.queryExecution.logical match {
        case lr: LogicalRDD => assert(lr.rdd.isCheckpointed, s"tol $tol")
        case plan => fail(s"tol $tol: the state is not a checkpoint: $plan")
      }
    }
  }

  test("no probe on the final round") {
    var probes = 0
    val (v, rounds) = FixedPoint.runLocal(0.0, 3, Some(FixedPoint.LocalWatch[Double](
      0.0, (a, b) => { probes += 1; math.abs(a - b) })))(_ + 1)
    // round 0 reads d1, round 1 reads d1 and d2, round 2 is the last
    assert((v, rounds, probes) == ((3.0, 3, 3)))
    val grow = (v: Column) => v + 1
    val (_, watchedJobs) = jobsOf(loop(state(0.0), 1, Some(0.5))(grow))
    val (_, fixedJobs) = jobsOf(loop(state(0.0), 1, None)(grow))
    assert(watchedJobs == fixedJobs)
  }

  test("tol = 0: exactly one Spark job per round") {
    val ((df, rounds), jobs) =
      jobsOf(loop(state(0.0, 5.0), 6, Some(0.0))(v => v + 1))
    assert(values(df) == Seq(6.0, 11.0) && rounds == 6)
    assert(jobs == rounds, s"$jobs jobs for $rounds rounds")
  }

  test("runJobs: the round's own (d1, d2) is the probe; superseded states are released") {
    // a state is (round, value); each round halves the distance to 4
    // and reports |new - old| as d1 and |new - two back| as d2
    var released = Vector.empty[Int]
    def jobs(maxIters: Int, tol: Option[Double])(f: Double => Double) = {
      released = Vector.empty
      FixedPoint.runJobs[(Int, Double, Double)]((0, 0.0, Double.NaN), maxIters, tol,
        s => released :+= s._1) { case (r, v, p) =>
        val next = f(v)
        ((r + 1, next, v), (math.abs(next - v), if (p.isNaN) 0.0 else math.abs(next - p)))
      }
    }
    val ((r, v, _), rounds) = jobs(10, Some(0.0))(x => math.min(x + 1, 3.0))
    assert((v, rounds, r) == ((3.0, 4, 4)) && released == Vector(0, 1, 2, 3))
    // period-2 cycle: the same even-remainder rule as the other arms
    for ((cap, stop) <- Seq(10 -> 2, 9 -> 3))
      assert(jobs(cap, Some(0.0))(1.0 - _)._2 == stop, s"cap $cap")
    assert(jobs(5, None)(1.0 - _)._2 == 5)
    // a throwing round releases the state it was handed
    intercept[IllegalStateException](jobs(5, None)(x =>
      if (x >= 2.0) throw new IllegalStateException("boom") else x + 1))
    assert(released == Vector(0, 1, 2))
  }

  test("Stop refuses a negative or NaN tol and a negative cap, so every entry does") {
    def refusal(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val emb = Seq((1L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    for (tol <- Seq(-1.0, Double.NaN)) {
      assert(refusal(Stop.Converge(5, tol)).contains("tol >= 0"))
      // the two tol-taking forwarders build their policy first
      val (_, jobs) = jobsOf {
        assert(refusal(Graph.pageRankWatched(edges, tol = tol)).contains("tol >= 0"))
        assert(refusal(Cluster.kmeansAssignWatched(emb, "vec_id", "embedding",
          k = 1, maxIters = 5, tol = tol)).contains("tol >= 0"))
      }
      assert(jobs == 0, s"refused before any job, ran $jobs")
    }
    assert(refusal(Stop.Converge(-1)).contains("maxIters >= 0"))
    assert(refusal(Stop.Rounds(-1)).contains("n >= 0"))
    assert(Stop.Converge(0).maxIters == 0 && Stop.Rounds(0).maxIters == 0)
  }
}

package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, lit, sum, udf}

import graft.operators.Ckpt.CkptOps

/** When an iterative operator ([[Graph]]'s PageRank, PPR, LPA and label
  * spreading, [[Cluster]]'s Lloyd k-means) stops: its one policy
  * argument. Each policy checks its own fields once, at construction. */
sealed trait Stop {
  /** The round cap. */
  def maxIters: Int

  /** The watch tolerance of the watched tier; None on the fixed tier. */
  private[operators] def watchTol: Option[Double] = this match {
    case Stop.Rounds(_) => None
    case Stop.Converge(_, tol) => Some(tol)
  }
}

object Stop {
  /** The fixed-round oracle tier: exactly `n` rounds, no probe. */
  final case class Rounds(n: Int) extends Stop {
    require(n >= 0, s"Stop.Rounds needs n >= 0, got $n")
    def maxIters: Int = n
  }

  /** The watched tier: at most `maxIters` rounds, stopping early by the
    * [[FixedPoint]] stop rule at `tol`. `tol = 0.0` returns exactly what
    * `Rounds(maxIters)` returns. A NaN or negative tol could never meet
    * `d1 <= tol` (a probe every round for nothing), so it is refused. */
  final case class Converge(maxIters: Int, tol: Double = 0.0) extends Stop {
    require(maxIters >= 0, s"Stop.Converge needs maxIters >= 0, got $maxIters")
    require(tol >= 0.0, s"Stop.Converge needs tol >= 0 (not NaN), got $tol")
  }
}

/** The round loop shared by the iterative operators (PageRank, PPR,
  * LPA and label spreading in [[Graph]], Lloyd k-means in [[Cluster]]).
  * An operator supplies its update step and, on its watched tier, how a
  * round's movement is measured; the driver owns everything else: the
  * round counter and `maxIters` cap, the eager serialized checkpoint
  * ([[Ckpt]]) of every DataFrame round, the convergence probe, the stop
  * rule and the returned (state, roundsRun). Fixed-round tiers run the
  * same loop with no watch. Three arms, one per kind of state:
  *   - [[run]], a DataFrame state: PPR, LPA and label spreading;
  *   - [[runJobs]], a state each round materializes in one Spark job
  *     that also returns the round's movement: PageRank ([[RankKernel]]);
  *   - [[runLocal]], a driver-resident state: Lloyd k-means.
  * [[Graph.kCore]] and [[Dedup.connectedComponents]] run their own
  * loops: they throw at the cap instead of returning a partial state.
  *
  * ==Stop rule==
  * After round `r` (0-based) a watch reads two distances: `d1` between
  * the new state and the previous one, and `d2` between the new state
  * and the one two rounds back (read from the second round on). The
  * loop stops when
  *   - `d1 <= tol`; or
  *   - `d2 == 0` and the remaining budget `maxIters - (r + 1)` is even.
  *
  * Why `tol = 0` returns exactly what the fixed-round run at the same
  * cap returns (the oracle contract of every watched operator): every
  * update here is a pure function of the previous state (quantized onto
  * an exact grid), so `d1 == 0` is a fixed point that every later round
  * reproduces, and `d2 == 0` is an exact period-2 cycle — the state
  * revisits itself every two rounds, so after an EVEN number of further
  * rounds the full run ends on this very state. With an odd remainder
  * it would end on the cycle's other state, so the loop runs on; one
  * more round makes the remainder even. Quantized contractions do
  * settle into such adjacent-cell 2-cycles (synchronous LPA on a single
  * edge, PageRank on GraphSpec's 37-node mod graph), where a pure `d1`
  * watch would never fire.
  *
  * ==Probe==
  * The probe only decides whether to continue, so the final round has
  * none. A DataFrame state carries its previous values as columns, so
  * `d1`/`d2` are sums of non-negative per-row terms over the frame the
  * round just materialized ([[Watch]]).
  *   - `tol = 0`: the only question is whether a sum is EXACTLY zero, and
  *     accumulator bumps made while the checkpoint job materializes the
  *     frame answer it with no probe job. That decision is safe under
  *     re-execution: a retried or speculative task can only add its
  *     non-negative terms again, which inflates a non-zero sum but never
  *     makes it zero, and a truly zero sum has every term 0 however often
  *     its rows are recounted.
  *   - `tol > 0`: an inflated sum could miss `d1 <= tol` and change the
  *     stop round, so the sums come from one aggregate scan of the
  *     checkpointed frame instead.
  * A state materialized by one job per round ([[runJobs]]) has its
  * `d1`/`d2` summed inside that job, one partial per partition, and the
  * job's result is the probe: no accumulator and no aggregate scan. A
  * job's result comes from the one successful attempt of each task, so
  * this arm needs no re-execution argument, at any `tol`. A
  * driver-resident state ([[runLocal]]) is compared on the driver, with
  * no job at all. */
private[operators] object FixedPoint {

  /** Watch of a DataFrame loop: stop tolerance plus the per-row
    * movement terms against the previous state (`d1`) and the state two
    * rounds back (`d2`), evaluated over the round's output frame. Terms
    * are non-negative doubles; null counts as 0. */
  final case class Watch(tol: Double, d1: Column, d2: Column)

  /** Watch of a driver-resident loop: `dist(a, b)` is how far state `b`
    * moved from `a` — non-negative, 0 only when they are identical. */
  final case class LocalWatch[S](tol: Double, dist: (S, S) => Double)

  /** Runs `step` over a DataFrame state, checkpointing every round. */
  def run(init: DataFrame, maxIters: Int, watch: Option[Watch])
         (step: DataFrame => DataFrame): (DataFrame, Int) =
    watch match {
      case None =>
        loop(init, maxIters, None)(s => (step(s).ckptSer(), () => (0.0, 0.0)))
      case Some(Watch(tol, d1, d2)) if tol == 0.0 =>
        val sc = init.sparkSession.sparkContext
        val acc1 = sc.doubleAccumulator("fixedpoint_d1")
        val acc2 = sc.doubleAccumulator("fixedpoint_d2")
        val mark = udf { (a: java.lang.Double, b: java.lang.Double) =>
          if (a != null) acc1.add(a)
          if (b != null) acc2.add(b)
          true
        }.asNondeterministic()
        loop(init, maxIters, Some(tol)) { s =>
          acc1.reset(); acc2.reset()
          val next = step(s).withColumn("_moved", mark(d1, d2)).ckptSer()
          (next, () => (acc1.value.doubleValue, acc2.value.doubleValue))
        }
      case Some(Watch(tol, d1, d2)) =>
        loop(init, maxIters, Some(tol)) { s =>
          val next = step(s).ckptSer()
          (next, () => {
            val r = next.agg(coalesce(sum(d1), lit(0.0)),
              coalesce(sum(d2), lit(0.0))).head()
            (r.getDouble(0), r.getDouble(1))
          })
        }
    }

  /** Runs a loop whose every round is one Spark job: `round` materializes
    * the next state and returns it with the (d1, d2) that same job
    * returned, which is the probe. `release` frees each superseded state,
    * and the current one when a round throws. */
  def runJobs[S](init: S, maxIters: Int, tol: Option[Double], release: S => Unit)
                (round: S => (S, (Double, Double))): (S, Int) =
    loop(init, maxIters, tol) { s =>
      val (next, d) = try round(s) catch { case e: Throwable => release(s); throw e }
      release(s)
      (next, () => d)
    }

  /** Runs `step` over a driver-resident state (no checkpoint, no job). */
  def runLocal[S](init: S, maxIters: Int, watch: Option[LocalWatch[S]] = None)
                 (step: S => S): (S, Int) = {
    val ((_, last), rounds) =
      loop[(Option[S], S)]((None, init), maxIters, watch.map(_.tol)) {
        case (prev, cur) =>
          val next = step(cur)
          def dist(a: S) = watch.get.dist(a, next)
          ((Some(cur), next), () => (dist(cur), prev.fold(-1.0)(dist)))
      }
    (last, rounds)
  }

  /** `round` runs one update and returns the new state with its probe;
    * the probe runs only when a watch is set and a round remains. */
  private def loop[S](init: S, maxIters: Int, tol: Option[Double])
                     (round: S => (S, () => (Double, Double))): (S, Int) = {
    @tailrec def go(state: S, r: Int): (S, Int) =
      if (r >= maxIters) (state, r)
      else {
        val (next, probe) = round(state)
        val remaining = maxIters - (r + 1)
        val stop = remaining > 0 && tol.exists { t =>
          val (d1, d2) = probe()
          d1 <= t || (r >= 1 && d2 == 0.0 && remaining % 2 == 0)
        }
        if (stop) (next, r + 1) else go(next, r + 1)
      }
    go(init, 0)
  }
}

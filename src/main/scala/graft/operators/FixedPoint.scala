package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}

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
  * round counter and `maxIters` cap, the convergence probe, the stop
  * rule and the returned (state, roundsRun). Fixed-round tiers run the
  * same loop with no watch. Three entries, one per kind of state, share
  * that loop:
  *   - [[run]], a DataFrame state: PPR, LPA and label spreading. Each
  *     round is checkpointed by one job, [[Ckpt]]'s `materialize`;
  *   - [[runJobs]], a state the operator materializes in one Spark job
  *     of its own: PageRank ([[RankKernel]]);
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
  * The probe only decides whether to continue, so the final round reads
  * none. A state that lives in Spark is probed one way, at every `tol`:
  * the job that materializes a round also returns its `d1`/`d2`, one
  * partial per partition added in partition-index order, and that job
  * result is the probe, with no further job. A DataFrame state carries
  * its previous values as columns, so its `d1`/`d2` are sums of
  * non-negative per-row terms ([[Watch]]) over the frame its checkpoint
  * job computes; a [[runJobs]] round sums them inside its own job. A
  * job's result comes from the one successful attempt of each task, so
  * a retried or speculative task cannot count its rows twice. A
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

  /** Runs `step` over a DataFrame state. Each round is checkpointed by
    * one job ([[Ckpt]]'s `materialize`), which also returns the watch's
    * (d1, d2): that job result is the probe. */
  def run(init: DataFrame, maxIters: Int, watch: Option[Watch])
         (step: DataFrame => DataFrame): (DataFrame, Int) = {
    val terms = watch.toSeq.flatMap(w => Seq(w.d1, w.d2))
    loop(init, maxIters, watch.map(_.tol)) { s =>
      val (next, d) = step(s).materialize(terms: _*)
      (next, () => (d(0), d(1)))
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

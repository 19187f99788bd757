package graft.operators

import graft.operators.Pq.Codebooks

/** Driver-side PQ codec for PqSpec; no query path uses it. */
object PqReference {

  /** Driver-side reference encoder — the parity oracle PqSpec pins the
    * expression against (same sequential distance sum, same first-win
    * argmin). */
  def encodeRef(v: Array[Double], cb: Codebooks): Array[Int] =
    Array.tabulate(cb.m) { mi =>
      var best = Double.PositiveInfinity
      var bestC = 0
      for (c <- 0 until cb.k) {
        var d = 0.0
        for (j <- 0 until cb.dsub) {
          val diff = v(mi * cb.dsub + j) - cb.cents(mi)(c)(j)
          d += diff * diff
        }
        if (d < best) { best = d; bestC = c }
      }
      bestC
    }

  /** Reconstruction of a code array (centroid concatenation) — used for
    * MSE diagnostics, not in any query path. */
  def decodeRef(codes: Array[Int], cb: Codebooks): Array[Double] =
    Array.tabulate(cb.dims)(i => cb.cents(i / cb.dsub)(codes(i / cb.dsub))(i % cb.dsub))
}

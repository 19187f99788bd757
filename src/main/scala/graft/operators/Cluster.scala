package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{asDouble, dot}

/** Deterministic Lloyd's k-means over an embedding column.
  *
  * [[Knn.ivfAssign]] (spark.ml KMeans) is the production clustering for
  * IVF layouts — fast, sampled init, but seed- and partition-order-
  * dependent, so its assignments can't be replayed by another engine.
  * This operator is the ORACLE-GRADE tier: fixed deterministic init
  * (the k lowest-id vectors), a fixed round count, and re-quantized
  * arithmetic, so an independent engine replaying the same update rule
  * produces bit-identical clusters. That buys two things: (1) a
  * hash-checkable correctness gate for distributed clustering itself,
  * and (2) reproducible cluster assignments for curation decisions
  * (topic balancing, SemDeDup blocking) that must not drift between
  * runs or engines.
  *
  * Engine-portable determinism (the repo-wide oracle stance):
  *   - distances round to 6 decimals BEFORE the argmin, ties break to
  *     the smaller cluster id;
  *   - centroid means round to 6 decimals after EVERY round, so two
  *     engines whose per-cluster sums differ in the last float bit
  *     re-quantize to identical centroids instead of compounding;
  *   - the distance is spelled `v.v - 2*(v.c) + c.c` with `c.c`
  *     precomputed sequentially — the exact shape the SQL replay uses.
  *
  * Scale posture: assignment is zero-shuffle (codegen'd dot products
  * against literal centroids); the update is one posexplode + two-phase
  * avg per round, whose exchange carries O(partitions * k * dims)
  * partial sums — never n*dims rows. The k*dims centroid matrix is the
  * documented bounded driver scalar (the nprobe/MMR stance): k <= a few
  * thousand at any realistic layout. A cluster that loses every member
  * drops for subsequent rounds (matching the SQL replay, where an empty
  * group simply produces no centroid row).
  */
object Cluster {

  /** Fit centroids by `iters` fixed Lloyd rounds; returns
    * (clusterId -> centroid), possibly missing ids whose clusters
    * emptied. Init = the `k` lowest-id vectors, cluster ids 0..k-1 in
    * id order. */
  def fitCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): Map[Int, Array[Double]] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    // Persisted for the loop's lifetime (r16, guide §5): every Lloyd
    // round is one pass over (id, v) — unpersisted, each round re-reads
    // the source and re-casts the vectors; at corpus scale that is
    // `iters` redundant scans. Disk-backed so a corpus-scale base
    // degrades gracefully instead of evicting execution memory.
    val base = baseOf(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try lloyd(base, firstK(base, k), iters)
    finally { base.unpersist(); () }
  }

  // init = the k lowest-id vectors, cluster ids 0..k-1 in id order
  private def firstK(base: DataFrame, k: Int): Map[Int, Array[Double]] =
    base.orderBy("id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray).zipWithIndex
      .map { case (v, i) => i -> v }.toMap

  // null vectors carry no signal and would diverge engines at the
  // struct-min argmin (NULL-dist semantics differ) — drop them
  private def baseOf(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
      .where(col("id").isNotNull && col("v").isNotNull)

  private def lloyd(base: DataFrame, init: Map[Int, Array[Double]],
                    iters: Int): Map[Int, Array[Double]] =
    FixedPoint.runLocal(init, iters)(lloydUpdate(base, _))._1

  /** One Lloyd round: argmin assignment against the literal centroids,
    * then 6-decimal-requantized per-cluster coordinate means. The
    * returned map is the ONLY corpus-derived driver state — k*dims
    * doubles, the documented bounded scalar. */
  private def lloydUpdate(base: DataFrame,
                          centroids: Map[Int, Array[Double]]): Map[Int, Array[Double]] =
    base.withColumn("cluster", nearest(col("v"), centroids).getField("cl"))
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy("cluster", "pos").agg(round(avg("val"), 6).as("cm"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (cl, rows) => cl -> rows.sortBy(_._2).map(_._3) }

  /** Convergence-watched Lloyd — the 100 TB fit mode (the
    * [[graft.operators.Graph.pageRankWatched]] discipline applied to
    * clustering): iterate until the requantized centroid map stops
    * moving, instead of paying a fixed worst-case round count on a
    * corpus that usually stabilizes in a handful of rounds. Returns
    * (centroids, roundsRun).
    *
    * Unlike the graph family, the watch here is FREE: the k*dims
    * centroid matrix is already collected to the driver every round
    * (the documented bounded scalar), so the shift probe is a driver-
    * side array comparison — no extra Spark job, no extra exchange.
    *
    * Stop rules — the [[FixedPoint]] driver's, which also states why
    * early-stopping at `tol = 0.0` is INDISTINGUISHABLE from running
    * the remaining rounds (what makes it oracle-checkable against a
    * fixed-`maxIters` replay):
    *   - fixed point: the new map equals the old EXACTLY (same
    *     surviving clusters, identical 6-decimal coordinates);
    *   - `tol > 0` (production): stop when every surviving cluster
    *     moved less than tol in L2 and no cluster emptied — the usual
    *     relative-movement stop, NOT cold-equivalent (document the
    *     knob, don't oracle it);
    *   - period-2 cycle: an EXACT revisit of the two-rounds-back map,
    *     accepted only with an even remaining budget (quantized Lloyd
    *     can in principle oscillate the way the quantized graph
    *     contractions measurably do).
    *
    * `init` = warm start (the [[kmeansAssignWarm]] contract: centroids
    * derive from a prior assignment, which IS the next Lloyd update) —
    * warm+watched is the daily-increment mode: yesterday's structure
    * enters as round 0, an unchanged corpus confirms in 1 round, a
    * locally perturbed one converges in rounds proportional to the
    * perturbation, never the cold-start distance. */
  def fitCentroidsWatched(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int, maxIters: Int, tol: Double = 0.0,
                          init: Option[DataFrame] = None): (Map[Int, Array[Double]], Int) = {
    require(k >= 1 && maxIters >= 0 && tol >= 0.0,
      s"need k >= 1, maxIters >= 0, tol >= 0; got $k, $maxIters, $tol")
    // Persisted for the loop's lifetime (r16, the [[fitCentroids]]
    // rationale): the watched fit pays up to `maxIters` passes over
    // (id, v); one cache fills on round 1 and every later round reads it.
    val base = baseOf(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // An exact repeat reads 0; at tol > 0 a shift below tol reads as
    // tol itself, which passes the driver's d1 <= tol stop but is no
    // exact period-2 revisit.
    val moved = (a: Map[Int, Array[Double]], b: Map[Int, Array[Double]]) =>
      if (sameCentroids(a, b)) 0.0
      else if (tol > 0.0 && shiftBelow(a, b, tol)) tol
      else Double.PositiveInfinity
    try {
      val cents0 = init match {
        case Some(assign) => centroidsOf(emb, idCol, vecCol, assign)
        case None => firstK(base, k)
      }
      FixedPoint.runLocal(cents0, maxIters,
        Some(FixedPoint.LocalWatch(tol, moved)))(lloydUpdate(base, _))
    } finally { base.unpersist(); () }
  }

  /** Watched assignment: [[fitCentroidsWatched]] then one zero-shuffle
    * argmin pass — same (id, cluster, dist) schema as [[kmeansAssign]],
    * and bit-identical to it at `tol = 0.0` by the stop rules above.
    * Returns (assignment, roundsRun); `k` is ignored when `init` is
    * given (centroids derive from the prior assignment). */
  def kmeansAssignWatched(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int, maxIters: Int, tol: Double = 0.0,
                          init: Option[DataFrame] = None): (DataFrame, Int) = {
    val (cents, rounds) =
      fitCentroidsWatched(emb, idCol, vecCol, k, maxIters, tol, init)
    (assignWith(baseOf(emb, idCol, vecCol), cents), rounds)
  }

  // exact equality of two quantized centroid maps (coordinates are
  // exact 6-decimal-rounded doubles, so == is well-defined)
  private def sameCentroids(a: Map[Int, Array[Double]],
                            b: Map[Int, Array[Double]]): Boolean =
    a.keySet == b.keySet && a.forall { case (cl, v) =>
      java.util.Arrays.equals(v, b(cl))
    }

  // production-tol stop: no cluster emptied and every centroid moved
  // < tol in L2
  private def shiftBelow(a: Map[Int, Array[Double]],
                         b: Map[Int, Array[Double]], tol: Double): Boolean =
    a.keySet == b.keySet && a.forall { case (cl, v) =>
      val w = b(cl)
      var s = 0.0
      var i = 0
      while (i < v.length) { val d = v(i) - w(i); s += d * d; i += 1 }
      math.sqrt(s) < tol
    }

  /** The Lloyd update step computed FROM a persisted (id, cluster)
    * assignment instead of an in-loop argmin: per-cluster coordinate
    * means, 6-decimal-rounded — bit-identical to what the fit loop
    * would produce from the same assignment, which is what makes
    * [[kmeansAssignWarm]]'s cold-equivalence contract exact. Vectors
    * absent from `assign` (new data since the prior run) contribute to
    * no centroid; they re-enter at the next assignment's argmin. */
  def centroidsOf(emb: DataFrame, idCol: String, vecCol: String,
                  assign: DataFrame): Map[Int, Array[Double]] =
    baseOf(emb, idCol, vecCol)
      .join(assign.select(col("id").cast("long").as("id"),
        col("cluster").cast("int").as("cluster")), "id")
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy("cluster", "pos").agg(round(avg("val"), 6).as("cm"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (cl, rows) => cl -> rows.sortBy(_._2).map(_._3) }

  /** Assign every vector to its nearest fitted centroid:
    * (id, cluster, dist) with dist = the 6-decimal-rounded squared L2
    * distance used for the argmin. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame =
    assignWith(baseOf(emb, idCol, vecCol),
      fitCentroids(emb, idCol, vecCol, k, iters))

  /** Warm-start assignment: resume Lloyd from the centroids a prior
    * (id, cluster) assignment implies, run `iters` further update
    * rounds, and re-assign — the incremental re-cluster mode (a grown
    * corpus re-clusters from yesterday's structure in 0-1 rounds
    * instead of a cold fit). EXACT cold-equivalence contract, because
    * deriving centroids from an assignment IS the next Lloyd update:
    * `kmeansAssignWarm(emb, kmeansAssign(emb, k, i), j)` equals
    * `kmeansAssign(emb, k, i + 1 + j)` bit-for-bit on unchanged data
    * (spec-pinned, and hash-gated against a cold cluster_kmeans oracle
    * replay with the extra round). New vectors missing from `init`
    * join at the first argmin; clusters that lost every member drop,
    * matching the fit loop's empty-group rule. */
  def kmeansAssignWarm(emb: DataFrame, idCol: String, vecCol: String,
                       init: DataFrame, iters: Int): DataFrame = {
    val base = baseOf(emb, idCol, vecCol)
    assignWith(base, lloyd(base, centroidsOf(emb, idCol, vecCol, init), iters))
  }

  private def assignWith(base: DataFrame,
                         centroids: Map[Int, Array[Double]]): DataFrame =
    base.withColumn("b", nearest(col("v"), centroids))
      .select(col("id"), col("b.cl").as("cluster"), col("b.d").as("dist"))

  /** The argmin-by-(dist, cluster) struct over literal centroids:
    * `least` of one (dist, clusterId) struct per centroid — struct
    * comparison is lexicographic, so equal distances break to the
    * smaller cluster id. Entirely codegen'd expressions; no shuffle,
    * no UDF. */
  private def nearest(vecCol: Column,
                      centroids: Map[Int, Array[Double]]): Column = {
    require(centroids.nonEmpty, "all clusters emptied — lower k")
    val structs = centroids.toSeq.sortBy(_._1).map { case (cl, c) =>
      val cc = selfDot(c)
      val d = round(dot(vecCol, vecCol) - lit(2) * dot(vecCol, typedLit(c.toSeq))
        + lit(cc), 6)
      struct(d.as("d"), lit(cl).as("cl"))
    }
    if (structs.size == 1) structs.head else least(structs: _*)
  }

  /** Sequential self inner product — same order as the engines'
    * list_inner_product, so the embedded literal is bit-identical to
    * what a replaying engine computes. */
  private def selfDot(c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }
}

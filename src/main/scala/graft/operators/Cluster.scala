package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions.{asDouble, dot}
import graft.functions.expressions.{DotProduct, RoundHalfUp}

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
  * Scale posture: a Lloyd round is ONE Spark job over the cached
  * (id, v) rows, planned and code-generated once per call, not once per
  * round. Each task assigns its vectors in Scala with the arithmetic of
  * the [[nearest]] expression and returns per-cluster coordinate sums
  * and non-null counts; the driver merges them in partition-index order
  * (a fixed summation order) and rounds each mean to 6 decimals. The
  * rows are coalesced, without a shuffle, into at most
  * `defaultParallelism` contiguous partition ranges, so a round brings
  * at most parallelism * k * dims partial sums to the driver — never
  * n*dims values. The k*dims centroid matrix is the documented bounded
  * driver scalar (the nprobe/MMR stance): k <= a few thousand at any
  * realistic layout. A cluster that loses every member drops for
  * subsequent rounds (matching the SQL replay, where an empty group
  * simply produces no centroid row). The final assignment stays a
  * zero-shuffle DataFrame over literal centroids.
  */
object Cluster {

  private type Centroids = Map[Int, Array[Double]]

  /** Fit centroids by Lloyd rounds under the [[FixedPoint]] driver;
    * returns ((clusterId -> centroid), rounds run), possibly missing ids
    * whose clusters emptied. Cold init = the `k` lowest-id vectors,
    * cluster ids 0..k-1 in id order.
    *
    * `stop`:
    *   - `Stop.Rounds(n)`: exactly `n` Lloyd rounds, the oracle tier.
    *   - `Stop.Converge(maxIters, tol)`: the 100 TB fit mode (the
    *     [[Graph.pageRank]] watched discipline applied to clustering):
    *     iterate until the requantized centroid map stops moving,
    *     instead of paying a fixed worst-case round count on a corpus
    *     that usually stabilizes in a handful of rounds. Unlike the
    *     graph family, the watch here is FREE: the k*dims centroid
    *     matrix is already collected to the driver every round (the
    *     documented bounded scalar), so the shift probe is a driver-side
    *     array comparison — no extra Spark job, no extra exchange. Stop
    *     rules — the [[FixedPoint]] driver's, which also states why
    *     early-stopping at `tol = 0.0` is INDISTINGUISHABLE from running
    *     the remaining rounds (what makes it oracle-checkable against
    *     the `Rounds(maxIters)` replay):
    *     - fixed point: the new map equals the old EXACTLY (same
    *       surviving clusters, identical 6-decimal coordinates);
    *     - `tol > 0` (production): stop when every surviving cluster
    *       moved less than tol in L2 and no cluster emptied — the usual
    *       relative-movement stop, NOT cold-equivalent (document the
    *       knob, don't oracle it);
    *     - period-2 cycle: an EXACT revisit of the two-rounds-back map,
    *       accepted only with an even remaining budget (quantized Lloyd
    *       can in principle oscillate the way the quantized graph
    *       contractions measurably do).
    *
    * `init` = warm start, on either tier: round 0's centroids derive
    * from a prior (id, cluster) assignment ([[centroidsOf]]), which IS
    * the next Lloyd update, and `k` is then ignored. With `Rounds(j)`
    * this is the incremental re-cluster mode with an EXACT
    * cold-equivalence contract: warm(cold(i), j) == cold(i + 1 + j)
    * (see [[kmeansAssign]]). With `Converge` it is the daily-increment
    * mode: yesterday's structure enters as round 0, an unchanged corpus
    * confirms in 1 round, a locally perturbed one converges in rounds
    * proportional to the perturbation, never the cold-start distance.
    *
    * The (id, v) base is persisted for the loop's lifetime (r16, guide
    * §5): every round is one pass over it — unpersisted, each round
    * would re-read the source and re-cast the vectors. Disk-backed so a
    * corpus-scale base degrades gracefully instead of evicting execution
    * memory; the init runs against it, so its first job fills the
    * cache. */
  def fitCentroids(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   stop: Stop, init: Option[DataFrame] = None)
      : (Map[Int, Array[Double]], Int) = {
    require(k >= 1, s"need k >= 1; got $k")
    // An exact repeat reads 0; at tol > 0 a shift below tol reads as
    // tol itself, which passes the driver's d1 <= tol stop but is no
    // exact period-2 revisit.
    val watch = stop.watchTol.map { tol =>
      FixedPoint.LocalWatch[Centroids](tol, (a, b) =>
        if (sameCentroids(a, b)) 0.0
        else if (tol > 0.0 && shiftBelow(a, b, tol)) tol
        else Double.PositiveInfinity)
    }
    val base = baseOf(emb, idCol, vecCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val step = lloydStep(base)
      val c0 = init.fold(firstK(base, k))(centroidsOf(emb, idCol, vecCol, _))
      FixedPoint.runLocal(c0, stop.maxIters, watch)(step)
    } finally { base.unpersist(); () }
  }

  // init = the k lowest-id vectors, cluster ids 0..k-1 in id order
  private def firstK(base: DataFrame, k: Int): Centroids =
    base.orderBy("id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray).zipWithIndex
      .map { case (v, i) => i -> v }.toMap

  // null vectors carry no signal and would diverge engines at the
  // struct-min argmin (NULL-dist semantics differ) — drop them
  private def baseOf(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
      .where(col("id").isNotNull && col("v").isNotNull)

  /** One Lloyd round over an (id, v) frame, planned once: every call of
    * the returned step is a single job over the same physical rows —
    * argmin against the given centroids, then 6-decimal-requantized
    * per-cluster coordinate means. The returned map is the ONLY
    * corpus-derived driver state — k*dims doubles, the documented
    * bounded scalar. */
  private[graft] def lloydStep(base: DataFrame): Centroids => Centroids = {
    val rows = rowsOf(base)
    centroids => {
      require(centroids.nonEmpty, "all clusters emptied — lower k")
      val ids = centroids.keys.toArray.sorted
      val cs = ids.map(centroids)
      val cc = cs.map(selfDot)
      meansOf(rows.mapPartitions { it =>
        val us: Array[ArrayData] = cs.map(UnsafeArrayData.fromPrimitiveArray)
        val sums = new Sums
        it.foreach { r =>
          val v = r.getArray(1)
          sums.add(ids(nearestIndex(v, us, cc)), v)
        }
        Iterator.single(sums)
      })
    }
  }

  /** The [[nearest]] argmin for one vector, bit for bit: the same
    * sequential dot products, `(v.v - 2*(v.c)) + c.c` rounded as Spark's
    * `round(_, 6)`, compared under Spark's double ordering (NaN largest,
    * -0.0 == 0.0), equal distances keeping the earlier — smaller —
    * cluster id. Returns the index into `cs`. */
  private def nearestIndex(v: ArrayData, cs: Array[ArrayData], cc: Array[Double]): Int = {
    val vv = DotProduct.of(v, v)
    var best = 0
    var bestD = 0.0
    var j = 0
    while (j < cs.length) {
      val d = RoundHalfUp.exact((vv - 2.0 * DotProduct.of(v, cs(j))) + cc(j), 6)
      if (j == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** Per-cluster coordinate sums and non-null counts — the `avg`
    * buffers of one partition, or of several merged in order. A null
    * element is skipped, as `avg` skips it. A cluster's buffers take the
    * length of its first vector; a vector of another length is refused
    * as the dot product refuses it. */
  private final class Sums extends Serializable {
    private val acc = mutable.HashMap.empty[Int, (Array[Double], Array[Long])]

    private def buffers(cl: Int, n: Int): (Array[Double], Array[Long]) = {
      val b = acc.getOrElseUpdate(cl, (new Array[Double](n), new Array[Long](n)))
      if (b._1.length != n) throw DotProduct.dimMismatch(n, b._1.length)
      b
    }

    def add(cl: Int, v: ArrayData): Unit = {
      val n = v.numElements()
      val (s, c) = buffers(cl, n)
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) { s(i) += v.getDouble(i); c(i) += 1 }
        i += 1
      }
    }

    def merge(o: Sums): Sums = {
      o.acc.foreach { case (cl, (s2, c2)) =>
        val (s, c) = buffers(cl, s2.length)
        var i = 0
        while (i < s2.length) { s(i) += s2(i); c(i) += c2(i); i += 1 }
      }
      this
    }

    def means: Centroids = acc.map { case (cl, (s, c)) =>
      cl -> Array.tabulate(s.length) { i =>
        if (c(i) == 0) throw new IllegalArgumentException(
          s"k-means: cluster $cl has no non-null value at position $i")
        RoundHalfUp.exact(s(i) / c(i), 6)
      }
    }.toMap
  }

  // one Sums per partition, merged in partition-index order
  private def meansOf(partials: RDD[Sums]): Centroids =
    partials.collect().foldLeft(new Sums)(_ merge _).means

  // the physical rows of `df` in at most defaultParallelism partitions
  private def rowsOf(df: DataFrame): RDD[InternalRow] = {
    val rdd = df.queryExecution.toRdd
    rdd.coalesce(rdd.sparkContext.defaultParallelism, shuffle = false, Some(Contiguous))
  }

  /** Groups a parent's partitions into contiguous index ranges, so each
    * coalesced partition reads its rows in parent-partition order and
    * the merge order never depends on where the blocks live. */
  private object Contiguous extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val ps = parent.partitions
      val n = math.min(maxPartitions, ps.length)
      Array.tabulate(n) { i =>
        val g = new PartitionGroup(None)
        g.partitions ++= ps.slice((i.toLong * ps.length / n).toInt,
          ((i + 1).toLong * ps.length / n).toInt)
        g
      }
    }
  }

  // exact equality of two quantized centroid maps (coordinates are
  // exact 6-decimal-rounded doubles, so == is well-defined)
  private def sameCentroids(a: Centroids, b: Centroids): Boolean =
    a.keySet == b.keySet && a.forall { case (cl, v) =>
      java.util.Arrays.equals(v, b(cl))
    }

  // production-tol stop: no cluster emptied and every centroid moved
  // < tol in L2
  private def shiftBelow(a: Centroids, b: Centroids, tol: Double): Boolean =
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
    * would produce from the same assignment, which is what makes the
    * warm [[kmeansAssign]]'s cold-equivalence contract exact. Vectors
    * absent from `assign` (new data since the prior run) contribute to
    * no centroid; they re-enter at the next assignment's argmin. */
  def centroidsOf(emb: DataFrame, idCol: String, vecCol: String,
                  assign: DataFrame): Map[Int, Array[Double]] =
    meansOf(rowsOf(baseOf(emb, idCol, vecCol)
      .join(assign.select(col("id").cast("long").as("id"),
        col("cluster").cast("int").as("cluster")), "id")
      .select("cluster", "v")).mapPartitions { it =>
      val sums = new Sums
      it.foreach { r =>
        require(!r.isNullAt(0), "k-means: an assignment row has a null cluster")
        sums.add(r.getInt(0), r.getArray(1))
      }
      Iterator.single(sums)
    })

  /** Assign every vector to its nearest centroid fitted by
    * [[fitCentroids]] under the same `stop` and `init`, in one
    * zero-shuffle argmin pass: returns ((id, cluster, dist), rounds
    * run) with dist = the 6-decimal-rounded squared L2 distance used for
    * the argmin. `Stop.Converge(maxIters)` at `tol = 0.0` is
    * bit-identical to `Stop.Rounds(maxIters)` by the stop rules.
    *
    * Warm start (`init` = a prior (id, cluster) assignment; `k` is
    * ignored): resume Lloyd from the centroids the prior assignment
    * implies, run the further update rounds, and re-assign — the
    * incremental re-cluster mode (a grown corpus re-clusters from
    * yesterday's structure in 0-1 rounds instead of a cold fit). EXACT
    * cold-equivalence contract, because deriving centroids from an
    * assignment IS the next Lloyd update: warm(cold(i), j) ==
    * cold(i + 1 + j), i.e. `kmeansAssign(emb, …, Rounds(j),
    * init = Some(kmeansAssign(emb, …, k, Rounds(i))._1))` equals
    * `kmeansAssign(emb, …, k, Rounds(i + 1 + j))` bit-for-bit on
    * unchanged data (spec-pinned, and hash-gated against a cold
    * cluster_kmeans oracle replay with the extra round). New vectors
    * missing from `init` join at the first argmin; clusters that lost
    * every member drop, matching the fit loop's empty-group rule. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   stop: Stop, init: Option[DataFrame] = None): (DataFrame, Int) = {
    val (cents, rounds) = fitCentroids(emb, idCol, vecCol, k, stop, init)
    (assignWith(baseOf(emb, idCol, vecCol), cents), rounds)
  }

  /** [[kmeansAssign]] on the watched tier. */
  def kmeansAssignWatched(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int, maxIters: Int, tol: Double = 0.0,
                          init: Option[DataFrame] = None): (DataFrame, Int) =
    kmeansAssign(emb, idCol, vecCol, k, Stop.Converge(maxIters, tol), init)

  private def assignWith(base: DataFrame, centroids: Centroids): DataFrame =
    base.withColumn("b", nearest(col("v"), centroids))
      .select(col("id"), col("b.cl").as("cluster"), col("b.d").as("dist"))

  /** The argmin-by-(dist, cluster) struct over literal centroids:
    * `least` of one (dist, clusterId) struct per centroid — struct
    * comparison is lexicographic, so equal distances break to the
    * smaller cluster id. Entirely codegen'd expressions; no shuffle,
    * no UDF. */
  private def nearest(vecCol: Column, centroids: Centroids): Column = {
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

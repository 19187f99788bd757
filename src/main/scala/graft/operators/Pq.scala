package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{asDouble, round6}

/** Product quantization (PQ) for vector search at the 100 TB tier
  * (Jégou et al. 2011): split each `m·dsub`-dim vector into `m`
  * subvectors, quantize each against a per-subspace codebook of `k`
  * centroids, and store only the `m` small codes — `m` bytes instead of
  * `4·m·dsub` (32× at the standard m=8/k=256 over 64 float dims; the
  * int8 tier in [[graft.functions.VectorFunctions.quantizeInt8]] is 4×).
  *
  * Query-time scoring is ADC (asymmetric distance computation): one
  * `m × k` lookup table of `query_sub · centroid` inner products is
  * built per query on the driver — O(m·k·dsub), corpus-independent —
  * and each stored vector scores as the sum of `m` table lookups, never
  * touching the original floats. The scan reads the codes column only:
  * at 1000 executors that is the difference between shipping 100 TB of
  * floats and ~3 TB of codes through the scorers.
  *
  * Extends the reference's storage/recompute trade (PQ is what its HNSW
  * backend calls "compact" storage, `src/backend/hnsw.rs:30-44`; the
  * recompute path `src/index/recompute.rs:52-123` is our exact re-rank
  * stage). Distance/argmin determinism contract documented on
  * [[graft.functions.expressions.PqEncode]] — the DuckDB oracle
  * reproduces encode + ADC bit-for-bit from the seed codebooks.
  */
object Pq {
  /** Trained PQ model: `cents(sub)(code)` is a `dsub`-dim centroid. */
  case class Codebooks(m: Int, k: Int, dsub: Int,
      cents: Array[Array[Array[Double]]]) {
    require(cents.length == m && cents.forall(_.length == k) &&
      cents.forall(_.forall(_.length == dsub)), "codebook shape mismatch")
    def dims: Int = m * dsub
    /** Row-major flat layout `[(sub * k + code) * dsub + j]` for the
      * encoder expression. */
    def flat: IndexedSeq[Double] =
      cents.flatMap(_.flatMap(_.toIndexedSeq)).toIndexedSeq
  }

  /** ==ORACLE FORMULATION ONLY — not a production entry point.==
    * Codebooks taken verbatim from the subvector slices of the `k`
    * lowest-id rows (a deterministic sample init, no Lloyd iterations),
    * so a DuckDB oracle can rebuild the identical codebooks from the
    * same table and check encode + ADC end-to-end. Production models
    * come from [[trainCodebooks]] (per-subspace KMeans). */
  def seedCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Codebooks = {
    val rows = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(col(idCol)).limit(k).collect()
    require(rows.length == k, s"need $k seed rows, table has ${rows.length}")
    val dims = rows.head.getSeq[Double](1).length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val dsub = dims / m
    val cents = Array.tabulate(m, k) { (mi, c) =>
      rows(c).getSeq[Double](1).slice(mi * dsub, (mi + 1) * dsub).toArray
    }
    Codebooks(m, k, dsub, cents)
  }

  /** Production training: one KMeans per subspace over the (optionally
    * sampled) corpus — m small fits on `dsub`-dim points, distributed
    * by Spark ML; nothing corpus-sized reaches the driver. At 100 TB
    * train on a fraction (1-10M vectors is plenty for k=256 centroids
    * per subspace); encoding always runs over the full table. */
  def trainCodebooks(emb: DataFrame, vecCol: String, m: Int, k: Int,
      seed: Long = 42L, sampleFraction: Double = 1.0): Codebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base0 = emb.select(asDouble(col(vecCol)).as("v"))
    val base = (if (sampleFraction < 1.0) base0.sample(sampleFraction, seed) else base0)
      .cache()
    try {
      val dims = base.select(size(col("v"))).head().getInt(0)
      require(dims % m == 0, s"dims $dims not divisible by m=$m")
      val dsub = dims / m
      val cents = Array.tabulate(m) { mi =>
        val sub = base.select(
          array_to_vector(slice(col("v"), mi * dsub + 1, dsub)).as("__sub"))
        val model = new KMeans().setK(k).setSeed(seed + mi)
          .setFeaturesCol("__sub").setPredictionCol("__c").fit(sub)
        // stable code order: sort centroids so retrains are comparable
        model.clusterCenters.map(_.toArray)
          .sortBy(_.toIndexedSeq)(scala.math.Ordering.Implicits.seqOrdering[IndexedSeq, Double])
      }
      Codebooks(m, k, dsub, cents)
    } finally { base.unpersist(); () }
  }

  /** Encode a vector column to its `m` PQ codes (ARRAY<INT>) via the
    * codegen'd [[graft.functions.expressions.PqEncode]]. */
  def encodeCol(vec: Column, cb: Codebooks): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.PqEncode(
      GraftColumnBridge.expression(asDouble(vec)),
      new graft.functions.expressions.PqCodebookConst(cb.flat.toArray), cb.m, cb.k))
  }

  /** Per-query ADC lookup table: `lut(sub)(code) = q_sub · centroid`,
    * computed sequentially (j ascending) to match the oracle's
    * list_inner_product. O(m·k·dsub) driver work per query. */
  def adcLut(cb: Codebooks, q: Array[Double]): Array[Array[Double]] = {
    require(q.length == cb.dims, s"query dims ${q.length} != ${cb.dims}")
    Array.tabulate(cb.m, cb.k) { (mi, c) =>
      var s = 0.0
      for (j <- 0 until cb.dsub) s += q(mi * cb.dsub + j) * cb.cents(mi)(c)(j)
      s
    }
  }

  /** ADC inner-product estimate of a codes column against a query LUT:
    * an unrolled left-to-right sum of `m` array-literal lookups — stays
    * inside whole-stage codegen (m is small; no HOF lambdas). */
  def adcScore(codes: Column, lut: Array[Array[Double]]): Column =
    lut.zipWithIndex.map { case (row, mi) =>
      element_at(typedLit(row.toSeq), element_at(codes, mi + 1) + 1)
    }.reduce(_ + _)

  /** ADC top-k over an encoded table (`idCol`, `codesCol`): scores are
    * rounded to 6 decimals before ranking, ties broken by id —
    * `TakeOrderedAndProject` merges per-partition top-k, nothing else
    * shuffles. */
  def adcTopK(encoded: DataFrame, idCol: String, codesCol: String,
      cb: Codebooks, q: Array[Double], k: Int): DataFrame =
    encoded.select(col(idCol),
        round6(adcScore(col(codesCol), adcLut(cb, q))).as("adc_score"))
      .orderBy(desc("adc_score"), col(idCol))
      .limit(k)
}

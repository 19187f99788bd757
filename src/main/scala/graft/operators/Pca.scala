package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{asDouble, dot}
import graft.functions.expressions.RoundHalfUp

/** Distributed PCA over an embedding column — the dimensionality-
  * reduction step in front of ANN compression (a PCA-rotated space
  * concentrates variance in the leading coordinates, which is what
  * makes int8/PQ tiers cheap) and the standard 2-D map for corpus
  * visualization and drift inspection.
  *
  * Execution shape: ONE distributed pass builds the d x d centered
  * scatter matrix through [[GramAgg]] — a typed Aggregator whose
  * d(d+1)/2 upper-triangle buffer combines map-side, so the exchange
  * carries O(partitions * d^2) partial sums and never a row-count term.
  * Eigenvectors come from fixed-round power iteration on the driver
  * over that d x d matrix — the documented bounded driver scalar (d is
  * a model property, never corpus-scale; 64 dims = a 2 KB vector). The
  * projection is a codegen'd dot product against literal components.
  *
  * Engine-portable determinism (the repo-wide oracle stance): the mean
  * and every scatter entry round to 6 decimals before the driver math;
  * each power-iteration round NORMALIZES and re-quantizes to 9 decimals
  * (w_{t+1} = round(G w_t / |G w_t|, 9)), so two engines whose matvec
  * sums differ in the last float bit re-converge to identical iterates
  * every round — and the round count can be raised freely (a flat
  * spectrum needs many rounds; normalized iterates never overflow).
  * Each finished component is explicitly Gram-Schmidt-orthogonalized
  * against the previous ones, re-normalized, sign-pinned (first
  * non-tiny coordinate positive) and rounded to 6 — orthonormality by
  * construction even when near-equal eigenvalues leave the iteration
  * only partially converged (then any orthonormal basis of the top
  * subspace is an equally valid answer). Later components iterate on
  * the deflated matrix G - lambda e e^T, entries re-rounded, so an
  * engine replaying the recurrence in SQL reproduces every output bit.
  */
object Pca {

  /** Fitted model: `mean` and `components` are rounded to 6 decimals;
    * `eigenvalues(i)` is the Rayleigh quotient of component i (rounded),
    * i.e. the variance captured along it. */
  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]],
                            eigenvalues: Array[Double])

  def fit(emb: DataFrame, vecCol: String, numComponents: Int = 2,
          powerIters: Int = 40): PcaModel = {
    require(numComponents >= 1, s"numComponents must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(asDouble(col(vecCol)).as("v")).where(col("v").isNotNull)
    // per-position mean, rounded — two-phase avg, exchange O(parts * d)
    val meanRows = vecs
      .select(posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy("pos").agg(round(avg("val"), 6).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val mean = meanRows.map(_._2)
    val d = mean.length
    // centered scatter: one pass, map-side-combined triangle buffer
    val tri = vecs.as[Seq[Double]]
      .select(new GramAgg(d, mean).toColumn.name("tri"))
      .head()
    val g = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val v = RoundHalfUp.round(tri(idx), 6)
      g(i)(j) = v
      g(j)(i) = v
      idx += 1
    }
    val comps = Array.newBuilder[Array[Double]]
    var done = List.empty[Array[Double]]
    val lams = Array.newBuilder[Double]
    var cur = g
    for (_ <- 0 until numComponents) {
      val e = finalizeComponent(done, powerIterate(cur, powerIters))
      val lam = RoundHalfUp.round(rayleigh(cur, e), 6)
      comps += e
      done = done :+ e
      lams += lam
      cur = deflate(cur, e, lam)
    }
    PcaModel(mean, comps.result(), lams.result())
  }

  /** Project vectors onto the fitted components:
    * (idCol, pc1, pc2, ...) with pc_j = round((v - mean) . e_j, 6),
    * computed as a codegen'd per-position product sum — no shuffle. */
  def transform(emb: DataFrame, idCol: String, vecCol: String,
                model: PcaModel): DataFrame = {
    val centered = zip_with(asDouble(col(vecCol)),
      typedLit(model.mean.toSeq), (a: Column, b: Column) => a - b)
    val pcs = model.components.zipWithIndex.map { case (e, i) =>
      round(dot(centered, typedLit(e.toSeq)), 6).as(s"pc${i + 1}")
    }
    emb.select(col(idCol) +: pcs.toSeq: _*)
  }

  // ----- driver-side d x d math (bounded: d is a model property) -----

  /** Normalized, per-round re-quantized power iteration; returns the
    * final iterate (unit norm up to 9-decimal rounding, sign unpinned). */
  private def powerIterate(g: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = g.length
    var w = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 0 until iters) {
      val gw = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        while (j < d) { s += g(i)(j) * w(j); j += 1 }
        gw(i) = s
        i += 1
      }
      var nrm = 0.0
      i = 0
      while (i < d) { nrm += gw(i) * gw(i); i += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 0, "power iteration collapsed to zero — degenerate scatter")
      w = gw.map(x => RoundHalfUp.round(x / nrm, 9))
    }
    w
  }

  /** Gram-Schmidt against finished components, re-normalize, pin the
    * sign (first non-tiny coordinate positive), round to 6. */
  private def finalizeComponent(prev: Seq[Array[Double]],
                                raw: Array[Double]): Array[Double] = {
    val d = raw.length
    val o = raw.clone()
    prev.foreach { e =>
      var dp = 0.0
      var i = 0
      while (i < d) { dp += o(i) * e(i); i += 1 }
      i = 0
      while (i < d) { o(i) = o(i) - dp * e(i); i += 1 }
    }
    var nrm = 0.0
    var i = 0
    while (i < d) { nrm += o(i) * o(i); i += 1 }
    nrm = math.sqrt(nrm)
    require(nrm > 1e-9,
      "component collapsed under orthogonalization — spectrum rank < numComponents")
    val fi = o.indexWhere(x => math.abs(x) > 1e-12)
    val sgn = if (fi >= 0 && o(fi) < 0) -1.0 else 1.0
    o.map(x => RoundHalfUp.round(sgn * x / nrm, 6))
  }

  private def rayleigh(g: Array[Array[Double]], e: Array[Double]): Double = {
    val d = g.length
    var s = 0.0
    var i = 0
    while (i < d) {
      var gi = 0.0
      var j = 0
      while (j < d) { gi += g(i)(j) * e(j); j += 1 }
      s += e(i) * gi
      i += 1
    }
    s
  }

  private def deflate(g: Array[Array[Double]], e: Array[Double],
                      lam: Double): Array[Array[Double]] =
    Array.tabulate(g.length, g.length) { (i, j) =>
      RoundHalfUp.round(g(i)(j) - lam * e(i) * e(j), 6)
    }

  /** Upper-triangle centered scatter aggregator: buffer = d(d+1)/2
    * running sums of (v_i - mu_i)(v_j - mu_j). Map-side combine keeps
    * the exchange at O(partitions * d^2) regardless of row count. */
  final class GramAgg(d: Int, mean: Array[Double])
      extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {

    override def zero: Array[Double] = new Array[Double](d * (d + 1) / 2)

    override def reduce(buf: Array[Double], v: Seq[Double]): Array[Double] = {
      val arr = v.toArray
      val c = new Array[Double](d)
      var i = 0
      while (i < d) { c(i) = arr(i) - mean(i); i += 1 }
      var idx = 0
      i = 0
      while (i < d) {
        var j = i
        val ci = c(i)
        while (j < d) { buf(idx) += ci * c(j); j += 1; idx += 1 }
        i += 1
      }
      buf
    }

    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(r: Array[Double]): Seq[Double] = r.toSeq

    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }
}

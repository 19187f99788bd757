package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.asDouble

/** Formulations the [[Knn]] specs check the engine against. */
object KnnReference {

  /** IVF-pruned top-k in its oracle formulation: exact top-k over the
    * probed clusters of [[Knn.ivfCandidates]]. */
  def ivfTopK(emb: DataFrame, query: DataFrame, clusterCol: String,
              nprobe: Int, k: Int): DataFrame =
    Knn.exactTopK(Knn.ivfCandidates(emb, query, clusterCol, nprobe), query, k)

  /** The composable-Column formulation of [[Knn.signLshKey]], with
    * identical values: a bits × dims expression tree. */
  def signLshKeyColumns(vecCol: Column, dims: Int, bits: Int,
                        seed: Long = 42L): Column = {
    val planes: Seq[Seq[Double]] = (0 until bits).map(b =>
      (0 until dims).map(d =>
        graft.functions.expressions.SignLsh64.mix(seed + b * 1000003L + d)
          .toDouble / Long.MaxValue))
    val v = asDouble(vecCol)
    planes.zipWithIndex.map { case (p, i) =>
      val proj = (0 until dims).map(d => element_at(v, d + 1) * p(d)).reduce(_ + _)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}

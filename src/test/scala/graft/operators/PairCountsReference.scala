package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.BoundedIds
import graft.functions.VectorFunctions.round6

/** The DataFrame posting tier that [[Dedup.jaccardPairs]],
  * [[Dedup.containmentPairs]] and [[Dedup.winnowPairs]] ran before
  * their RDD kernel ([[PairKernel]]), kept as the kernel's reference:
  * the distinct `(id, key)` table groups by key through
  * [[graft.functions.BoundedIds]] (partial buffers bounded at cap+1
  * ids), keys over the cap leave, pairs and set sizes both expand from
  * the kept posting lists, and two id-keyed joins attach the sizes. Same
  * arguments and result as the operators at an integral id and a
  * positive cap, with their set semantics: null ids dropped, each
  * `(id, key)` counted once. */
object PairCountsReference {

  /** `(id_a, id_b, cnt)` and the set sizes `(id, sz)`, both from the
    * kept posting lists. */
  private def counted(t: DataFrame, key: String, cap: Int): (DataFrame, DataFrame) = {
    val boundedIds = udaf(new BoundedIds(cap), Encoders.scalaLong)
    val posting = t.where(col("id").isNotNull)
      .select(col("id").cast("long").as("id"), col(key))
      .distinct()
      .groupBy(key).agg(boundedIds(col("id")).as("acc"))
      .filter(col("acc.n") <= cap)
      .select(col("acc.ids").as("ids"))
    (posting
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("cnt")),
      posting.select(explode(col("ids")).as("id"))
        .groupBy("id").agg(count(lit(1)).as("sz")))
  }

  /** `(id_a, id_b, cnt, sz_a, sz_b)` over the shingle sets. */
  private def shingleCounts(docs: DataFrame, idCol: String, textCol: String, n: Int,
                            cap: Int): DataFrame = {
    val (pairs, sz) = counted(Dedup.shingleTable(docs, idCol, textCol, n), "sh", cap)
    pairs
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
  }

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, minJ: Double, maxShingleDf: Int): DataFrame =
    shingleCounts(docs, idCol, textCol, n, maxShingleDf)
      .select(col("id_a"), col("id_b"),
        round6(col("cnt") / (col("sz_a") + col("sz_b") - col("cnt"))).as("jaccard"))
      .filter(col("jaccard") >= minJ)

  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minC: Double, maxShingleDf: Int): DataFrame =
    shingleCounts(docs, idCol, textCol, n, maxShingleDf)
      .select(col("id_a"), col("id_b"),
        round6(col("cnt") / col("sz_a")).as("c_a"),
        round6(col("cnt") / col("sz_b")).as("c_b"))
      .filter(greatest(col("c_a"), col("c_b")) >= minC)

  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int, minShared: Long, maxFpDf: Int): DataFrame =
    counted(Dedup.winnowFingerprints(docs, idCol, textCol, k, w), "fp", maxFpDf)._1
      .select(col("id_a"), col("id_b"), col("cnt").as("shared"))
      .filter(col("shared") >= minShared)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Round-state anchoring for the DataFrame round loops (PPR, LPA and
  * label spreading under [[FixedPoint.run]], k-core, connected
  * components): a SERIALIZED localCheckpoint (the r15 heap-cliff
  * discipline) PLUS statistics re-anchoring (r16), completed by one
  * Spark job that also returns the round's movement sums.
  *
  * Why the stats step: `localCheckpoint` copies the ORIGINAL plan's
  * size estimate onto the new `LogicalRDD`
  * (`LogicalRDD.rewriteStatsAndConstraints`), and the size estimate of
  * a join is the PRODUCT of its children's. A loop whose per-round
  * plan references the previous round's checkpoint K >= 2 times (the
  * watch-column carry joins, CC's pointer-jump self-join) therefore
  * compounds the estimate's BigInt digit count by factor K per round —
  * stats computation itself becomes the per-round bottleneck, and past
  * ~60 compounding rounds Spark throws `ArithmeticException:
  * BigInteger would overflow supported range` (measured: GraphSpec's
  * 60-cap PPR arm). Dropping the inherited stats resets the leaf to
  * the constant conf default each round; AQE's runtime sizes govern
  * the actual join strategies regardless, and output partitioning /
  * ordering are preserved for exchange reuse.
  */
private[operators] object Ckpt {
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    /** [[materialize]] with no terms. */
    def ckptSer(): DataFrame = materialize()._1

    /** Checkpoints `df` and returns it with the sum of each term over
      * its rows. The checkpoint is lazy, serialized and re-anchored;
      * one job over its projection of `terms` caches every partition,
      * which completes it, and returns each term's per-partition sums
      * (a null term counts as 0), added in partition-index order. The
      * sums come from the one successful attempt of each task, so a
      * retried task cannot count its rows twice. */
    def materialize(terms: Column*): (DataFrame, Array[Double]) = {
      val cp = GraftColumnBridge.dropInheritedStats(
        df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER))
      val n = terms.length
      val rows = cp.select(terms.map(_.cast("double")): _*).queryExecution.toRdd
      val parts = cp.sparkSession.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
        val s = new Array[Double](n)
        it.foreach { r =>
          var i = 0
          while (i < n) { if (!r.isNullAt(i)) s(i) += r.getDouble(i); i += 1 }
        }
        s
      })
      (cp, Array.tabulate(n)(i => parts.foldLeft(0.0)(_ + _(i))))
    }
  }
}

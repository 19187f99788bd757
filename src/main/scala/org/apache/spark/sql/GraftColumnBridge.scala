package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column<->Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`) so graft's custom
  * Catalyst expressions can be exposed as `Column`s. Placed in the
  * org.apache.spark.sql package for access — the standard pattern for
  * Spark 4 extensions built outside the Spark tree. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom logical plan node
    * (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of catalyst rows that match `schema`
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`). */
  def internalCreateDataFrame(spark: SparkSession,
                              rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Drop a persisted RDD's blocks, as the context cleaner drops an
    * unreachable one (`SparkContext.unpersistRDD` is `private[spark]`).
    * `RDD.unpersist` does the same but warns on every locally
    * checkpointed RDD, which a loop that drops its superseded round
    * states would log once per round. */
  def dropRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Re-anchor a locally checkpointed Dataset's statistics.
    *
    * `Dataset.localCheckpoint` rewrites the new `LogicalRDD`'s stats
    * from the ORIGINAL (pre-checkpoint) plan
    * (`LogicalRDD.rewriteStatsAndConstraints`), so an iterative loop
    * whose per-round plan references the previous checkpoint K >= 2
    * times compounds the size estimate MULTIPLICATIVELY: the estimate's
    * BigInt digit count grows by factor K per round, the per-round
    * stats visit itself becomes the bottleneck (Toom-Cook multiplies of
    * million-digit integers), and past ~60 compounding rounds Spark
    * throws `ArithmeticException: BigInteger would overflow supported
    * range`. Dropping the origin stats makes the leaf fall back to the
    * constant `spark.sql.defaultSizeInBytes` — round-invariant — while
    * AQE's runtime sizes still drive the actual join strategies.
    * Output partitioning/ordering are preserved so exchange reuse is
    * unaffected. No-op on non-LogicalRDD plans. */
  def dropInheritedStats(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val cls = df.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(cls,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming, lr.stream)(cls, None, None))
      case _ => df
    }
}

package org.apache.spark.sql

/** Test-side bridge into Spark's `private[sql]` extension internals. */
object GraftTestBridge {
  /** Materialize the planner strategies a SparkSessionExtensions
    * instance would inject — lets tests exercise the
    * `spark.sql.extensions` class-registration path without tearing
    * down the shared session. */
  def plannerStrategies(e: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    e.buildPlannerStrategies(spark)
}

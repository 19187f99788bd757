package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided Parquet tables (see TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry takes `(spark, sfDir)` and reads its
  * inputs through here, so filters/projections declared downstream are
  * pushed into the Parquet scan by Catalyst (PushedFilters / ReadSchema).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")

  /** `events` with its TIMESTAMP(NANOS) column usable as a session-TZ
    * timestamp, across Spark versions that read that parquet type
    * differently:
    *
    *   - Spark <= 4.0 rejects nanosecond timestamps unless
    *     `spark.sql.legacy.parquet.nanosAsLong` reads them as raw longs;
    *     then `timestamp_micros(ts DIV 1000)` truncates to micros
    *     (integral DIV — a double division would drift by 1us).
    *   - Spark 4.1+ ignores that legacy conf and resolves the column as
    *     TIMESTAMP_NTZ already truncated to micros; the session TZ is
    *     UTC everywhere in this project, so NTZ -> TIMESTAMP is a
    *     wall-clock-identity cast.
    *
    * Both arms land on the same TimestampType micros that DuckDB
    * produces when it reads the same file, so the events_* oracles hold
    * on either Spark. Branching on the *loaded schema* (not the Spark
    * version string) keeps this robust to future reader changes —
    * TablesSpec pins the exact converted value. */
  def eventsWithTs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other — extend Tables.eventsWithTs")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.util.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Set in the builder (not as an eventsWithTs side effect) so query
      // outcome never depends on Map iteration order: events.parquet has
      // TIMESTAMP(NANOS) columns Spark otherwise refuses to read.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration subset (unset for driver runs): dump only the
    // named queries AND only their oracles, so tools/check.py checks
    // exactly the subset instead of failing on undumped results.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Oracle SQL first: if a query crashes the JVM mid-run, the queries
    // that DID complete remain checkable instead of losing the round.
    writeOracleSql(outDir, only)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Queries persist intermediates (BM25 tf, shingle tables); drop
      // them between queries so 25+ runs don't accumulate cached blocks.
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  // Json.write escapes backslash, quote and ALL control chars (<0x20):
  // a tab or CR in an oracle query would otherwise make the reader's
  // json.load fail and silently skip every correctness check.
  private def writeOracleSql(outDir: String,
                             only: Option[Set[String]] = None): Unit = {
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Json.write(k)}: ${Json.write(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ()
  }
}

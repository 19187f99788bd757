package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

/** Each stateful streaming operator run for a few micro-batches of a
  * `rate-micro-batch` source into the noop sink, read through
  * `recentProgress`: the operator must do its job (dedup dropping rows,
  * windows emitting, sessions closing) with bounded state.
  *
  * The source emits a fixed number of rows per micro-batch whose event
  * time advances a fixed amount per batch, so watermarks advance,
  * windows close and session timeouts fire on a schedule set by
  * `advanceMs`, not by how fast the host is. */
class StreamBenchSpec extends SparkSpec {

  private val rows = 2000L
  private val parts = 4

  /** Columns `timestamp` (from epoch 0, `advanceMs` per batch) and a
    * globally increasing `value`, `rows` rows per micro-batch. */
  private def rate(advanceMs: Long): DataFrame =
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rows)
      .option("numPartitions", parts)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", advanceMs)
      .load()

  private case class Run(batches: Int, inputRows: Long, outputRows: Long, stateRows: Long)

  /** Run `df` to the noop sink (the full plan, state updates included,
    * without write cost) until `nBatches` non-empty micro-batches. */
  private def run(df: DataFrame, nBatches: Int): Run = {
    val q = df.writeStream
      .format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-streambench").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    try {
      val deadline = System.nanoTime() + 300000000000L
      while (q.recentProgress.count(_.numInputRows > 0) < nBatches &&
             System.nanoTime() < deadline && q.isActive) {
        q.awaitTermination(100)
      }
    } finally q.stop()
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    assert(progress.nonEmpty, "no non-empty batches before the timeout")
    Run(progress.length, progress.map(_.numInputRows).sum,
      progress.map(_.sink.numOutputRows).filter(_ >= 0).sum,
      progress.last.stateOperators.map(_.numRowsTotal).sum)
  }

  // The three dedup tiers: `value % (rows/2)` makes every batch two
  // copies of each key and every later batch a full re-send. Event time
  // advances 1 min/batch under a 30 min watermark.
  private val uniqueKeys = rows / 2

  test("dedup_stream: throughput metrics sane, duplicates dropped, state bounded") {
    val m = run(Streaming.dedupStream(
      rate(advanceMs = 60000L).select(col("timestamp").as("ts"),
        concat(lit("document body "), pmod(col("value"), lit(uniqueKeys))).as("text")),
      watermark = "30 minutes"), nBatches = 3)
    assert(m.batches >= 3)
    assert(m.inputRows >= 3 * rows)
    // value % (rows/2) repeats within every batch and fully across
    // batches: far fewer survivors than inputs
    assert(m.outputRows < m.inputRows / 2)
    // state holds at most one row per distinct fingerprint within the
    // watermark horizon — never one per input row
    assert(m.stateRows <= rows)
  }

  test("dedup_media_stream: PNG decode + dHash keyed dedup, state bounded") {
    // a real 9x8 grayscale PNG per key, so the run covers decode →
    // dHash → keyed state. splitmix-style mix per (key, pixel):
    // adjacent-pixel DIFFERENCES must vary with the key, or every key
    // lands in one of ~256 dHash classes
    val png = udf { (k: Long) =>
      val px = Array.tabulate(72) { i =>
        var z = k + i * 7919L + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        ((z >>> 56) & 0xff).toInt
      }
      graft.operators.Multimodal.grayPng(px, 9, 8)
    }
    val m = run(Streaming.dedupMediaStream(
      rate(advanceMs = 60000L).select(col("timestamp").as("ts"),
        png(pmod(col("value"), lit(uniqueKeys))).as("content")),
      watermark = "30 minutes"), nBatches = 3)
    assert(m.batches >= 3)
    assert(m.inputRows >= 3 * rows)
    // every key repeats within each batch and across batches: the
    // perceptual hash of identical pixels coincides, survivors collapse
    assert(m.outputRows < m.inputRows / 2)
    // one state row per distinct signature in the horizon
    assert(m.stateRows <= rows)
  }

  test("dedup_near_stream: token-shuffled re-sends collapse on the simhash key") {
    val key = pmod(col("value"), lit(uniqueKeys))
    // parity flips the word order between re-sends of the same key
    val m = run(Streaming.dedupNearStream(
      rate(advanceMs = 60000L).select(col("timestamp").as("ts"),
        when(pmod(col("value"), lit(2)) === 0, concat(lit("document body "), key))
          .otherwise(concat(key, lit(" body document"))).as("text")),
      watermark = "30 minutes"), nBatches = 3)
    assert(m.batches >= 3)
    assert(m.inputRows >= 3 * rows)
    // re-sends permute word order, so the EXACT fingerprint differs
    // while the simhash key coincides: survivors must still collapse
    assert(m.outputRows < m.inputRows / 2)
    // one state row per distinct fingerprint in the horizon
    assert(m.stateRows <= rows)
  }

  test("window_counts: windows close and emit under the advancing watermark") {
    val m = run(Streaming.windowedEventCounts(
      rate(advanceMs = 600000L).select(col("timestamp").as("ts"),
        concat(lit("type_"), pmod(col("value"), lit(10))).as("event_type"),
        (col("value") % 97).cast("double").as("value")),
      watermark = "10 minutes", window_ = "5 minutes"), nBatches = 4)
    // 10 min of event time per batch vs 5 min windows + 10 min
    // watermark: by batch 4 several windows have closed (append-mode
    // emission proves eviction, not just accumulation)
    assert(m.outputRows > 0)
  }

  test("sessionize_stream: sessions close each batch, per-user state is constant") {
    val users = rows / 20
    val m = run(Streaming.sessionizeStream(
      rate(advanceMs = 2700000L).select(col("timestamp").as("ts"),
        pmod(col("value"), lit(users)).cast("string").as("user_id"),
        col("value").as("event_id")),
      gapMinutes = 30, watermark = "10 minutes").toDF(), nBatches = 4)
    // 45 min advance vs 30 min gap: every batch closes the previous
    // session of every user seen
    assert(m.outputRows > 0)
    // one OpenSession per user, not per event
    assert(m.stateRows <= users + 1)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.embedding.HashEmbedder
import graft.pipeline.Index
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-stream micro-batches append to the index (T7 as a stream)") {
    val root = Files.createTempDirectory("graft-stream").toString
    val src = s"$root/incoming"
    val idx = s"$root/idx"
    val provider = new HashEmbedder(16)

    // Seed index with an initial batch
    Index.build(Seq(("first doc about spark", "a.md")).toDF("text", "source"),
      idx, provider, strategy = "simple")

    // Two files "arrive" in the stream directory
    Seq(("second doc about shuffles", "b.md")).toDF("text", "source")
      .write.parquet(s"$src/f1")
    Seq(("third doc about parquet", "c.md"), ("fourth about joins", "d.md"))
      .toDF("text", "source").write.parquet(s"$src/f2")

    val schema = spark.read.parquet(s"$src/f1").schema
    Streaming.runAvailableNow(Streaming.indexIngest(
      spark, s"$src/*", idx, schema, provider, s"$root/ckpt"))

    assert(spark.read.parquet(s"$idx/passages").count() == 4)
    assert(spark.read.parquet(s"$idx/embeddings").count() == 4)
    assert(Index.readMeta(idx).passageCount == 4)
    // stats were refreshed: new terms are searchable
    val hit = Index.search(spark, idx, "parquet", provider, topK = 1, hybrid = true)
      .select("source").as[String].collect()
    assert(hit.head == "c.md")
  }

  test("streaming ingest keeps the ANN tiers fresh (appendIvf + appendPq per batch)") {
    val root = Files.createTempDirectory("graft-stream-ann").toString
    val src = s"$root/incoming"
    val idx = s"$root/idx"
    val provider = new HashEmbedder(16)

    // seed index + both ANN tiers (4 docs so KMeans has points)
    Index.build(Seq(
        ("alpha doc about spark executors", "a.md"),
        ("beta doc about shuffle plans", "b.md"),
        ("gamma doc about parquet files", "c.md"),
        ("delta doc about broadcast joins", "d.md")).toDF("text", "source"),
      idx, provider, strategy = "simple")
    Index.buildIvf(spark, idx, numClusters = 2)
    Index.buildPq(spark, idx, m = 4, k = 4)

    Seq(("epsilon doc about watermarks", "e.md"), ("zeta doc about state stores", "f.md"))
      .toDF("text", "source").write.parquet(s"$src/f1")
    val schema = spark.read.parquet(s"$src/f1").schema
    Streaming.runAvailableNow(Streaming.indexIngest(
      spark, s"$src/*", idx, schema, provider, s"$root/ckpt"))

    // every tier tracks the base table: 6 embeddings = 6 ivf rows = 6 code rows
    val n = spark.read.parquet(s"$idx/embeddings").count()
    assert(n === 6L)
    assert(spark.read.parquet(s"$idx/embeddings_ivf").count() === n)
    assert(spark.read.parquet(s"$idx/pq_codes").count() === n)
    // and the ANN read path can retrieve a streamed-in doc
    val hit = Index.searchAnn(spark, idx, "epsilon doc about watermarks",
        provider, topK = 1, nprobe = 2, rerank = 10)
      .select("source").as[String].collect()
    assert(hit.head == "e.md")
  }

  test("dedup ingest drops already-indexed and in-batch duplicate content") {
    val root = Files.createTempDirectory("graft-dedup-stream").toString
    val src = s"$root/incoming"
    val idx = s"$root/idx"
    val provider = new HashEmbedder(16)

    Index.build(Seq(("the original document", "orig.md")).toDF("text", "source"),
      idx, provider, strategy = "simple")

    Seq(
      ("THE  ORIGINAL document", "copy.md"),   // dup of indexed (case/ws)
      ("a genuinely new document", "new1.md"),
      ("a genuinely NEW document", "new1dup.md"), // in-batch dup
      ("another new one entirely", "new2.md"))
      .toDF("text", "source").write.parquet(s"$src/f1")

    val schema = spark.read.parquet(s"$src/f1").schema
    def ingest(): Set[String] = {
      Streaming.runAvailableNow(Streaming.dedupIngest(
        spark, s"$src/*", idx, schema, provider, s"$root/ckpt"))
      spark.read.parquet(s"$idx/passages")
        .select("metadata.source").as[String].collect().toSet
    }
    assert(ingest() == Set("orig.md", "new1.md", "new2.md"))
    assert(Index.readMeta(idx).passageCount == 3)

    // a later run of the same query: a doc the first run ingested is
    // dropped, a new one lands
    Seq(("A genuinely new   document", "new1again.md"), ("brand new beta", "new3.md"))
      .toDF("text", "source").write.parquet(s"$src/f2")
    assert(ingest() == Set("orig.md", "new1.md", "new2.md", "new3.md"))
    assert(Index.readMeta(idx).passageCount == 4)
  }

  test("dedup ingest drops a re-sent multi-chunk document (doc-level fp)") {
    val root = Files.createTempDirectory("graft-dedup-long").toString
    val src = s"$root/incoming"
    val idx = s"$root/idx"
    val provider = new HashEmbedder(16)

    // ~12 KB doc: many chunks at the default 256-token window, so no
    // single passage's fingerprint equals the whole document's.
    val longText = (1 to 400)
      .map(i => s"sentence number $i about distributed joins").mkString(". ")
    Index.build(Seq((longText, "long.md")).toDF("text", "source"),
      idx, provider, strategy = "simple")
    val nChunks = spark.read.parquet(s"$idx/passages").count()
    assert(nChunks > 1, "premise: the document must chunk into multiple passages")

    Seq((longText, "resend.md"),               // exact duplicate of indexed doc
        ("a brand new small doc", "new.md"))
      .toDF("text", "source").write.parquet(s"$src/f1")
    val schema = spark.read.parquet(s"$src/f1").schema
    Streaming.runAvailableNow(Streaming.dedupIngest(
      spark, s"$src/*", idx, schema, provider, s"$root/ckpt"))

    val sources = spark.read.parquet(s"$idx/passages")
      .select("metadata.source").as[String].distinct().collect().toSet
    assert(sources == Set("long.md", "new.md"))
    assert(Index.readMeta(idx).passageCount == nChunks + 1)
  }

  test("watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)") {
    val root = Files.createTempDirectory("graft-sdedup").toString
    Seq(
      ("2024-01-01 00:00:00", "same content", "a.md"),
      ("2024-01-01 00:10:00", "SAME   content", "b.md"), // dup (normalized fp)
      ("2024-01-01 00:20:00", "different content", "c.md"))
      .toDF("ts_s", "text", "source")
      .select(to_timestamp(col("ts_s")).as("ts"), col("text"), col("source"))
      .coalesce(1).write.parquet(s"$root/in/f1")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/f1").schema)
      .parquet(s"$root/in/*")
    val q = Streaming.dedupStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("sdedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("sdedup").select("source").as[String].collect().toSet
    assert(got == Set("a.md", "c.md"))
  }

  test("streaming NEAR-dedup keys on the simhash fingerprint") {
    val root = Files.createTempDirectory("graft-sndedup").toString
    Seq(
      ("2024-01-01 00:00:00", "the quick brown fox jumps", "a.md"),
      // same token multiset, different order: near-dup the exact tier
      // would pass through
      ("2024-01-01 00:10:00", "jumps fox brown the quick", "b.md"),
      ("2024-01-01 00:20:00", "completely different words here", "c.md"),
      // token-less: NULL simhash falls back to the exact md5 key, so a
      // unique empty doc passes while staying dedup-able
      ("2024-01-01 00:30:00", "", "empty.md"))
      .toDF("ts_s", "text", "source")
      .select(to_timestamp(col("ts_s")).as("ts"), col("text"), col("source"))
      .coalesce(1).write.parquet(s"$root/in/f1")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/f1").schema)
      .parquet(s"$root/in/*")
    val q = Streaming.dedupNearStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("sndedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("sndedup").select("source").as[String].collect().toSet
    assert(got == Set("a.md", "c.md", "empty.md"))
  }

  test("streaming MEDIA near-dedup keys on the perceptual hash, md5 fallback") {
    import graft.operators.Multimodal
    val root = Files.createTempDirectory("graft-smdedup").toString
    def px(seed: Int): Array[Int] =
      Array.tabulate(72)(i => math.abs((seed * 2654435761L + i * 40503L).toInt) % 256)
    val base = px(5)
    // one-pixel brightness nudge: different bytes, same dHash (the
    // neighbor comparisons the changed pixel takes part in keep their sign)
    val nudged = base.clone(); nudged(40) = math.min(255, nudged(40) + 1)
    assert(graft.functions.expressions.PHash64.hash(Multimodal.grayPng(base, 9, 8)) ==
      graft.functions.expressions.PHash64.hash(Multimodal.grayPng(nudged, 9, 8)),
      "fixture must be a hash-identical perceptual near-dup")
    Seq(
      ("2024-01-01 00:00:00", "a.png", Multimodal.grayPng(base, 9, 8)),
      ("2024-01-01 00:10:00", "b.png", Multimodal.grayPng(nudged, 9, 8)), // near-dup
      ("2024-01-01 00:20:00", "c.png", Multimodal.grayPng(px(77), 9, 8)), // distinct
      ("2024-01-01 00:30:00", "junk1.bin", "not an image".getBytes("UTF-8")),
      ("2024-01-01 00:40:00", "junk1b.bin", "not an image".getBytes("UTF-8")), // exact dup of junk1
      ("2024-01-01 00:50:00", "junk2.bin", "other garbage".getBytes("UTF-8")))
      .toDF("ts_s", "source", "content")
      .select(to_timestamp(col("ts_s")).as("ts"), col("source"), col("content"))
      .coalesce(1).write.parquet(s"$root/in/f1")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/f1").schema)
      .parquet(s"$root/in/*")
    val q = Streaming.dedupMediaStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("smdedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("smdedup").select("source").as[String].collect().toSet
    assert(got == Set("a.png", "c.png", "junk1.bin", "junk2.bin"),
      s"got $got")
  }

  test("streaming↔batch parity: dedupNearStream == Dedup.simhash-keyed batch dedup on a replay") {
    // The streaming near-dedup tier's semantics gated TRANSITIVELY
    // through the oracle-checked batch arm: on a watermark-complete
    // replay (every row inside one horizon — nothing evicted mid-stream)
    // fed in timestamp order (one file per micro-batch, so the stream's
    // first-arrival-wins is the earliest ts), the survivor set must
    // equal the batch dedup keyed exactly as the stream keys —
    // Dedup.simhash signature with the exact-fingerprint fallback for
    // token-less docs — keeping the min-(ts, id) row per key.
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Dedup
    import graft.functions.TextFunctions
    val root = Files.createTempDirectory("graft-parity-text").toString
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 30)
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    def reorder(t: String) = t.split("\\s+").reverse.mkString(" ")
    // wave 0: the 30 real docs + one token-less doc
    val wave0 = real.zipWithIndex.map { case ((id, t), i) => (ts(i), id, t) } :+
      ((ts(30), 900L, ""))
    // wave 1: 10 token-REORDERED copies (same token multiset → same
    // simhash; the exact tier would pass them), 5 exact copies, a second
    // token-less doc (dedups via the x: fallback), 3 fresh docs
    val wave1 =
      real.take(10).zipWithIndex.map { case ((id, t), i) =>
        (ts(31 + i), 1000L + id, reorder(t)) } ++
      real.slice(10, 15).zipWithIndex.map { case ((id, t), i) =>
        (ts(41 + i), 1100L + id, t) } :+
      ((ts(46), 901L, "")) :+
      ((ts(47), 1200L, "a genuinely fresh streaming document about parity")) :+
      ((ts(48), 1201L, "another fresh one concerning watermark replay")) :+
      ((ts(49), 1202L, "and a third novel text entirely unlike the corpus"))
    // wave 2: one more copy of doc 0 (state from wave 0 must still hold
    // it) + one fresh doc
    val wave2 = Seq(
      (ts(50), 2000L, reorder(real.head._2)),
      (ts(51), 2100L, "final unique late arrival closing the replay"))
    // premise: the reorder really is simhash-invariant on this corpus
    val sigs = Dedup.simhash(
        Seq((1L, real.head._2), (2L, reorder(real.head._2))).toDF("id", "text"),
        "id", "text")
      .select("simhash").as[Long].collect()
    assert(sigs.length == 2 && sigs(0) == sigs(1),
      "premise: token reorder must preserve the simhash signature")
    // one wave per file, distinct mtimes → deterministic batch order
    Seq(wave0.toSeq, wave1.toSeq, wave2).zipWithIndex.foreach { case (w, i) =>
      w.toDF("ts", "id", "text").coalesce(1).write.parquet(s"$root/in/w$i")
      Thread.sleep(1000)
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/w0").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in/*")
    val q = Streaming.dedupNearStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("nparity")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamIds = spark.table("nparity").select("id").as[Long].collect().toSet

    val docs = spark.read.parquet(s"$root/in/*")
    val keyed = docs.join(Dedup.simhash(docs, "id", "text"), Seq("id"), "left")
      .withColumn("key", coalesce(
        concat(lit("s:"), col("simhash").cast("string")),
        concat(lit("x:"), TextFunctions.fingerprint(col("text")))))
    val w = Window.partitionBy("key").orderBy("ts", "id")
    val batchIds = keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select("id").as[Long].collect().toSet
    assert(streamIds == batchIds,
      s"stream-only: ${streamIds -- batchIds}; batch-only: ${batchIds -- streamIds}")
    // structure checks: every duplicate class collapsed to its original
    assert(streamIds.intersect(Set(1000L, 1110L, 901L, 2000L)).isEmpty)
    assert(Set(900L, 1200L, 1201L, 1202L, 2100L).subsetOf(streamIds))
  }

  test("streaming↔batch parity: dedupMediaStream == Multimodal.phashPairs-keyed batch dedup") {
    // The media tier's analog of the text parity arm above: survivors of
    // the perceptual-hash stream dedup must equal the batch dedup whose
    // duplicate classes come from Multimodal.phashPairs at Hamming
    // distance 0 (the stream's equality-keyed contract), with the md5
    // fallback tier for undecodable rows — min-(ts, id) per class.
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Multimodal
    val root = Files.createTempDirectory("graft-parity-media").toString
    def px(seed: Int): Array[Int] =
      Array.tabulate(72)(i => math.abs((seed * 2654435761L + i * 40503L).toInt) % 256)
    // one-pixel brightness nudge preserving the dHash (the existing
    // media-dedup fixture's construction), asserted per seed below
    def nudge(p: Array[Int]): Array[Int] = {
      val q = p.clone(); q(40) = math.min(255, q(40) + 1); q
    }
    for (s <- Seq(1, 2, 3, 4))
      assert(graft.functions.expressions.PHash64.hash(Multimodal.grayPng(px(s), 9, 8)) ==
        graft.functions.expressions.PHash64.hash(Multimodal.grayPng(nudge(px(s)), 9, 8)),
        s"premise: seed $s nudge must be hash-identical")
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val wave0 = (1 to 8).map(s => (ts(s - 1), s.toLong, Multimodal.grayPng(px(s), 9, 8))) :+
      ((ts(8), 50L, "not an image".getBytes("UTF-8")))
    val wave1 = Seq(
      (ts(10), 101L, Multimodal.grayPng(nudge(px(1)), 9, 8)),   // near-dup of 1
      (ts(11), 102L, Multimodal.grayPng(nudge(px(2)), 9, 8)),   // near-dup of 2
      (ts(12), 103L, Multimodal.grayPng(nudge(px(3)), 9, 8)),   // near-dup of 3
      (ts(13), 150L, "not an image".getBytes("UTF-8")),         // exact dup of 50
      (ts(14), 151L, "other garbage".getBytes("UTF-8")),        // fresh undecodable
      (ts(15), 104L, Multimodal.grayPng(px(9), 9, 8)))          // fresh image
    val wave2 = Seq(
      (ts(20), 201L, Multimodal.grayPng(nudge(px(4)), 9, 8)),   // near-dup of 4
      (ts(21), 202L, Multimodal.grayPng(px(10), 9, 8)))         // fresh image
    Seq(wave0.toSeq, wave1, wave2).zipWithIndex.foreach { case (w, i) =>
      w.toDF("ts", "id", "content").coalesce(1).write.parquet(s"$root/in/w$i")
      Thread.sleep(1000)
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/w0").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/in/*")
    val q = Streaming.dedupMediaStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("mparity")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamIds = spark.table("mparity").select("id").as[Long].collect().toSet

    val media = spark.read.parquet(s"$root/in/*")
    val pairs = Multimodal.phashPairs(media, "id", "content", maxDist = 0)
    val nbrs = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
    val times = media.select(col("id"), col("ts"))
    val dropped = nbrs.join(times, "id")
      .join(times.select(col("id").as("nb"), col("ts").as("nb_ts")), "nb")
      .filter(col("nb_ts") < col("ts") ||
        (col("nb_ts") === col("ts") && col("nb") < col("id")))
      .select("id").distinct()
    val sig = media.select(col("id"), col("ts"),
      Multimodal.phash64(col("content")).as("ph"), md5(col("content")).as("m"))
    val hashedSurvivors = sig.filter(col("ph").isNotNull)
      .join(dropped, Seq("id"), "left_anti").select("id")
    val w = Window.partitionBy("m").orderBy("ts", "id")
    val fallbackSurvivors = sig.filter(col("ph").isNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select("id")
    val batchIds = hashedSurvivors.union(fallbackSurvivors)
      .as[Long].collect().toSet
    assert(streamIds == batchIds,
      s"stream-only: ${streamIds -- batchIds}; batch-only: ${batchIds -- streamIds}")
    assert(streamIds == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 50L, 151L, 104L, 202L))
  }

  test("stateful streaming sessionization (flatMapGroupsWithState)") {
    val root = Files.createTempDirectory("graft-sess").toString
    def ev(ts: String, user: String, id: Long) = (ts, user, id)
    // Batch 1: alice has two sessions separated by >30min *within* the
    // batch (closed inline); bob has one open session.
    Seq(
      ev("2024-01-01 00:00:00", "alice", 1),
      ev("2024-01-01 00:10:00", "alice", 2),
      ev("2024-01-01 01:00:00", "alice", 3), // 50min gap -> new session
      ev("2024-01-01 00:05:00", "bob", 4))
      .toDF("ts_s", "user_id", "event_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"), col("event_id"))
      .coalesce(1) // one part file: maxFilesPerTrigger batches per FILE
      .write.parquet(s"$root/ev/f1")
    // Batch 2: a far-future event advances the watermark past every
    // open session's gap horizon, so the event-time timeouts fire.
    Seq(ev("2024-01-02 12:00:00", "carol", 5))
      .toDF("ts_s", "user_id", "event_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"), col("event_id"))
      .coalesce(1)
      .write.parquet(s"$root/ev/f2")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/ev/f1").schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(s"$root/ev/*")
    val q = Streaming.sessionizeStream(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("sessout")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("sessout")
      .select(col("user_id"), date_format(col("session_start"), "HH:mm").as("s"),
        date_format(col("session_end"), "HH:mm").as("e"), col("n_events"))
      .as[(String, String, String, Long)].collect().toSet
    // alice session 1 closed by the in-batch gap; alice session 2 and
    // bob's closed by watermark timeout. carol's stays open (no later
    // watermark) — correctly NOT emitted.
    assert(got == Set(
      ("alice", "00:00", "00:10", 2L),
      ("alice", "01:00", "01:00", 1L),
      ("bob", "00:05", "00:05", 1L)))
  }

  test("watermarked windowed aggregation over an event stream") {
    val root = Files.createTempDirectory("graft-events").toString
    Seq(
      ("2024-01-01 00:01:00", "click", 1.0),
      ("2024-01-01 00:02:00", "click", 2.0),
      ("2024-01-01 00:07:00", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
      .write.parquet(s"$root/ev/f1")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/ev/f1").schema)
      .parquet(s"$root/ev/*")
    val agg = Streaming.windowedEventCounts(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("winout")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val rows = spark.table("winout")
      .select(date_format(col("wstart"), "HH:mm").as("w"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(("00:00", "click", 2L), ("00:05", "view", 1L)))
  }

  test("watermarked stream-stream interval join (attribution shape)") {
    val root = Files.createTempDirectory("graft-ssjoin").toString
    // impressions (left) and clicks (right) on the same ad key
    Seq(
      ("2024-01-01 00:00:00", "ad1", 100L),
      ("2024-01-01 00:00:00", "ad2", 101L),
      ("2024-01-01 02:00:00", "ad3", 102L)) // advances both watermarks
      .toDF("ts_s", "ad", "imp_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("ad"), col("imp_id"))
      .coalesce(1).write.parquet(s"$root/imp/f1")
    Seq(
      ("2024-01-01 00:10:00", "ad1", 900L), // within 30min of imp 100
      ("2024-01-01 00:50:00", "ad2", 901L), // too late for imp 101
      ("2023-12-31 23:50:00", "ad1", 902L), // BEFORE the impression
      ("2024-01-01 02:00:00", "ad9", 903L))
      .toDF("ts_s", "ad", "click_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("ad"), col("click_id"))
      .coalesce(1).write.parquet(s"$root/clk/f1")

    val imps = spark.readStream
      .schema(spark.read.parquet(s"$root/imp/f1").schema)
      .parquet(s"$root/imp/*")
    val clicks = spark.readStream
      .schema(spark.read.parquet(s"$root/clk/f1").schema)
      .parquet(s"$root/clk/*")
    val q = Streaming.streamIntervalJoin(imps, clicks, "ad")
      .select(col("imp_id"), col("r_click_id"))
      .writeStream
      .outputMode("append")
      .format("memory").queryName("ssjoin")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("ssjoin").as[(Long, Long)].collect().toSet
    // only the in-window pair survives: late, early, and unmatched-key
    // clicks all drop
    assert(got == Set((100L, 900L)))
  }
}

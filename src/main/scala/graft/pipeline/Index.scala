package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.embedding.{EmbeddingProvider, ModelRegistry}
import graft.filter.MetadataFilterDsl
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.round6
import graft.model.{Chunk, IndexMeta}
import graft.operators.{BM25, SmartChunker}

/** Index lifecycle: the reference's build / update / prune / search CLI
  * surface (SURVEY §3) as one distributed batch pipeline over Parquet.
  *
  * An index is a directory of tables (replacing JSONL + mmap + ids.txt +
  * meta of SURVEY §1):
  *
  *   <dir>/passages/      id, text, metadata struct     (partition-friendly)
  *   <dir>/embeddings/    id, embedding ARRAY<FLOAT>
  *   <dir>/bm25_tf/       id, term, tf                  (precomputed — the
  *   <dir>/bm25_dl/       id, dl                         reference rebuilds
  *   <dir>/bm25_df/       term, df                       these per query,
  *   <dir>/bm25_g/        num_docs, avgdl                searcher.rs:150)
  *   <dir>/meta.json      IndexMeta sidecar
  *
  * Scale posture: every stage is a DataFrame transform — chunking is a
  * typed flatMap, embedding is mapPartitions with provider batching,
  * statistics are shuffled aggregations. Nothing is collected to the
  * driver; `update` appends plus merges statistics incrementally.
  *
  * Concurrency contract: SINGLE WRITER per index directory (the
  * reference has the same implicit contract — one process owns the
  * index files). Concurrent `update`/`compact` on one index can
  * interleave their staged swaps; serialize writers externally.
  * Readers are safe against completed writes (parquet file listing is
  * per-query).
  */
object Index {
  /** Pool for submitting independent Spark jobs concurrently (writes of
    * unrelated tables). Spark schedules jobs from multiple threads fine;
    * on a busy cluster this overlaps the small jobs' scheduling + commit
    * latency instead of paying it serially. Daemon threads: never blocks
    * JVM exit. */
  private lazy val ioPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "graft-index-io")
        t.setDaemon(true)
        t
      }))

  /** Run independent job-submitting thunks concurrently; rethrows the
    * first failure. */
  private def inParallel(thunks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    Await.result(Future.sequence(thunks.map(t => Future(t()))), Duration.Inf)
    ()
  }

  /** Chunk a documents frame into passages (typed flatMap — T1-T3). */
  def chunkDocs(docs: DataFrame, textCol: String, sourceCol: String,
                strategy: String = "auto", chunkSize: Int = 256,
                chunkOverlap: Int = 128): Dataset[Chunk] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunker = new SmartChunker(strategy, chunkSize, chunkOverlap)
    docs.select(col(textCol).as("text"), col(sourceCol).cast("string").as("source"))
      .as[(String, String)]
      .flatMap { case (text, source) => chunker.chunk(text, source) }
  }

  /** Embed chunk text with provider batching inside mapPartitions (T4);
    * the document prompt template (T5) is applied per the model registry. */
  def embedChunks(chunks: Dataset[Chunk], provider: EmbeddingProvider): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val template = ModelRegistry.getModelConfig(provider.modelName).documentPrefix
    val bs = provider.batchSize
    chunks.mapPartitions { it =>
      it.grouped(bs).flatMap { batch =>
        val vecs = provider.embedWithTemplate(batch.map(_.text), template)
        batch.iterator.zip(vecs.iterator).map { case (c, v) => (c.id, v) }
      }
    }.toDF("id", "embedding")
  }

  /** Build an index directory from a documents frame. Returns the meta. */
  def build(docs: DataFrame, dir: String, provider: EmbeddingProvider,
            strategy: String = "auto", textCol: String = "text",
            sourceCol: String = "source", chunkSize: Int = 256,
            chunkOverlap: Int = 128): IndexMeta = {
    val spark = docs.sparkSession
    val chunks = chunkDocs(docs, textCol, sourceCol, strategy,
      chunkSize, chunkOverlap).persist()
    // Materialize the chunk cache once, then let the independent writes
    // (passages, embeddings) run as concurrent jobs — they share the
    // cached chunks and touch disjoint output tables.
    val n = chunks.count()
    inParallel(
      () => chunks.write.mode(SaveMode.Overwrite).parquet(s"$dir/passages"),
      () => embedChunks(chunks, provider)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings"))
    // Stats read the cached chunks directly — no passages re-read.
    buildBm25Stats(spark, dir, Some(chunks.toDF()))
    chunks.unpersist()
    val cfg = ModelRegistry.getModelConfig(provider.modelName)
    val meta = IndexMeta(version = 1, backendName = "spark-exact",
      embeddingModel = provider.modelName, embeddingMode = "provider",
      dimensions = provider.dimensions, passageCount = n,
      isRecompute = false, isPruned = false,
      queryPromptTemplate = cfg.queryPrefix, buildPromptTemplate = cfg.documentPrefix)
    writeMeta(dir, meta)
    meta
  }

  /** Recompute and persist the BM25 statistics tables; `passagesOpt`
    * short-circuits the passages re-read when the caller already holds
    * the (cached) frame. The derived tables (dl, df, g) all read the
    * just-written tf parquet, so they run as concurrent jobs. */
  def buildBm25Stats(spark: SparkSession, dir: String,
                     passagesOpt: Option[DataFrame] = None): Unit = {
    val passages = passagesOpt.getOrElse(spark.read.parquet(s"$dir/passages"))
    val tf = BM25.termFrequencies(passages, "id", "text")
    tf.write.mode(SaveMode.Overwrite).parquet(s"$dir/bm25_tf")
    val tf2 = spark.read.parquet(s"$dir/bm25_tf")
    inParallel(
      () => BM25.docLengths(tf2).write.mode(SaveMode.Overwrite).parquet(s"$dir/bm25_dl"),
      () => BM25.docFrequencies(tf2).write.mode(SaveMode.Overwrite).parquet(s"$dir/bm25_df"),
      () => BM25.corpusStats(passages, tf2).write.mode(SaveMode.Overwrite).parquet(s"$dir/bm25_g"))
  }

  /** Incremental append (T7, ref `src/cli/update.rs`): chunk + embed the
    * new documents, append to both tables, merge the BM25 statistics
    * incrementally (exact — counts compose), refresh meta.
    *
    * Chunk ids are deterministic (`source#idx`), so re-delivering an
    * already-indexed source would duplicate ids in every table and skew
    * the merged statistics; an anti join against the existing passage
    * ids drops colliding chunks first (first write wins).
    *
    * Only the base tables are appended; an IVF/PQ tier built over them
    * goes stale until [[maintainAnnTiers]] runs (the CLI's `update`
    * calls it right after). */
  def update(newDocs: DataFrame, dir: String, provider: EmbeddingProvider,
             strategy: String = "auto", textCol: String = "text",
             sourceCol: String = "source", chunkSize: Int = 256,
             chunkOverlap: Int = 128): IndexMeta = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    // Fail fast on a wrong embedder BEFORE anything is written
    // (ref src/cli/update.rs:105-111): mismatched vectors appended here
    // would only blow up later, at query time, inside the dot product.
    val meta00 = readMeta(dir)
    if (provider.dimensions != meta00.dimensions)
      throw new IllegalArgumentException(
        s"Embedding dimension mismatch: index has ${meta00.dimensions}, " +
        s"provider '${provider.modelName}' has ${provider.dimensions}")
    // The fresh-chunk set is MATERIALIZED to a staging dir before
    // anything is appended: its plan reads the passages table (the anti
    // join), and appending to passages invalidates/recomputes any
    // cached plan over it (refreshByPath) — a persisted frame would
    // silently re-evaluate against the post-append table and drop its
    // own rows. Reading the staged parquet cuts that lineage; the
    // passages "append" itself is then just moving the staged files in.
    val staging = s"$dir/passages.delta"
    chunkDocs(newDocs, textCol, sourceCol, strategy, chunkSize, chunkOverlap)
      .join(spark.read.parquet(s"$dir/passages").select("id"), Seq("id"), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val fresh = spark.read.parquet(staging)
    val nFresh = fresh.count()
    if (nFresh > 0) {
      embedChunks(fresh.as[Chunk], provider)
        .write.mode(SaveMode.Append).parquet(s"$dir/embeddings")
      mergeBm25Stats(spark, dir, fresh)
      moveTableFiles(spark, staging, s"$dir/passages")
    } else deleteDir(spark, staging)
    val meta0 = readMeta(dir)
    val n = spark.read.parquet(s"$dir/passages").count()
    val meta = meta0.copy(passageCount = n)
    writeMeta(dir, meta)
    meta
  }

  /** Exact incremental merge of the BM25 statistics for appended chunks.
    * Per-document tables (tf, dl) simply append — appended passages have
    * fresh ids; document frequencies merge by term (old + delta counts);
    * the global row reuses the stored num_docs and re-sums dl for the
    * token total. Cost is O(|delta| + |vocab| + |docs|) — never a
    * re-tokenize of the corpus, which is the difference between appending
    * to and rebuilding a 100 TB index. Identical output to a full
    * rebuild (integer counts compose; avgdl divides the same integers).
    * Falls back to a full rebuild if the stats tables don't exist. */
  def mergeBm25Stats(spark: SparkSession, dir: String, newChunks: DataFrame): Unit = {
    if (!tableExists(spark, s"$dir/bm25_tf") ||
        !tableExists(spark, s"$dir/bm25_g")) {
      // Fallback rebuild runs BEFORE update() moves the staged fresh
      // passages into the table, so the table alone would exclude the
      // batch being appended — union the fresh chunks in explicitly or
      // the new passages stay BM25-invisible until the next rebuild.
      buildBm25Stats(spark, dir, Some(
        spark.read.parquet(s"$dir/passages").select("id", "text")
          .unionByName(newChunks.select("id", "text"))))
      return
    }
    val tfDelta = BM25.termFrequencies(newChunks, "id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaDocs = newChunks.count()
    val oldNumDocs = spark.read.parquet(s"$dir/bm25_g")
      .select(col("num_docs")).head().getLong(0)
    // df merges by term: the only table whose rows change (not append),
    // staged-overwritten because it feeds its own merge.
    val mergedDf = spark.read.parquet(s"$dir/bm25_df")
      .union(BM25.docFrequencies(tfDelta))
      .groupBy("term").agg(sum("df").as("df"))
    inParallel(
      () => tfDelta.write.mode(SaveMode.Append).parquet(s"$dir/bm25_tf"),
      () => BM25.docLengths(tfDelta).write.mode(SaveMode.Append).parquet(s"$dir/bm25_dl"),
      () => overwriteStaged(mergedDf, s"$dir/bm25_df"))
    tfDelta.unpersist()
    // Global row last: total tokens re-summed from the merged dl table
    // (integer-exact, no tokenize), docs counted forward from the old row.
    val numDocs = oldNumDocs + deltaDocs
    val totalTokens = spark.read.parquet(s"$dir/bm25_dl")
      .agg(coalesce(sum("dl"), lit(0L))).head().getLong(0)
    import spark.implicits._
    Seq((numDocs, totalTokens.toDouble / numDocs)).toDF("num_docs", "avgdl")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/bm25_g")
  }

  /** Move a staged table's data files into `dest` (a Parquet-append by
    * rename — no data rewrite) and drop the staging dir. Part-file
    * names carry UUIDs, so no collisions. */
  private def moveTableFiles(spark: SparkSession, staging: String,
                             dest: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val fs = stagingPath.getFileSystem(conf)
    fs.listStatus(stagingPath).filter(_.getPath.getName.startsWith("part-"))
      .foreach { f =>
        require(fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(dest, f.getPath.getName)),
          s"failed to move ${f.getPath} into $dest")
      }
    fs.delete(stagingPath, true)
    // drop any stale cached listing of the grown table
    spark.catalog.refreshByPath(dest)
    ()
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Table existence via the Hadoop FileSystem — `java.io.File` is local
    * only and silently answers false on HDFS/object stores, which would
    * flip every incremental path into its full-rebuild fallback. */
  private def tableExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Overwrite `dest` with `df` even though `df` reads from `dest`:
    * write to a staging directory, then swap via the Hadoop FileSystem
    * (works on HDFS/object stores with rename, not just local disk). */
  private def overwriteStaged(df: DataFrame, dest: String): Unit = {
    val staged = dest + ".staged"
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(conf)
    fs.delete(destPath, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staged), destPath),
      s"failed to swap staged table into $dest")
    ()
  }

  /** Compact an index's tables: repeated `update`s accumulate small
    * files, one set per batch, and at scale the file count — not the
    * byte count — becomes the scan bottleneck (task-per-file
    * scheduling, footer reads, NN pressure). Rewrites each table to ~`targetFileBytes` files via the
    * staged swap; row content is unchanged. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val tables = Seq("passages", "embeddings", "bm25_tf", "bm25_dl", "bm25_df")
    val thunks = tables.flatMap { t =>
      val path = s"$dir/$t"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val bytes = fs.listStatus(p)
          .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        Some(() => overwriteStaged(spark.read.parquet(path).repartition(nFiles), path))
      }
    }
    // independent tables — rewrite as concurrent jobs, like build/update
    inParallel(thunks: _*)
  }

  /** Incremental IVF maintenance: assign embeddings not yet in the IVF
    * layout to their nearest EXISTING centroid (squared-L2, matching
    * KMeans assignment) and append them to the partitioned table — the
    * reference's "add to index" without a full re-cluster. Centroids
    * are left in place: assignment quality degrades only as the data
    * distribution drifts; re-run [[buildIvf]] to re-center. Staged
    * through a flat dir because the fresh-row set is computed BY an
    * anti join against the table being appended (same lineage trap as
    * `update`). */
  def appendIvf(spark: SparkSession, dir: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val ivfPath = s"$dir/embeddings_ivf"
    // (K x dims) centroid vectors reassembled from the position-wise table
    val cents = spark.read.parquet(s"$dir/centroids")
      .groupBy("centroid_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
    val fresh = spark.read.parquet(s"$dir/embeddings")
      .join(spark.read.parquet(ivfPath).select("id"), Seq("id"), "left_anti")
    val w = Window.partitionBy("id").orderBy(col("d"), col("centroid_id"))
    val staging = s"$dir/embeddings_ivf.delta"
    fresh.crossJoin(broadcast(cents))
      .select(col("id"), col("embedding"), col("centroid_id"),
        VectorFunctions.l2DistanceSq(col("embedding"), col("cvec")).as("d"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("embedding"), col("centroid_id"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val staged = spark.read.parquet(staging)
    val n = staged.count()
    if (n > 0)
      staged.write.mode(SaveMode.Append).partitionBy("centroid_id").parquet(ivfPath)
    deleteDir(spark, staging)
    spark.catalog.refreshByPath(ivfPath)
    n
  }

  /** Skew repair for the IVF layout: split every cluster holding more
    * than `maxFraction` of the table into sub-clusters (seeded KMeans
    * over just that partition's vectors) and rewrite the layout.
    *
    * Why this exists: IVF scan cost — and the pair blowup of any
    * within-cluster operator ([[graft.operators.Dedup.semanticDedup]])
    * — is bounded by the largest partition. Real corpora drift: a
    * crawl month dominated by one template, an append stream favoring
    * one region, and suddenly one centroid owns 30% of the table while
    * nprobe pruning stops helping. Rebalancing only re-clusters the hot
    * partitions (cold ones are read and rewritten but never re-fit), so
    * the KMeans work is proportional to the skew, not the corpus.
    *
    * Per-hot-cluster split count = ceil(rows / cap); KMeans children
    * are not balanced, so a child can land over the cap — rounds repeat
    * (reseeded) until the layout is within bounds or `maxRounds` is
    * hit (the escape hatch for a cluster of near-identical vectors,
    * which no vector-space split can separate). Children get fresh
    * centroid ids (hot ids retire); the final [[writeIvfLayout]]
    * recomputes the centroids table from the new partition means and
    * re-encodes a PQ tier if present, so every dependent tier stays
    * consistent. Rounds stage through flat dirs because each round's
    * assignment is computed FROM the previous one (the same lineage
    * trap as `update`/`appendIvf`); the layout itself is rewritten
    * exactly once.
    *
    * Returns the total number of clusters split across rounds (0 =
    * layout already within bounds; nothing rewritten). */
  def rebalanceIvf(spark: SparkSession, dir: String,
                   maxFraction: Double = 0.05, seed: Long = 42L,
                   maxRounds: Int = 8): Int = {
    val ivfPath = s"$dir/embeddings_ivf"
    var cur = spark.read.parquet(ivfPath)
    val stagings = scala.collection.mutable.Buffer.empty[String]
    var splitTotal = 0
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val counts = cur.groupBy("centroid_id").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)) // O(K) driver rows
      val total = counts.map(_._2).sum
      val cap = math.max(1L, (total * maxFraction).toLong)
      val hot = counts.filter(_._2 > cap).map(_._1).sorted
      if (hot.isEmpty) done = true
      else {
        var next = counts.map(_._1).max + 1
        val cold = cur.filter(!col("centroid_id").isin(hot.map(Integer.valueOf): _*))
        val splits = hot.map { cid =>
          val rows = counts.find(_._1 == cid).get._2
          val k = math.max(2, math.ceil(rows.toDouble / cap).toInt)
          val sub = graft.operators.Knn.ivfAssign(
              cur.filter(col("centroid_id") === cid).drop("centroid_id"),
              "embedding", k, seed + round)
            .withColumn("centroid_id", col("centroid_id") + lit(next))
          next += k
          sub
        }
        val staging = s"$ivfPath.rebal$round"
        stagings += staging
        splits.foldLeft(cold)(_.unionByName(_))
          .write.mode(SaveMode.Overwrite).parquet(staging)
        cur = spark.read.parquet(staging)
        splitTotal += hot.length
        round += 1
      }
    }
    if (splitTotal > 0) {
      writeIvfLayout(spark, cur, dir)
      spark.catalog.refreshByPath(ivfPath)
    }
    stagings.foreach(deleteDir(spark, _))
    splitTotal
  }

  /** Prune (T8, ref `src/cli/prune.rs`): drop the embeddings table; the
    * index answers queries by re-embedding on read (recompute mode). */
  def prune(dir: String): IndexMeta = {
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete(); ()
    }
    val emb = new java.io.File(s"$dir/embeddings")
    if (emb.exists()) rm(emb)
    val meta = readMeta(dir).copy(isPruned = true)
    writeMeta(dir, meta)
    meta
  }

  /** Embeddings for search: the stored table, or — pruned index —
    * recomputed on the fly from passages (J3 recompute path), optionally
    * pre-filtered first exactly like `recompute.rs:68-73`. */
  private def embeddingsFor(spark: SparkSession, dir: String,
                            provider: EmbeddingProvider,
                            passages: DataFrame): DataFrame = {
    import spark.implicits._
    if (tableExists(spark, s"$dir/embeddings"))
      spark.read.parquet(s"$dir/embeddings")
    else {
      val template = readMeta(dir).buildPromptTemplate
      val bs = provider.batchSize
      passages.select("id", "text").as[(String, String)].mapPartitions { it =>
        it.grouped(bs).flatMap { batch =>
          val vecs = provider.embedWithTemplate(batch.map(_._2), template)
          batch.iterator.zip(vecs.iterator).map { case ((id, _), v) => (id, v) }
        }
      }.toDF("id", "embedding")
    }
  }

  /** Compile a caller-supplied metadata filter or fail loudly. A typo'd
    * `--filter` must surface as an error, never as silently-unfiltered
    * results (the reference's parser likewise rejects rather than
    * ignores: `src/metadata/filter.rs` returns Err on malformed input). */
  private def compileFilter(filterStr: String,
                            flat: DataFrame): Column =
    MetadataFilterDsl.toColumn(filterStr, flat).getOrElse(
      throw new IllegalArgumentException(
        s"unparseable metadata filter: '$filterStr'"))

  /** Search the index: exact top-k inner product over (optionally
    * filtered) passages, with optional BM25 hybrid fusion — the complete
    * read path of SURVEY §3.1 as one logical plan. The metadata filter
    * lands *before* scoring (no 5x over-fetch needed). */
  def search(spark: SparkSession, dir: String, query: String,
             provider: EmbeddingProvider, topK: Int = 5,
             filterStr: Option[String] = None, hybrid: Boolean = false,
             alpha: Double = 0.7): DataFrame = {
    val meta = readMeta(dir)
    val passages0 = spark.read.parquet(s"$dir/passages")
    // Filter fields address the metadata object (as in the reference's
    // JSON filters), so compile against a flattened view.
    val flat = passages0.select(col("id"), col("text"), col("metadata.*"))
    val passages = filterStr match {
      case None => passages0
      case Some(f) =>
        passages0.join(flat.filter(compileFilter(f, flat)).select("id"),
          Seq("id"), "left_semi")
    }

    val qv = provider.embedWithTemplate(Seq(query), meta.queryPromptTemplate).head
    val qdf = spark.range(1).select(
      typedLit(qv.map(_.toDouble).toSeq).as("qv"))

    val emb = embeddingsFor(spark, dir, provider, passages)
      .join(passages.select("id"), Seq("id"), "left_semi")
    val scored = emb.crossJoin(broadcast(qdf))
      .select(col("id"),
        round6(VectorFunctions.dot(col("embedding"), col("qv"))).as("vscore"))

    val ranked =
      if (!hybrid) scored.orderBy(desc("vscore"), col("id"))
        .limit(topK).withColumnRenamed("vscore", "score")
      else {
        val fetchK = topK * 5
        val vec = scored.orderBy(desc("vscore"), col("id")).limit(fetchK)
        val tf = spark.read.parquet(s"$dir/bm25_tf")
        val bmScores = bm25ScoresFromStats(spark, dir, tf, query)
        val bmAll = passages.select(col("id"))
          .join(bmScores, Seq("id"), "left")
          .select(col("id"), round6(coalesce(col("score"), lit(0.0))).as("bscore"))
        val bmTop = bmAll.filter(col("bscore") > 0)
          .orderBy(desc("bscore"), col("id")).limit(fetchK).select("id")
        val cand = vec.join(bmTop, Seq("id"), "full_outer")
          .select(col("id"), coalesce(col("vscore"), lit(0.0)).as("vscore"))
        val vstats = cand.agg(min("vscore").as("vmin"), max("vscore").as("vmax"))
        val bstats = bmAll.agg(min("bscore").as("bmin"), max("bscore").as("bmax"))
        cand.join(bmAll, Seq("id"), "left")
          .crossJoin(broadcast(vstats)).crossJoin(broadcast(bstats))
          .select(col("id"), round6(
            lit(alpha) * (col("vscore") - col("vmin")) /
              greatest(col("vmax") - col("vmin"), lit(1e-6)) +
            lit(1.0 - alpha) * (coalesce(col("bscore"), lit(0.0)) - col("bmin")) /
              greatest(col("bmax") - col("bmin"), lit(1e-6))).as("score"))
          .orderBy(desc("score"), col("id")).limit(topK)
      }

    // J4: resolve ids back to passages (broadcast — k rows)
    broadcast(ranked).join(passages0, Seq("id"))
      .select(col("id"), col("score"), col("text"), col("metadata.source").as("source"))
      .orderBy(desc("score"), col("id"))
  }

  /** ANN read path over a built index's persisted IVF-PQ tier: embed
    * the query (query prompt template, like [[search]]), run
    * [[searchPq]], resolve the k winning ids back to passages with a
    * broadcast join. Sub-linear counterpart to [[search]]'s exact scan —
    * the trade a 100 TB index must make. Requires [[buildIvf]] +
    * [[buildPq]] (CLI: `ann-build`); fails loudly otherwise.
    *
    * `filterStr` (metadata filter DSL) post-filters the candidates with
    * a 5× over-fetch of both topK and rerank — the reference's ANN
    * filtering stance (`src/index/searcher.rs:129-133`: the graph walk
    * can't push predicates, so over-fetch then filter). The EXACT path
    * ([[search]]) pushes the predicate below scoring instead; filtered
    * ANN trades that for the pruned scan. */
  def searchAnn(spark: SparkSession, dir: String, query: String,
                provider: EmbeddingProvider, topK: Int = 5,
                nprobe: Int = 4, rerank: Int = 50,
                filterStr: Option[String] = None): DataFrame = {
    require(tableExists(spark, s"$dir/pq_codes"),
      s"no PQ layout under $dir — run ann-build (buildIvf + buildPq) first")
    val meta = readMeta(dir)
    val qv = provider.embedWithTemplate(Seq(query), meta.queryPromptTemplate).head
    val overFetch = if (filterStr.isDefined) 5 else 1
    val ranked = searchPq(spark, dir, qv, nprobe,
      topK * overFetch, rerank * overFetch)
    val passages0 = spark.read.parquet(s"$dir/passages")
    val passages = filterStr match {
      case None => passages0
      case Some(f) =>
        val flat = passages0.select(col("id"), col("text"), col("metadata.*"))
        passages0.join(flat.filter(compileFilter(f, flat)).select("id"),
          Seq("id"), "left_semi")
    }
    broadcast(ranked).join(passages, Seq("id"))
      .select(col("id"), col("score"), col("text"),
        col("metadata.source").as("source"))
      .orderBy(desc("score"), col("id"))
      .limit(topK)
  }

  /** Short-query auto-expansion (ref `search.rs:173-186` +
    * `query.rs:128-166`): take the BM25 top-`fromTopK` passages, extract
    * ranked key terms plus code symbols, drop words already in the
    * query, and append up to `maxTerms`. Returns the query unchanged
    * when nothing matched or nothing new was found. */
  def expandQuery(spark: SparkSession, dir: String, query: String,
                  maxTerms: Int = 5, fromTopK: Int = 5): String = {
    import spark.implicits._
    val tf = spark.read.parquet(s"$dir/bm25_tf")
    val topIds = bm25ScoresFromStats(spark, dir, tf, query)
      .select(col("id"), round6(col("score")).as("score"))
      .orderBy(desc("score"), col("id")).limit(fromTopK)
      .select("id")
    val texts = spark.read.parquet(s"$dir/passages")
      .join(topIds, Seq("id"), "left_semi")
    val qWords = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    val key = graft.operators.Expansion
      .keyTerms(texts, "text", qWords.toSeq, maxTerms)
      .select("term").as[String].collect().toSeq
    val syms = graft.operators.Expansion
      .codeSymbols(texts, "text", maxTerms)
      .select("symbol").as[String].collect().toSeq
    val fresh = (key ++ syms.filterNot(s => key.contains(s.toLowerCase)))
      .filterNot(t => qWords.contains(t.toLowerCase))
      .distinct.take(maxTerms)
    if (fresh.isEmpty) query else s"$query ${fresh.mkString(" ")}"
  }

  /** BM25 scores for a query using the persisted statistics tables
    * (A2 without the per-query corpus rebuild). */
  private def bm25ScoresFromStats(spark: SparkSession, dir: String,
                                  tf: DataFrame, query: String): DataFrame = {
    import spark.implicits._
    val terms = graft.functions.TextFunctions.tokenizeString(query)
      .groupBy(identity).view.mapValues(_.size).toSeq.toDF("term", "qn")
    val dl = spark.read.parquet(s"$dir/bm25_dl")
    val dfq = spark.read.parquet(s"$dir/bm25_df")
    val g = spark.read.parquet(s"$dir/bm25_g")
    val perTerm = tf.join(broadcast(terms), "term").join(dfq, "term")
      .join(dl, "id").crossJoin(broadcast(g))
    val idf = log((col("num_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = lit(1.0) - BM25.B + lit(BM25.B) * (col("dl").cast("double") / col("avgdl"))
    val s = col("qn") * idf * (col("tf") * (BM25.K1 + 1.0)) / (col("tf") + lit(BM25.K1) * norm)
    perTerm.groupBy("id").agg(sum(s).as("score"))
  }

  /** Build the IVF layout for an index: KMeans-assign a `centroid_id`
    * to every embedding, rewrite the embeddings table *partitioned by*
    * `centroid_id`, and persist the centroid table. This is the on-disk
    * contract that makes ANN search sub-linear at scale: a query plans
    * against nprobe partitions of the table instead of all of it. */
  def buildIvf(spark: SparkSession, dir: String, numClusters: Int,
               seed: Long = 42L): Unit = {
    val emb = spark.read.parquet(s"$dir/embeddings")
    val assigned = graft.operators.Knn.ivfAssign(emb, "embedding", numClusters, seed)
    writeIvfLayout(spark, assigned, dir)
  }

  /** Write the IVF on-disk layout from a frame that already carries a
    * `centroid_id` column: the embeddings table partitioned by cluster
    * (so a cluster filter becomes Parquet partition pruning) plus the
    * sibling `centroids` table (position-wise mean vector per cluster).
    * [[searchIvf]] and [[searchPq]] read this pair through
    * [[probeClusters]]. */
  def writeIvfLayout(spark: SparkSession, assigned: DataFrame, dir: String): Unit = {
    assigned.write.mode(SaveMode.Overwrite)
      .partitionBy("centroid_id").parquet(s"$dir/embeddings_ivf")
    spark.read.parquet(s"$dir/embeddings_ivf")
      .select(col("centroid_id"),
        posexplode(VectorFunctions.asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("centroid_id", "pos")
      .agg(avg("v").as("cv"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    // A PQ tier built before (or against a previous) IVF layout holds
    // codes partitioned by the OLD cluster assignment — partition
    // pruning against the NEW centroids would then silently read the
    // wrong partitions. Re-encode with the persisted codebooks so the
    // tiers cannot desync (the model itself is assignment-independent).
    if (tableExists(spark, s"$dir/pq_codebooks")) {
      val idCol = spark.read.parquet(s"$dir/pq_codes").columns
        .find(c => c != "codes" && c != "centroid_id")
        .getOrElse("id")
      writePqLayout(spark, dir, loadPqCodebooks(spark, dir), idCol)
    }
  }

  /** Refuses a probe count below 1: probing no cluster would prune
    * every partition and answer with zero rows. Shared by the Spark
    * tier ([[probeClusters]], [[searchPq]]) and the warm tier
    * (`WarmIndex`), so both refuse with one message. */
  private[graft] def requireNprobe(nprobe: Int): Unit =
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe): probing no cluster answers nothing")

  /** The IVF probe: rank the stored `centroids` table against the query
    * ([[graft.operators.Knn.centroidScore]] desc, then centroid id) and
    * collect the nprobe winning cluster ids — a handful of ints, the one
    * legitimate driver-side scalar of an IVF query. */
  private[graft] def probeClusters(spark: SparkSession, dir: String,
                                   qv: Array[Double], nprobe: Int): Seq[Int] = {
    requireNprobe(nprobe)
    spark.read.parquet(s"$dir/centroids")
      .join(broadcast(spark.range(1).select(typedLit(qv.toSeq).as("qv"))), expr("true"))
      .groupBy("centroid_id")
      .agg(graft.operators.Knn.centroidScore(col("qv")).as("cscore"))
      .orderBy(desc("cscore"), col("centroid_id"))
      .limit(nprobe)
      .select("centroid_id")
      .collect().map(_.getInt(0)).toSeq
  }

  /** IVF search against the partitioned layout: [[probeClusters]], then
    * filter the partitioned table with those literals so the Parquet
    * source prunes to nprobe partitions before any vector math. */
  def searchIvf(spark: SparkSession, dir: String, queryVec: Array[Float],
                nprobe: Int, k: Int, idCol: String = "id"): DataFrame = {
    val q = queryVec.map(_.toDouble)
    val qdf = spark.range(1).select(typedLit(q.toSeq).as("qv"))
    val probed = probeClusters(spark, dir, q, nprobe)
    val pruned = spark.read.parquet(s"$dir/embeddings_ivf")
      .filter(col("centroid_id").isin(probed.map(Integer.valueOf): _*))
    pruned.crossJoin(broadcast(qdf))
      .select(col(idCol),
        round6(VectorFunctions.dot(col("embedding"), col("qv"))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Build the PQ storage tier: train per-subspace KMeans codebooks
    * ([[graft.operators.Pq.trainCodebooks]]) and persist
    *
    *   - `pq_codebooks` — (sub, code, cent ARRAY<DOUBLE>), m·k tiny rows;
    *   - `pq_codes` — (id, codes ARRAY<INT>), partitioned by
    *     `centroid_id` when the IVF layout exists so ANN queries prune
    *     code partitions exactly like vector partitions.
    *
    * The codes table is ~m bytes per vector vs 4·dims for floats: the
    * ADC scan at 100 TB reads ~3 TB. Build cost is one encode pass over
    * the corpus (codegen'd PqEncode) plus m small KMeans fits — train on
    * a sample via `sampleFraction` at scale. */
  def buildPq(spark: SparkSession, dir: String, m: Int, k: Int,
              seed: Long = 42L, sampleFraction: Double = 1.0,
              idCol: String = "id"): Unit = {
    import graft.operators.Pq
    val haveIvf = tableExists(spark, s"$dir/embeddings_ivf")
    val emb = spark.read.parquet(
      if (haveIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings")
    val cb = Pq.trainCodebooks(emb, "embedding", m, k, seed, sampleFraction)
    writePqLayout(spark, dir, cb, idCol)
  }

  /** Persist a PQ model + the codes table for an already-chosen set of
    * codebooks (trained OR the deterministic seed/oracle ones).
    *
    * Write order is load-bearing: the corpus-sized codes table is
    * written FIRST and the tiny codebooks table LAST, so `pq_codebooks`
    * doubles as the tier's commit marker — a build that dies mid-encode
    * leaves no codebooks, and [[maintainAnnTiers]] (which gates on both
    * tables) never enters a crash loop against half a tier. */
  def writePqLayout(spark: SparkSession, dir: String,
                    cb: graft.operators.Pq.Codebooks,
                    idCol: String = "id"): Unit = {
    import graft.operators.Pq
    val haveIvf = tableExists(spark, s"$dir/embeddings_ivf")
    val emb = spark.read.parquet(
      if (haveIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings")
    val encoded = emb.select(
      (Seq(col(idCol), Pq.encodeCol(col("embedding"), cb).as("codes")) ++
        (if (haveIvf) Seq(col("centroid_id")) else Nil)): _*)
    val w = encoded.write.mode(SaveMode.Overwrite)
    (if (haveIvf) w.partitionBy("centroid_id") else w).parquet(s"$dir/pq_codes")
    val cbRows = for (mi <- 0 until cb.m; c <- 0 until cb.k)
      yield (mi, c, cb.cents(mi)(c).toSeq)
    import spark.implicits._
    cbRows.toDF("sub", "code", "cent")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/pq_codebooks")
  }

  /** Incremental PQ maintenance: encode ONLY the vectors not yet in
    * `pq_codes` with the persisted codebooks and append them — O(delta)
    * work, no retrain, mirroring [[appendIvf]]'s staged-append shape
    * (including the anti-join lineage trap: the delta is materialized
    * to a side dir before the append so the plan cannot observe its own
    * write). Codebook drift under distribution shift is the standard PQ
    * trade; re-run [[buildPq]] to re-center. */
  def appendPq(spark: SparkSession, dir: String, idCol: String = "id"): Long = {
    import graft.operators.Pq
    val codesPath = s"$dir/pq_codes"
    val cb = loadPqCodebooks(spark, dir)
    val haveIvf = tableExists(spark, s"$dir/embeddings_ivf")
    val emb = spark.read.parquet(
      if (haveIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings")
    val fresh = emb.join(
      spark.read.parquet(codesPath).select(idCol), Seq(idCol), "left_anti")
    val staging = s"$dir/pq_codes.delta"
    fresh.select(
        (Seq(col(idCol), Pq.encodeCol(col("embedding"), cb).as("codes")) ++
          (if (haveIvf) Seq(col("centroid_id")) else Nil)): _*)
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val staged = spark.read.parquet(staging)
    val n = staged.count()
    if (n > 0) {
      val w = staged.write.mode(SaveMode.Append)
      (if (haveIvf) w.partitionBy("centroid_id") else w).parquet(codesPath)
    }
    deleteDir(spark, staging)
    spark.catalog.refreshByPath(codesPath)
    n
  }

  /** Keep the ANN storage tiers fresh after an append: nearest-centroid
    * IVF assignment for the new vectors, then PQ codes from the
    * persisted codebooks — each only if its layout exists (for PQ: both
    * the codebooks AND the codes table, so a build that died mid-encode
    * is skipped instead of failing every later update). The encode/assign
    * work is O(delta); the delta discovery is an anti-join that scans
    * the ID COLUMN of the existing tier (column-pruned Parquet scan —
    * bytes proportional to row count, not table width). A pipeline that
    * needs strictly O(delta) maintenance threads the update's delta ids
    * through instead; at micro-batch cadence the pruned scan is the
    * simpler trade. */
  def maintainAnnTiers(spark: SparkSession, dir: String): Unit = {
    if (tableExists(spark, s"$dir/embeddings_ivf")) { appendIvf(spark, dir); () }
    if (tableExists(spark, s"$dir/pq_codebooks") &&
        tableExists(spark, s"$dir/pq_codes")) { appendPq(spark, dir); () }
  }

  /** Load the persisted codebooks (m·k·dsub doubles — a model object,
    * not data; the one legitimate driver-side collect here). */
  def loadPqCodebooks(spark: SparkSession, dir: String): graft.operators.Pq.Codebooks = {
    val rows = spark.read.parquet(s"$dir/pq_codebooks")
      .orderBy("sub", "code").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * k, s"codebook table has ${rows.length} rows, want ${m * k}")
    val dsub = rows.head.getSeq[Double](2).length
    val cents = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    graft.operators.Pq.Codebooks(m, k, dsub, cents)
  }

  /** ANN search over the PQ tier: rank stored centroids → prune the
    * `pq_codes` partitions to nprobe clusters → ADC top-`rerank` over
    * codes only (the scan never touches a float vector) → exact re-rank
    * of the candidate ids against the (equally pruned) float table.
    * Falls back to un-pruned ADC when no IVF layout exists. */
  def searchPq(spark: SparkSession, dir: String, queryVec: Array[Float],
               nprobe: Int, k: Int, rerank: Int,
               idCol: String = "id"): DataFrame = {
    import graft.operators.Pq
    requireNprobe(nprobe)
    val cb = loadPqCodebooks(spark, dir)
    val q = queryVec.map(_.toDouble)
    val haveIvf = tableExists(spark, s"$dir/centroids")
    val probed = if (haveIvf) Some(probeClusters(spark, dir, q, nprobe)) else None
    // prune only frames that actually carry the partition column: a PQ
    // tier built before the IVF layout is flat (no centroid_id) — its
    // ADC pass legally scans everything rather than crashing or, worse,
    // pruning by a stale assignment (writeIvfLayout re-encodes to heal
    // that, but search must stay safe in the window)
    def prune(df: DataFrame): DataFrame = probed match {
      case Some(ids) if df.columns.contains("centroid_id") =>
        df.filter(col("centroid_id").isin(ids.map(Integer.valueOf): _*))
      case _ => df
    }
    val candidates = Pq.adcTopK(
        prune(spark.read.parquet(s"$dir/pq_codes")), idCol, "codes", cb, q, rerank)
      .select(col(idCol))
    val vectors = prune(spark.read.parquet(
      if (haveIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings"))
    vectors.join(broadcast(candidates), Seq(idCol), "left_semi")
      .select(col(idCol),
        round6(VectorFunctions.dot(col("embedding"), typedLit(q.toSeq))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Persist the 1-bit tier: axis-sign sketch words (`w0..wN`, 64 dims
    * -> 2 BIGINTs = 8 bytes/vector) computed ONCE at build time, so the
    * candidate scan of [[searchBinary]] reads 1/32 of the int8 tier's
    * bytes and never touches a float. Stored next to the IVF/PQ tiers
    * (partitioned by `centroid_id` when the layout exists) — the
    * bottom rung of the compression ladder float -> int8 -> PQ ->
    * binary, now with the same stored/production split as PQ
    * (knn_hamming measures sketch-on-the-fly; this tier is what a
    * standing index pays per query). */
  def writeBinaryLayout(spark: SparkSession, dir: String, dims: Int,
                        idCol: String = "id"): Unit = {
    import graft.operators.Knn
    val haveIvf = tableExists(spark, s"$dir/embeddings_ivf")
    val emb = spark.read.parquet(
      if (haveIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings")
    val words = (dims + 31) / 32
    val v = VectorFunctions.asDouble(col("embedding"))
    val sigCols = (0 until words).map(w => Knn.binaryWord(v, dims, w).as(s"w$w"))
    val sigs = emb.select(
      (Seq(col(idCol)) ++ sigCols ++
        (if (haveIvf) Seq(col("centroid_id")) else Nil)): _*)
    val w = sigs.write.mode(SaveMode.Overwrite)
    (if (haveIvf) w.partitionBy("centroid_id") else w).parquet(s"$dir/binary_sigs")
  }

  /** ANN search over the stored 1-bit tier: scan ONLY the sketch words
    * (integer xor+popcount per row), keep the Hamming top-`rerank`
    * (deterministic: integer sims, id tie-break), then exact re-rank
    * those ids against the float table — identical to exact search when
    * `rerank` covers the corpus, same contract as [[searchPq]]. */
  def searchBinary(spark: SparkSession, dir: String, queryVec: Array[Float],
                   dims: Int, k: Int, rerank: Int,
                   idCol: String = "id"): DataFrame = {
    import graft.operators.Knn
    val q = queryVec.map(_.toDouble)
    val qw = Knn.packWords(q, dims)
    val words = (dims + 31) / 32
    val sim = lit(dims) - (0 until words)
      .map(w => bit_count(col(s"w$w").bitwiseXOR(lit(qw(w)))))
      .reduce(_ + _)
    val cand = spark.read.parquet(s"$dir/binary_sigs")
      .select(col(idCol), sim.as("hs"))
      .orderBy(desc("hs"), col(idCol)).limit(rerank)
      .select(col(idCol))
    val haveIvf = tableExists(spark, s"$dir/embeddings_ivf")
    spark.read.parquet(if (haveIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings")
      .join(broadcast(cand), Seq(idCol), "left_semi")
      .select(col(idCol),
        round6(VectorFunctions.dot(col("embedding"), typedLit(q.toSeq))).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Per-extension build statistics (A7, ref `src/cli/build.rs:290-308`:
    * ext → (files, chunks)): one distributed groupBy over the stored
    * passages — files counts distinct sources per extension, chunks the
    * passages. Extension-less sources report "unknown" like the
    * reference. */
  def buildStatsByExtension(spark: SparkSession, dir: String): DataFrame = {
    val src = spark.read.parquet(s"$dir/passages")
      .select(col("id"), col("metadata.source").as("source"))
    src.select(
        when(col("source").rlike("\\.[A-Za-z0-9]+$"),
          lower(regexp_extract(col("source"), "\\.([A-Za-z0-9]+)$", 1)))
          .otherwise(lit("unknown")).as("ext"),
        col("source"), col("id"))
      .groupBy("ext")
      .agg(countDistinct("source").as("files"), count(lit(1)).as("chunks"))
      .orderBy("ext")
  }

  // ----- registry utilities (S12-S14) -----

  def writeMeta(dir: String, meta: IndexMeta): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/meta.json"), meta.toJson)
    ()
  }

  def readMeta(dir: String): IndexMeta =
    IndexMeta.fromJson(Files.readString(Paths.get(s"$dir/meta.json")))

  /** List index directories under a warehouse root (S12). */
  def listIndexes(warehouse: String): Seq[(String, IndexMeta)] = {
    val root = new java.io.File(warehouse)
    if (!root.isDirectory) Seq.empty
    else root.listFiles().toSeq
      .filter(f => f.isDirectory && new java.io.File(f, "meta.json").exists())
      .map(f => f.getName -> readMeta(f.getPath))
      .sortBy(_._1)
  }

  /** Resolve an index name against a warehouse root (S13). */
  def locate(warehouse: String, name: String): Option[String] = {
    val p = new java.io.File(warehouse, name)
    if (p.isDirectory && new java.io.File(p, "meta.json").exists()) Some(p.getPath)
    else None
  }

  /** Drop an index directory (S14). */
  def remove(warehouse: String, name: String): Boolean =
    locate(warehouse, name) match {
      case None => false
      case Some(dir) =>
        def rm(p: java.io.File): Unit = {
          if (p.isDirectory) p.listFiles().foreach(rm)
          p.delete(); ()
        }
        rm(new java.io.File(dir))
        true
    }
}

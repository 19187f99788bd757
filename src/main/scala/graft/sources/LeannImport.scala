package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.IndexMeta

/** Importer for the reference engine's native on-disk index layout —
  * the inverse of `Cli export`, closing the last interop gap: a user
  * migrating an existing index does NOT re-embed.
  *
  * Reference layout (all under one index directory; note the Rust
  * `Path::with_extension` quirk — it REPLACES the final extension, so
  * a base path of `documents.leann` yields `documents.passages.jsonl`,
  * not `documents.leann.passages.jsonl`, while the meta file is a plain
  * join and keeps the full `documents.leann.meta.json` name,
  * reference `src/cli/build.rs:256,366`):
  *
  *  - `*.passages.jsonl`  — one `{id, text, metadata}` JSON per line
  *                          (`src/index/passages.rs:12-17`)
  *  - `*.passages.idx.json` — id → byte-offset map; not needed here
  *                          (Spark's jsonl scan is already splittable)
  *  - `*.ids.txt`         — newline-joined string ids; LINE i names
  *                          embedding ROW i (`src/index/builder.rs:101-103`)
  *  - `*.embeddings`      — flat little-endian f32 rows, no header;
  *                          `count = bytes / (dims * 4)`
  *                          (`src/index/embeddings.rs:21-33,99-140`)
  *  - `*.meta.json`       — dimensions / model / counts
  *                          (`src/index/meta.rs:9-43`)
  *
  * Scale posture: the embeddings blob is read with
  * `SparkContext.binaryRecords` (Hadoop FixedLengthInputFormat) — the
  * file is SPLIT across executors at `dims*4`-byte record boundaries,
  * never driver-materialized, so a 100 GB embeddings file imports with
  * the same parallelism as any parquet scan. Row order is recovered
  * with `zipWithIndex` (split order == file offset order for a
  * fixed-length format) and joined to the equally-indexed ids lines.
  * Ids and vectors travel through one shuffle-free zip-join keyed by
  * row index; passages are a plain splittable json scan.
  */
object LeannImport {

  /** Resolved native-layout file paths inside one index directory. */
  final case class Layout(metaPath: Option[String], passagesJsonl: String,
                          idsTxt: Option[String], embeddings: Option[String])

  /** Discover the native files by deriving every sibling from ONE base
    * stem — tolerant of both the Rust writer's collapsed names
    * (`documents.passages.jsonl`, stem `documents`) and fully dotted
    * names other writers produce (`x.leann.passages.jsonl`, stem
    * `x.leann`). Independent per-suffix searches are NOT safe here: a
    * directory holding two bases could pair one index's passages with
    * another's vectors and the count guard would not notice (the
    * counts agree within the wrong base), so two passages files is an
    * error, and ids/embeddings/meta only match when they share the
    * stem (meta also matches `<stem>.leann.meta.json`, the Rust
    * writer's plain-join name). */
  def locate(dir: String): Layout = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"not a directory: $dir")
    val names = d.listFiles().map(_.getName).toSeq
    val passagesNames = names.filter(_.endsWith(".passages.jsonl")).sorted
    require(passagesNames.nonEmpty,
      s"no *.passages.jsonl in $dir — not a native index directory")
    require(passagesNames.size == 1,
      s"$dir holds ${passagesNames.size} native indexes (${passagesNames.mkString(", ")}) — " +
        "pass a directory containing exactly one, or import them separately")
    val stem = passagesNames.head.stripSuffix(".passages.jsonl")
    def exact(name: String): Option[String] =
      names.find(_ == name).map(n => s"$dir/$n")
    Layout(
      metaPath = exact(s"$stem.leann.meta.json").orElse(exact(s"$stem.meta.json")),
      passagesJsonl = s"$dir/${passagesNames.head}",
      idsTxt = exact(s"$stem.ids.txt"),
      embeddings = exact(s"$stem.embeddings"))
  }

  /** Parse the reference's meta JSON into the engine-native meta row.
    * serde-style: missing keys default, never fail. */
  def readNativeMeta(path: String): IndexMeta = {
    val m = graft.util.Json.parseObject(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    def str(k: String) = m.get(k).collect { case s: String => s }.getOrElse("")
    def num(k: String) = m.get(k).collect { case l: Long => l }.getOrElse(0L)
    def bool(k: String) = m.get(k).contains(true)
    // prompt templates ride in the optional embedding_options object
    // (reference src/cli/build.rs:344-352)
    val opts = m.get("embedding_options").collect {
      case o: Map[_, _] => o.asInstanceOf[Map[String, Any]]
    }.getOrElse(Map.empty[String, Any])
    def opt(k: String) = opts.get(k).collect { case s: String => s }.getOrElse("")
    IndexMeta(
      version = 1,
      backendName = str("backend_name"),
      embeddingModel = str("embedding_model"),
      embeddingMode = str("embedding_mode"),
      dimensions = num("dimensions").toInt,
      passageCount = num("passage_count"),
      isRecompute = bool("is_recompute"),
      isPruned = bool("is_pruned"),
      queryPromptTemplate = opt("query_prompt_template"),
      buildPromptTemplate = opt("build_prompt_template"))
  }

  /** Passages jsonl → the engine's passages schema
    * (id, text, metadata: ChunkMeta). Metadata keys the reference's
    * chunkers write map across by name; anything else is dropped (the
    * typed struct is what makes pushdown/pruning work — Schemas.scala).
    * A passage with no metadata.source keeps its id as source, matching
    * the searcher's fallback (reference src/index/searcher.rs:88-92). */
  def readPassages(spark: SparkSession, jsonlPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val metaSchema = StructType(Seq(
      StructField("source", StringType), StructField("chunk_index", IntegerType),
      StructField("chunk_type", StringType), StructField("block_type", StringType),
      StructField("name", StringType), StructField("language", StringType),
      StructField("start_line", IntegerType), StructField("end_line", IntegerType),
      StructField("part", IntegerType)))
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("text", StringType),
      StructField("metadata", metaSchema)))
    spark.read.schema(schema).option("mode", "DROPMALFORMED").json(jsonlPath)
      .filter(col("id").isNotNull && col("text").isNotNull)
      .select(col("id"), col("text"), struct(
        coalesce(col("metadata.source"), col("id")).as("source"),
        col("metadata.chunk_index").as("chunk_index"),
        coalesce(col("metadata.chunk_type"), lit("imported")).as("chunk_type"),
        col("metadata.block_type").as("block_type"),
        col("metadata.name").as("name"),
        col("metadata.language").as("language"),
        col("metadata.start_line").as("start_line"),
        col("metadata.end_line").as("end_line"),
        col("metadata.part").as("part")).as("metadata"))
  }

  /** Flat-f32 embeddings + ids.txt → (id, embedding) rows.
    *
    * `binaryRecords` splits the headerless blob into `dims*4`-byte
    * records across executors; `textFile` does the same for the ids
    * lines. Both RDDs are indexed in file order and zip-joined — the
    * only shuffle is the index join itself, and at one row per
    * embedding it is the minimum data movement any distributed reader
    * could do. Fails loudly on a ragged file (size not a multiple of
    * the record length) or an ids/rows count mismatch — either means
    * the directory is corrupt and silently importing a prefix would be
    * an invisible data loss. */
  def readEmbeddings(spark: SparkSession, embPath: String, idsPath: String,
                     dims: Int): DataFrame = {
    require(dims > 0, s"dimensions must be positive, got $dims")
    val recordLen = dims * 4
    val fs = new org.apache.hadoop.fs.Path(embPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getFileStatus(new org.apache.hadoop.fs.Path(embPath)).getLen
    require(bytes % recordLen == 0,
      s"$embPath is $bytes bytes — not a multiple of dims*4 = $recordLen; " +
        "wrong --dims or truncated file")
    val vecs = spark.sparkContext.binaryRecords(embPath, recordLen)
      .map { rec =>
        val fb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
        val arr = new Array[Float](fb.remaining())
        fb.get(arr)
        arr
      }
      .zipWithIndex().map { case (v, i) => (i, v) }
    val ids = spark.sparkContext.textFile(idsPath)
      .filter(_.nonEmpty)
      .zipWithIndex().map { case (id, i) => (i, id) }
    val nVec = bytes / recordLen
    val nIds = ids.count()
    require(nIds == nVec,
      s"ids.txt has $nIds lines but $embPath holds $nVec rows — " +
        "row-to-id mapping would be wrong; refusing to import")
    import spark.implicits._
    ids.join(vecs).map { case (_, (id, vec)) => (id, vec) }
      .toDF("id", "embedding")
  }

  /** Export an engine index directory AS the reference's native layout
    * — the exact inverse of [[importIndex]], so an index built here can
    * be opened by the reference engine (or re-imported losslessly). The
    * native layout is a set of single files for a single-node engine,
    * so rows are STREAMED through the driver (`toLocalIterator` — one
    * partition in memory at a time, never a full collect); this is an
    * interop export, not a data-plane path, and is documented as
    * driver-streaming for that reason. Passage order is id-sorted, and
    * ids.txt line i matches embedding row i by construction (the rows
    * stream from one sorted join). */
  def exportNative(spark: SparkSession, fromDir: String, toDir: String,
                   baseName: String = "documents"): IndexMeta = {
    import graft.pipeline.Index
    val meta = Index.readMeta(fromDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(toDir))
    def path(suffix: String) = java.nio.file.Paths.get(s"$toDir/$baseName$suffix")
    val passages = spark.read.parquet(s"$fromDir/passages")
    val hasEmb = new java.io.File(s"$fromDir/embeddings").exists()

    // passages.jsonl + offset index, byte-accounted exactly as the
    // reference's PassageStoreWriter does (offset BEFORE each line).
    // The idx entries stream to disk IN the same pass — holding an
    // id -> offset map for 100M passages would put GBs on the driver
    // heap, exactly the bound the toLocalIterator choice protects.
    val pw = java.nio.file.Files.newBufferedWriter(
      path(".passages.jsonl"), java.nio.charset.StandardCharsets.UTF_8)
    val xw = java.nio.file.Files.newBufferedWriter(
      path(".passages.idx.json"), java.nio.charset.StandardCharsets.UTF_8)
    xw.write("{")
    var off = 0L
    var firstIdx = true
    val metaCols = passages.select(col("id"), col("text"), to_json(col("metadata")).as("mj"))
      .orderBy("id")
    val it = metaCols.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val id = r.getString(0)
      val line = graft.util.Json.write(scala.collection.immutable.ListMap(
        "id" -> id, "text" -> r.getString(1))).dropRight(1) +
        ",\"metadata\":" + r.getString(2) + "}\n"
      if (!firstIdx) xw.write(",")
      firstIdx = false
      xw.write(graft.util.Json.write(id) + ":" + off)
      val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      off += bytes.length
      pw.write(line)
    }
    pw.close()
    xw.write("}")
    xw.close()

    if (hasEmb) {
      // id-sorted stream: ids.txt line i == embeddings row i
      val emb = spark.read.parquet(s"$fromDir/embeddings").orderBy("id")
      val iw = java.nio.file.Files.newBufferedWriter(
        path(".ids.txt"), java.nio.charset.StandardCharsets.UTF_8)
      val ew = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(path(".embeddings")))
      val eit = emb.toLocalIterator()
      var first = true
      while (eit.hasNext) {
        val r = eit.next()
        if (!first) iw.write("\n")
        first = false
        iw.write(r.getString(0))
        val vec = r.getSeq[Float](1)
        val bb = ByteBuffer.allocate(vec.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        vec.foreach(bb.putFloat)
        ew.write(bb.array())
      }
      iw.close(); ew.close()
    }

    java.nio.file.Files.writeString(path(".leann.meta.json"),
      graft.util.Json.write(scala.collection.immutable.ListMap(
        "version" -> "1.0",
        "backend_name" -> meta.backendName,
        "embedding_model" -> meta.embeddingModel,
        "embedding_mode" -> meta.embeddingMode,
        "dimensions" -> meta.dimensions.toLong,
        "passage_count" -> meta.passageCount,
        "embedding_options" -> scala.collection.immutable.ListMap(
          "query_prompt_template" -> meta.queryPromptTemplate,
          "build_prompt_template" -> meta.buildPromptTemplate),
        // A flat .embeddings file IS the reference's recompute-mode
        // storage (its non-recompute builds keep vectors inside the
        // graph index file, which this layout does not ship), and
        // pruning only exists within recompute mode — so is_recompute
        // is always true here and pruned-ness rides on is_pruned.
        "is_recompute" -> true,
        "is_pruned" -> !hasEmb)))
    meta
  }

  /** Import a native index directory into an engine index directory
    * (passages + embeddings parquet, BM25 stats, doc fingerprints,
    * meta.json) — after this, every search/update/export path treats it
    * exactly like a locally built index. A pruned native index (no
    * embeddings file) imports as pruned: passages + stats land and
    * embeddings recompute on read (T8), the same contract the reference
    * has after `prune`. */
  def importIndex(spark: SparkSession, fromDir: String, toDir: String,
                  dimsOverride: Option[Int] = None): IndexMeta = {
    import graft.pipeline.Index
    val layout = locate(fromDir)
    val nativeMeta = layout.metaPath.map(readNativeMeta).getOrElse(
      IndexMeta(1, "unknown", "unknown", "unknown", 0, 0L,
        isRecompute = false, isPruned = false, "", ""))
    val dims = dimsOverride.orElse(Some(nativeMeta.dimensions).filter(_ > 0))
    val passages = readPassages(spark, layout.passagesJsonl)
    passages.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$toDir/passages")
    val written = spark.read.parquet(s"$toDir/passages")
    val n = written.count()
    val embedded = (layout.embeddings, layout.idsTxt, dims) match {
      case (Some(emb), Some(idsF), Some(d)) =>
        readEmbeddings(spark, emb, idsF, d)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$toDir/embeddings")
        true
      case (Some(_), _, None) =>
        sys.error(s"$fromDir has an embeddings file but no usable dimension " +
          "count — pass --dims or provide the native meta.json")
      case (Some(_), None, _) =>
        // Dropping the vectors here would silently hand the user a
        // pruned index whose searches recompute with whatever provider
        // is configured — the exact re-embedding the import exists to
        // avoid. Same fail-loud stance as the ragged/mismatch guards.
        sys.error(s"$fromDir has an embeddings file but no matching ids.txt — " +
          "the row-to-id mapping is unrecoverable; restore ids.txt or " +
          "delete the embeddings file to import as pruned")
      case _ => false // pruned index (no embeddings file): passages-only import is the contract
    }
    Index.buildBm25Stats(spark, toDir, Some(written))
    val meta = nativeMeta.copy(
      version = 1,
      dimensions = dims.getOrElse(0),
      passageCount = n,
      // Engine convention (Index.build): isRecompute=false — every
      // engine index stores embeddings as a prunable parquet table, so
      // the native recompute-mode marker carries no information here
      // and keeping it would make export -> import differ from a
      // direct build's meta. Pruned-ness is the flag that matters.
      isRecompute = false,
      isPruned = !embedded)
    Index.writeMeta(toDir, meta)
    meta
  }
}

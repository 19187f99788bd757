package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length, lit}
import org.apache.spark.storage.StorageLevel

import graft.embedding.{EmbeddingProvider, HashEmbedder}
import graft.operators.{CorpusClean, Dedup, Multimodal, Stop, TrainExport}
import graft.pipeline.Index
import graft.serve.SearchServer
import graft.sources.FileIngest

/** Command-line surface mirroring the reference CLI (`leann <cmd>`,
  * `src/cli/mod.rs`) so a reference user can run the same workflows:
  *
  *   graft.Cli build  --docs <dir|corpus.jsonl> --index <name>
  *                    [--strategy auto] [--chunk-size 256]
  *                    [--chunk-overlap 128]
  *   graft.Cli search <name> <query> [--top-k 5] [--filter <dsl>]
  *                    [--hybrid] [--alpha 0.7] [--no-auto-hybrid]
  *                    [--no-expand] [--format text|json]
  *   graft.Cli ask    <name> <question> [--top-k 5]
  *   graft.Cli react  <name> <question> [--top-k 3] [--max-steps 5]
  *   graft.Cli update --docs <dir> --index <name>
  *   graft.Cli prune  <name>
  *   graft.Cli list
  *   graft.Cli remove <name>
  *   graft.Cli serve  <name> [--port 8080]
  *   graft.Cli mcp    [--index <name>]        (MCP stdio transport)
  *   graft.Cli config [show|init|path] [--force]
  *   graft.Cli compact <name>                 (small-file compaction)
  *   graft.Cli export-training <name> --out <dir> [--shards 8]
  *                    [--seed graft] [--pack-budget 2048]
  *   graft.Cli clean  --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    [--id-col <col>] [--min-words 50] [--min-lm -9.0]
  *   graft.Cli dedup  --docs <dir|corpus.jsonl|parquet|media dir|embeddings.parquet> --out <dir>
  *                    [--method exact|minhash|simhash|containment|phash|audiofp|embed|semantic]
  *                    [--id-col <col>] [--vec-col embedding] [--minj 0.8] [--max-dist 3]
  *                    [--bits 16] [--min-cosine 0.95] [--tau 0.95] [--clusters 8]
  *                    [--quality-col <col>]
  *   graft.Cli curate --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    [--id-col <col>] [--min-words 50] [--min-lm <f>]
  *                    [--dedup minhash|exact|simhash|containment|none] [--minj 0.8]
  *                    [--max-dist 3] [--decontaminate <bench>]
  *                    [--ngram 5] [--max-overlap 0] [--report <dir>]
  *   graft.Cli pretrain --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    [curate's flags but --report]
  *                    [--budget <chars> [--weights src=3,src2=1] [--max-rate 1.0]]
  *                    [--merges 200] [--min-freq 2] [--pack-budget <toks>]
  *                    [--shards 8] [--seed graft]
  *   graft.Cli scorecard --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    [--src-col source] [--text-col text] [--min-words 50]
  *   graft.Cli plan --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    --budget <tokens> [--weights src=3,src2=1]
  *                    [--src-col source] [--tokens-col <col>] [--max-rate 1.0]
  *                    [--apply <dir> [--seed plan] [--id-col <col>]]
  *   graft.Cli overlap --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    [--sketch] [--n 3] [--hashes 64] [--src-col source] [--text-col text]
  *   graft.Cli tokenize --docs <dir|corpus.jsonl|parquet> --out <dir>
  *                    [--merges 200] [--min-freq 2] [--relaxed] [--batch-cap 64]
  *   graft.Cli select-dsir --docs <dir|jsonl> --target <dir|jsonl> --k <rows>
  *                    --out <dir> [--seed dsir] [--buckets 10000]
  *   graft.Cli analyze (--embeddings <parquet> | --edges <parquet>) --out <dir>
  *                    --op knn|pagerank|ppr|triangles|components|communities|kcore|modularity|spread|degrees|kmeans|pca
  *                    [--survivors-of <parquet>] [--id-col vec_id] [--vec-col embedding]
  *                    [--k 3] [--lsh [--bits auto] [--tables 4] [--block-col <col>]]
  *                    [--weighted] [--clusters 8] [--iters n] [--tol t] [--init <parquet>]
  *                    [--seeds <parquet>] [--labels <parquet>] [--min-degree 3] [--max-degree d]
  *   graft.Cli ann-build <name> [--clusters 16] [--pq-m 8] [--pq-k 16]
  *   graft.Cli ann-search <name> <query> [--top-k 5] [--nprobe 4] [--rerank 50] [--filter dsl]
  *   graft.Cli export <name> --out <dir> [--format jsonl|parquet|native]
  *   graft.Cli import --from <native-index-dir> --index <name> [--dims N]
  *
  * Warehouse root: $GRAFT_WAREHOUSE or ./graft-warehouse. The embedding
  * provider defaults to the offline deterministic hash embedder
  * ($GRAFT_EMBED_DIMS); remote providers plug in via
  * [[graft.embedding.EmbeddingProvider]].
  */
object Cli {

  private def warehouse: String =
    sys.env.getOrElse("GRAFT_WAREHOUSE", "graft-warehouse")

  private lazy val config: Config = Config.load()

  /** Precedence: $GRAFT_EMBED_DIMS > config [embedding].dims > 64.
    * `provider = "http"` (with `base_url`/`model`, key from
    * $GRAFT_EMBED_API_KEY) selects the OpenAI-compatible HTTP client;
    * anything else is the offline hash embedder. */
  private def provider: EmbeddingProvider = {
    val dims = sys.env.get("GRAFT_EMBED_DIMS").map(_.toInt)
      .getOrElse(config.embedding.dims)
    config.embedding.provider match {
      case "http" | "openai" =>
        new graft.embedding.HttpEmbedder(
          config.embedding.model.getOrElse("text-embedding-3-small"),
          config.embedding.baseUrl.getOrElse("http://localhost:8080/v1"),
          apiKey = sys.env.get("GRAFT_EMBED_API_KEY"),
          dims = dims)
      case "ollama" =>
        // $GRAFT_EMBED_DIMS wins; else the reference's per-model
        // defaults (ollama.rs:41-48); dims = 0 forces a probe
        new graft.embedding.OllamaEmbedder(
          config.embedding.model.getOrElse("nomic-embed-text"),
          host = config.embedding.baseUrl
            .getOrElse(graft.embedding.OllamaEmbedder.defaultHost),
          dimsIn = sys.env.get("GRAFT_EMBED_DIMS").map(_.toInt).getOrElse(-1))
      case "gemini" =>
        new graft.embedding.GeminiEmbedder(
          config.embedding.model.getOrElse("text-embedding-004"),
          apiKey = sys.env.get("GRAFT_EMBED_API_KEY")
            .orElse(sys.env.get("GEMINI_API_KEY"))
            .getOrElse(fail("gemini embedding provider needs " +
              "$GRAFT_EMBED_API_KEY or $GEMINI_API_KEY")),
          baseUrl = config.embedding.baseUrl
            .getOrElse("https://generativelanguage.googleapis.com"),
          dimsIn = sys.env.get("GRAFT_EMBED_DIMS").map(_.toInt).getOrElse(0))
      case "local" | "bert" =>
        // in-process BERT inference from a local checkpoint directory
        // (ref candle.rs:36-42: config.json + tokenizer.json + safetensors)
        val dir = config.embedding.modelPath
          .getOrElse(fail("local embedding provider needs [embedding].model_path " +
            "(directory with config.json, tokenizer.json|vocab.txt, model.safetensors)"))
        val name = config.embedding.model.getOrElse("local-bert")
        new graft.embedding.BertEmbedder(dir, name,
          normalize = graft.embedding.BertEmbedder.normalizeFor(name))
      case "hash" => new HashEmbedder(dims)
      // an unknown provider must not silently build an index with
      // meaningless hash vectors
      case other => fail(
        s"unknown [embedding].provider '$other' (supported: hash, http, ollama, gemini, local)")
    }
  }

  /** LLM dispatch from config `[llm]` (ref `src/llm/mod.rs:33-54`);
    * default stays the offline simulator so ask/react work with zero
    * setup, exactly like the embedding side's hash default. */
  private def llmProvider: graft.llm.LlmProvider =
    graft.llm.LlmProvider.create(
      config.llm.provider,
      config.llm.model.getOrElse("simulated"),
      baseUrl = config.llm.baseUrl)

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The SQL functions (dot_product, minhash_sig, ...) are part of the
    // engine's surface; every CLI session gets them.
    GraftExtensions.install(s)
    s
  }

  /** Flag parsing: (positional args, --key value / --bool flags). */
  private[graft] def parse(args: Seq[String]): (Seq[String], Map[String, String]) = {
    val pos = Seq.newBuilder[String]
    var flags = Map.empty[String, String]
    var i = 0
    val boolFlags = Set("--hybrid", "--force", "--no-auto-hybrid", "--no-expand", "--wet", "--lsh", "--sketch", "--weighted", "--warm", "--relaxed")
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (boolFlags.contains(a)) {
          flags += (a.drop(2) -> "true"); i += 1
        } else if (i + 1 >= args.length) {
          // A value-taking flag in final position is a usage error, not a
          // silent "true" (which would crash later in .toInt/.toDouble).
          fail(s"flag $a requires a value")
        } else {
          flags += (a.drop(2) -> args(i + 1)); i += 2
        }
      } else { pos += a; i += 1 }
    }
    (pos.result(), flags)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    sys.exit(2)
  }

  /** Shared text-corpus ingest: `.jsonl`/`.jsonl.gz` → readJsonl,
    * `.parquet` (file or directory of part-files) → parquet, anything
    * else → recursive document ingest. One resolution rule for every
    * text arm so `clean | dedup | curate | scorecard` can't disagree
    * about what a `--docs` path means. */
  private[graft] def ingestText(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".jsonl") || path.endsWith(".jsonl.gz"))
      FileIngest.readJsonl(spark, path)
    else if (looksParquet(path)) spark.read.parquet(path)
    else FileIngest.readDocuments(spark, path)

  /** A `.parquet` path, or a directory holding part-files: a parquet
    * DIRECTORY rarely ends in ".parquet", so detect by contents too —
    * ingesting a table as opaque files would silently read nothing. */
  private def looksParquet(path: String): Boolean = {
    val f = new java.io.File(path)
    path.endsWith(".parquet") ||
      (f.isDirectory && f.listFiles() != null && f.listFiles().exists(c =>
        c.getName.endsWith(".parquet") || c.getName == "_SUCCESS"))
  }

  /** Resolve the per-document id column for the doc-grained funnel arms
    * (`clean`/`curate`): `--id-col` wins, else a `doc_id` column, else
    * fall back to `source`. The fallback is only safe when `source`
    * really is one-row-per-doc (the dir/jsonl ingests key docs by
    * path) — on a corpus where `source` is a multi-doc grain column
    * (exactly the shape the scorecard/plan/overlap arms consume) the
    * funnel's doc-keyed joins would fan out quadratically within each
    * source and the dedup/decontamination grain would silently be
    * wrong. So the chosen column is verified unique with ONE
    * count/countDistinct aggregate (a map-side-combined pass the
    * funnel's own ingest count already pays for in spirit) and a
    * non-unique grain fails loudly — including an explicit but typo'd
    * `--id-col`, which is the same silent corruption. */
  private[graft] def resolveUniqueDocId(docs: DataFrame,
      flags: Map[String, String], arm: String): String = {
    import org.apache.spark.sql.functions.{count, countDistinct}
    val idCol = flags.getOrElse("id-col",
      if (docs.columns.contains("doc_id")) "doc_id" else "source")
    if (!docs.columns.contains(idCol)) fail(
      s"$arm: id column '$idCol' not in corpus " +
        s"(have: ${docs.columns.mkString(", ")}); set --id-col")
    val r = docs.agg(count(lit(1)).as("n"),
      countDistinct(col(idCol)).as("d")).head()
    if (r.getLong(0) != r.getLong(1)) fail(
      s"$arm: id column '$idCol' is not one-row-per-document " +
        s"(${r.getLong(0)} rows, ${r.getLong(1)} distinct values) — the " +
        "per-doc joins would fan out within each id class and the dedup " +
        "grain would silently be wrong; pass --id-col <unique doc id>")
    idCol
  }

  /** Survivors of a TEXT dedup tier over (idCol, textCol) — the shared
    * engine of the `dedup` and `curate` arms (one implementation, so
    * the composed pipeline and the standalone arm can't drift):
    * exact = normalized-md5 groups (NULL-fingerprint docs carry no
    * signal and all survive), minhash = MinHash-LSH candidates +
    * true-Jaccard verify + connected components, simhash = class-level
    * Hamming clustering, containment = df-capped inverted-index pairs
    * dropping the CONTAINED side (the near-superset read — minJ doubles
    * as the containment floor). One canonical survivor (min id) per
    * cluster/pair. */
  private[graft] def textDedupSurvivors(docs: DataFrame,
      idCol: String, textCol: String, method: String,
      minJ: Double, maxDist: Int): DataFrame = {
    import org.apache.spark.sql.functions.{greatest, when}
    method match {
      case "exact" =>
        val fp = graft.functions.TextFunctions.fingerprint(col(textCol))
        docs.join(Dedup.exactGroups(docs.filter(fp.isNotNull), idCol, textCol)
            .select(col("keep_id").as(idCol)),
          Seq(idCol), "left_semi")
          .union(docs.filter(fp.isNull))
      case "minhash" =>
        val pairs = Dedup.minhashDedup(docs, idCol, textCol, n = 3,
          numHashes = 16, bandSize = 4, minJ = minJ)
        val losers = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
          .filter(col("component") =!= col("id"))
          .select(col("id").as(idCol))
        docs.join(losers, Seq(idCol), "left_anti")
      case "simhash" =>
        val clusters = Dedup.simhashClusters(docs, idCol, textCol, maxDist = maxDist)
        docs.join(clusters.filter(!col("keep")).select(col("id").as(idCol)),
          Seq(idCol), "left_anti")
      case "containment" =>
        // near-superset dedup: drop the CONTAINED side of each pair
        // (its shingles live inside the other doc); when both sides
        // contain each other (near-identical), keep the smaller id —
        // the family's canonical-survivor convention. minJ doubles as
        // the containment floor.
        val pairs = Dedup.containmentPairs(docs, idCol, textCol, n = 3,
          minC = minJ, maxShingleDf = 20)
        val losers = pairs.select(
          when(col("c_a") >= minJ && col("c_b") >= minJ,
            greatest(col("id_a"), col("id_b")))
            .when(col("c_a") >= minJ, col("id_a"))
            .otherwise(col("id_b"))
            .as(idCol)).distinct()
        docs.join(losers, Seq(idCol), "left_anti")
      case other => fail(
        s"unknown text dedup method '$other' (exact|minhash|simhash|containment)")
    }
  }

  /** The stages of [[curateFunnel]]: `cleaned` and `deduped` are
    * persisted (the caller unpersists them), `survivors` is not. */
  private[graft] case class Funnel(cleaned: DataFrame, deduped: DataFrame,
      survivors: DataFrame, n0: Long, n1: Long, n2: Long, ruleReport: DataFrame)

  /** The curation funnel shared by `curate` and `pretrain`: quality
    * clean (Gopher + repetition + optional `--min-lm` floor; survivors
    * are PII-scrubbed, so dedup runs over the text that would ship) →
    * `--dedup` tier ([[textDedupSurvivors]]) → benchmark
    * decontamination (drop any doc sharing more than `--max-overlap`
    * distinct `--ngram`-grams with the `--decontaminate` set; default 0:
    * one shared n-gram is contamination). Every stage keys by one
    * verified-unique doc id ([[resolveUniqueDocId]]). The two stage
    * boundaries persist MEMORY_AND_DISK and are counted exactly once —
    * at scale each is one materialization and the funnel numbers are
    * its byproducts. `survivors` carries `source` ([[withSource]]). */
  private[graft] def curateFunnel(docs: DataFrame,
      flags: Map[String, String], arm: String): Funnel = {
    val method = flags.getOrElse("dedup", "minhash")
    if (!Set("minhash", "exact", "simhash", "containment", "none").contains(method))
      fail(s"--dedup '$method' (minhash|exact|simhash|containment|none)")
    Seq("source", "text").foreach { c =>
      if (!docs.columns.contains(c)) fail(
        s"--docs needs 'source' and 'text' columns " +
          s"(have: ${docs.columns.mkString(", ")})")
    }
    val idCol = resolveUniqueDocId(docs, flags, arm)
    val n0 = docs.count()
    val (kept, ruleReport) = CorpusClean.cleanCorpus(docs, idCol, "text",
      minWords = flags.get("min-words").map(_.toInt).getOrElse(50),
      minLmScore = flags.get("min-lm").map(_.toDouble))
    val cleaned = kept.persist(StorageLevel.MEMORY_AND_DISK)
    val n1 = cleaned.count()
    val deduped = (method match {
      case "none" => cleaned
      case m => textDedupSurvivors(cleaned, "doc_id", "text", m,
        minJ = flags.get("minj").map(_.toDouble).getOrElse(0.8),
        maxDist = flags.get("max-dist").map(_.toInt).getOrElse(3))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val n2 = deduped.count()
    val survivors = flags.get("decontaminate") match {
      case None => deduped
      case Some(benchPath) =>
        val bench = ingestText(docs.sparkSession, benchPath)
        if (!bench.columns.contains("text")) fail(
          s"--decontaminate $benchPath has no 'text' column " +
            s"(have: ${bench.columns.mkString(", ")})")
        val benchId =
          if (bench.columns.contains("doc_id")) "doc_id" else "source"
        val contaminated = CorpusClean.decontaminate(
            deduped, "doc_id", "text", bench, benchId, "text",
            n = flags.get("ngram").map(_.toInt).getOrElse(5))
          .filter(col("n_overlap_grams") >
            flags.get("max-overlap").map(_.toLong).getOrElse(0L))
          .select("doc_id")
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
    }
    Funnel(cleaned, deduped, withSource(survivors, docs, idCol), n0, n1, n2, ruleReport)
  }

  /** cleanCorpus's output carries only the id (as `doc_id`) and the
    * scrubbed text: re-attach `docs`' `source` by one doc-keyed join
    * when the id is not `source`, so the output stays consumable by the
    * source-grained siblings (scorecard, plan, overlap). */
  private def withSource(kept: DataFrame, docs: DataFrame, idCol: String): DataFrame =
    if (idCol == "source" || !docs.columns.contains("source")) kept
    else kept.join(docs.select(col(idCol).as("doc_id"), col("source")),
      Seq("doc_id"), "left")

  /** The rows `dedup --method <m> --docs <path>` reads. Text methods:
    * [[ingestText]]. Media methods (phash, audiofp): binary files keyed
    * by path, or a (source, content) parquet table. Embedding methods
    * (embed, semantic): an (id, vector[, quality]) parquet. */
  private[graft] def dedupInput(spark: SparkSession, path: String,
      method: String): DataFrame = method match {
    case "embed" | "semantic" => spark.read.parquet(path)
    case "phash" | "audiofp" =>
      if (looksParquet(path))
        spark.read.parquet(path).select(
          col("source").cast("string").as("source"), col("content"))
      else spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true").load(path)
        .select(col("path").as("source"), col("content"))
    case _ => ingestText(spark, path)
  }

  /** The survivors of `dedup --method <m>` (default minhash) over
    * [[dedupInput]]'s rows. Text tiers: [[textDedupSurvivors]], keyed by
    * [[resolveUniqueDocId]] as `clean` and `curate` key. Media tiers:
    * class-level Hamming clustering of the image dHash (phash) or the
    * banded-energy audio fingerprint (audiofp) — pixels/PCM never
    * shuffle — minus the collapsed rows, so undecodable files always
    * survive. Embedding tiers: cosine pairs, sign-LSH bucketed in one
    * global pass (embed, `--bits`, `--min-cosine`) or k-means-blocked
    * within each cluster (semantic, `--clusters`, `--iters`, `--tau`),
    * then connected components and a QUALITY-KEYED survivor per
    * cluster (resolveByQuality over `--quality-col`; absent, qualities
    * tie and the smallest id survives). Every other tier keeps one
    * canonical survivor (min id) per cluster. */
  private[graft] def dedupSurvivors(docs: DataFrame,
      flags: Map[String, String]): DataFrame = {
    val maxDist = flags.get("max-dist").map(_.toInt).getOrElse(3)
    def minusLosers(clusters: DataFrame) =
      docs.join(clusters.filter(!col("keep")).select(col("id").as("source")),
        Seq("source"), "left_anti")
    flags.getOrElse("method", "minhash") match {
      case m @ ("exact" | "minhash" | "simhash" | "containment") =>
        textDedupSurvivors(docs, resolveUniqueDocId(docs, flags, "dedup"),
          "text", m, minJ = flags.get("minj").map(_.toDouble).getOrElse(0.8),
          maxDist = maxDist)
      case "phash" =>
        minusLosers(Multimodal.phashClusters(docs, "source", "content", maxDist = maxDist))
      case "audiofp" =>
        minusLosers(Multimodal.audioFpClusters(docs, "source", "content", maxDist = maxDist))
      case m @ ("embed" | "semantic") =>
        val idCol = flags.getOrElse("id-col", "vec_id")
        val vecCol = flags.getOrElse("vec-col", "embedding")
        Seq(idCol, vecCol).foreach { c =>
          if (!docs.columns.contains(c)) fail(
            s"--docs parquet has no '$c' column (have: ${docs.columns.mkString(", ")}); " +
              "set --id-col/--vec-col for embedding dedup methods")
        }
        val pairs =
          if (m == "embed") {
            val head = docs.select(col(vecCol)).limit(1).collect()
            if (head.isEmpty || head(0).isNullAt(0)) fail(
              s"cannot derive embedding dims: ${flags.getOrElse("docs", "the input")} " +
                s"is empty or its first '$vecCol' is null")
            Dedup.embeddingLshPairs(docs, idCol, vecCol, head(0).getSeq[Any](0).size,
              bits = flags.get("bits").map(_.toInt).getOrElse(16),
              minCosine = flags.get("min-cosine").map(_.toDouble).getOrElse(0.95))
          } else {
            val (asg, _) = graft.operators.Cluster.kmeansAssign(docs, idCol, vecCol,
              k = flags.get("clusters").map(_.toInt).getOrElse(8),
              Stop.Rounds(flags.get("iters").map(_.toInt).getOrElse(5)))
            val withCl = docs.join(
              asg.select(col("id").as(idCol + "_asg"), col("cluster")),
              col(idCol).cast("long") === col(idCol + "_asg"))
            Dedup.semanticPairs(withCl, idCol, vecCol, "cluster",
              tau = flags.get("tau").map(_.toDouble).getOrElse(0.95))
          }
        val comps = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        val quality = docs.select(col(idCol).cast("long").as("id"),
          flags.get("quality-col") match {
            case Some(qc) =>
              if (!docs.columns.contains(qc)) fail(
                s"--quality-col '$qc' not in --docs parquet (have: ${docs.columns.mkString(", ")})")
              col(qc).as("q")
            case None => lit(0.0).as("q")
          })
        val losers = Dedup.resolveByQuality(comps, quality, "id", "q")
          .filter(!col("keep")).select(col("id").as(idCol))
        docs.join(losers, Seq(idCol), "left_anti")
      case other => fail(
        s"unknown dedup method '$other' (exact|minhash|simhash|containment|phash|audiofp|embed|semantic)")
    }
  }

  /** `--weights src=3,src2=1` (raw weights, normalized by mixturePlan);
    * omitted = uniform over the corpus's sources. Sources missing from
    * an explicit list get weight 0 — visible in the plan. */
  private def mixtureWeights(docs: DataFrame, srcCol: String,
      flags: Map[String, String]): Map[String, Double] = flags.get("weights") match {
    case Some(spec) => spec.split(",").map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.lastIndexOf('=')
        if (i <= 0) fail(s"--weights entry '$kv' is not src=w")
        kv.substring(0, i) -> kv.substring(i + 1).toDouble
      }.toMap
    case None => docs.select(col(srcCol)).where(col(srcCol).isNotNull)
      .distinct().collect().map(_.get(0).toString -> 1.0).toMap
  }

  /** `--max-rate` (default 1): above 1, capped sources UPSAMPLE (epoch
    * repeats up to the cap) instead of stopping at their own supply. */
  private def maxRate(flags: Map[String, String]): Double =
    flags.get("max-rate").map(_.toDouble).getOrElse(1.0)

  /** Write the water-filling mixture plan of `docs` at `budget` tokens
    * to `planOut` (one file) and read it back: per-source allocations
    * at the `--weights` targets, capped sources spilling their unfilled
    * quota to the rest. */
  private def writePlan(docs: DataFrame, srcCol: String, tokCol: String,
      budget: Long, flags: Map[String, String], planOut: String): DataFrame = {
    TrainExport.mixturePlan(docs, srcCol, tokCol, mixtureWeights(docs, srcCol, flags),
      budget, maxRate = maxRate(flags))
      .coalesce(1).write.mode("overwrite").parquet(planOut)
    docs.sparkSession.read.parquet(planOut)
  }

  /** Draw each source of `docs` at its planned rate: rateSample's
    * md5-hex-threshold keep, or with `--max-rate > 1` rateSampleEpochs'
    * floor(rate) full copies + a fractional draw, the copy index in an
    * `epoch` column. */
  private def planDraw(docs: DataFrame, idCol: String, srcCol: String,
      plan: DataFrame, seed: String, flags: Map[String, String]): DataFrame =
    if (maxRate(flags) > 1.0) TrainExport.rateSampleEpochs(docs, idCol, srcCol, plan, seed)
    else TrainExport.rateSample(docs, idCol, srcCol, plan, seed)

  /** The directory of index `name` in the warehouse; refuses a missing one. */
  private def indexDir(name: String): String =
    Index.locate(warehouse, name).getOrElse(fail(s"no index '$name' in $warehouse"))

  /** Print (id, score, text, source) search hits as numbered lines with
    * a 100-char snippet. */
  private def printHits(rows: Array[Row]): Unit = {
    rows.zipWithIndex.foreach { case (r, i) =>
      val text = r.getString(2)
      val snippet = if (text.length > 100) text.take(100) + "…" else text
      println(f"${i + 1}%2d. [${r.getDouble(1)}%.6f] ${r.getString(3)}%s  $snippet%s")
    }
    if (rows.isEmpty) println("(no results)")
  }

  private val analyzeGraphOps = Set("pagerank", "ppr", "triangles", "components",
    "kcore", "modularity", "communities", "spread", "degrees")

  /** The kNN-build flags: read only by the ops that build the graph
    * and made moot by an `--edges` table; the `lshFlags` are read only
    * by the `--lsh` build. */
  private val lshFlags = Seq("bits", "tables", "block-col")
  private val knnBuildFlags = Seq("k", "lsh") ++ lshFlags

  /** The `analyze` flags that only some ops read, with the ops that read
    * them. A flag passed to any other op is refused, not silently
    * ignored. */
  private val analyzeFlagOps: Seq[(String, Set[String])] = {
    val loops = Set("pagerank", "ppr", "communities", "spread", "kmeans")
    Seq(
      // --edges replaces the kNN build; knn/kmeans/pca need the vectors
      "edges" -> analyzeGraphOps,
      // warm starts exist only where an incremental re-run is defined
      "init" -> (loops + "components"),
      "tol" -> loops,
      "weighted" -> Set("pagerank", "communities"),
      "iters" -> (loops + "kcore"),
      "seeds" -> Set("ppr", "spread"),
      "labels" -> Set("modularity"),
      "min-degree" -> Set("kcore"),
      "max-degree" -> Set("triangles"),
      "clusters" -> Set("kmeans")) ++
      knnBuildFlags.map(_ -> (analyzeGraphOps + "knn"))
  }

  /** The refusal message for an `analyze` flag combination that would
    * be silently ignored, or None when every flag is read. */
  private[graft] def analyzeFlagError(op: String, flags: Map[String, String]): Option[String] =
    if (op == "kmeans" && flags.contains("k"))
      Some("--k sets the kNN-graph degree and is ignored by --op kmeans; " +
        "use --clusters <n> for the k-means cluster count")
    else if (op == "kmeans" && flags.contains("init") && flags.contains("clusters"))
      Some("--clusters is ignored by --op kmeans with --init: warm k-means " +
        "takes its clusters from the prior assignment")
    else analyzeFlagOps.collectFirst {
      case (flag, ops) if flags.contains(flag) && !ops(op) =>
        s"--$flag applies to --op ${ops.toSeq.sorted.mkString("|")}, not --op $op"
    }.orElse(knnBuildFlags.find(f => flags.contains("edges") && flags.contains(f)).map(f =>
      s"--$f configures the kNN build, which --edges replaces; ignored by --op $op"))
      .orElse(lshFlags.find(f => flags.contains(f) && !flags.contains("lsh"))
        .map(f => s"--$f configures the --lsh kNN build; without --lsh, --op $op " +
          "builds the exact graph"))

  def main(args: Array[String]): Unit = {
    // TCP_NODELAY for any HttpServer this process creates (serve/mcp):
    // the JDK reads this property ONCE, at ServerConfig class-init —
    // i.e. when the first HttpServer in the process is constructed —
    // so it must be set at process entry, not in the server's own
    // constructor, to be guaranteed effective (see SearchServer's
    // rationale: Nagle + delayed ACK adds a flat ~40 ms per response).
    System.setProperty("sun.net.httpserver.nodelay", "true")
    if (args.isEmpty) fail(
      "usage: graft.Cli <build|search|ask|react|update|prune|list|remove" +
      "|compact|export|import|clean|dedup|curate|pretrain|scorecard|plan|analyze|overlap|tokenize|select-dsir" +
      "|export-training|ann-build|ann-search|ann-rebalance|serve|mcp|config> ...")
    val (pos, flags) = parse(args.toSeq.tail)
    args.head match {
      case "build" | "update" =>
        val docsDir = flags.getOrElse("docs", fail("--docs <dir> required"))
        val name = flags.getOrElse("index", fail("--index <name> required"))
        // Flags win over config-file values, config over defaults
        // (matching the reference's flag/config precedence).
        val chunkSize = flags.get("chunk-size").map(_.toInt)
          .getOrElse(config.build.chunkSize)
        val chunkOverlap = flags.get("chunk-overlap").map(_.toInt)
          .getOrElse(config.build.chunkOverlap)
        val spark = session()
        // --docs may be a directory tree, a JSONL corpus file, or a
        // WET/WARC crawl path (file or directory; --wet forces it for
        // paths the extension check can't classify)
        def isWet(p: String) = flags.contains("wet") ||
          Seq(".wet", ".warc", ".wet.gz", ".warc.gz").exists(p.endsWith)
        val docs =
          if (isWet(docsDir))
            graft.sources.WarcIngest.readWet(spark, docsDir)
              .select("text", "source")
          else if (docsDir.endsWith(".jsonl") || docsDir.endsWith(".jsonl.gz"))
            FileIngest.readJsonl(spark, docsDir)
          else FileIngest.readDocuments(spark, docsDir,
            // full decoder chain: .pdf -> PdfText, .html -> HTML-to-text,
            // rest UTF-8 (the reference gates .pdf behind a cargo feature;
            // this build ships it, build.rs:637-655)
            extensions = config.build.fileTypes
              .getOrElse(FileIngest.defaultExtensions ++ Seq("pdf", "html", "htm")),
            maxFileSizeKb = config.build.maxFileSizeKb,
            decoder = graft.sources.PdfTextDecoder)
        val dir = s"$warehouse/$name"
        val meta =
          if (args.head == "build")
            Index.build(docs, dir, provider,
              strategy = flags.getOrElse("strategy", "auto"),
              chunkSize = chunkSize, chunkOverlap = chunkOverlap)
          else Index.update(docs, dir, provider,
            strategy = flags.getOrElse("strategy", "auto"),
            chunkSize = chunkSize, chunkOverlap = chunkOverlap)
        println(s"${args.head}: index '$name' at $dir — " +
          s"${meta.passageCount} passages, ${meta.dimensions} dims")
        // Per-extension diagnostics (ref build.rs:290-308 prints the same
        // ext -> (files, chunks) rollup after a build).
        Index.buildStatsByExtension(spark, dir).collect().foreach { r =>
          println(f"  .${r.getString(0)}%-8s ${r.getLong(1)}%6d files ${r.getLong(2)}%8d chunks")
        }
        spark.stop()

      case "search" =>
        val (name, query) = pos match {
          case Seq(n, q, _*) => (n, q)
          case _ => fail("usage: search <index> <query> [--top-k N] [--filter dsl] " +
            "[--hybrid] [--alpha A] [--no-auto-hybrid] [--no-expand] [--format text|json]")
        }
        val dir = indexDir(name)
        val spark = session()
        // Reference search defaults (search.rs:39-45,147-148,173-186):
        // short queries (<= 3 words) auto-enable hybrid and are expanded
        // with key terms from their BM25-top passages; both opt-out.
        val words = query.trim.split("\\s+").count(_.nonEmpty)
        val searchQuery =
          if (!flags.contains("no-expand") && graft.operators.Expansion.shouldExpand(query)) {
            val eq = Index.expandQuery(spark, dir, query)
            if (eq != query) System.err.println(s"Expanded query: '$query' -> '$eq'")
            eq
          } else query
        val useHybrid = flags.contains("hybrid") ||
          (!flags.contains("no-auto-hybrid") && words <= 3)
        val rows = Index.search(spark, dir, searchQuery, provider,
          topK = flags.get("top-k").map(_.toInt).getOrElse(5),
          filterStr = flags.get("filter"),
          hybrid = useHybrid,
          alpha = flags.get("alpha").map(_.toDouble).getOrElse(0.7)).collect()
        if (flags.get("format").contains("json")) {
          println(graft.util.Json.write(rows.toSeq.map(r =>
            scala.collection.immutable.ListMap(
              "id" -> r.getString(0), "score" -> r.getDouble(1),
              "text" -> r.getString(2), "source" -> r.getString(3)))))
        } else printHits(rows)
        spark.stop()

      case "ask" =>
        // `ask <index> <question>` answers once; `ask <index>` (or
        // --interactive) enters the REPL (ref ask.rs:200-317).
        val name = pos.headOption.getOrElse(
          fail("usage: ask <index> [question] [--top-k N] [--interactive]"))
        val question = pos.drop(1).headOption
        val dir = indexDir(name)
        val spark = session()
        val topK = flags.get("top-k").map(_.toInt).getOrElse(5)
        // one provider for the whole session — re-evaluating the def per
        // question would re-run the HTTP dim probe on every turn
        val prov = provider
        val llm = llmProvider
        def answer(q: String): String = graft.llm.Rag.ask(
          spark, dir, q, prov, llm, topK = topK)
        question.foreach(q => println(answer(q)))
        if (question.isEmpty || flags.contains("interactive")) {
          val hist = java.nio.file.Paths.get(warehouse, ".ask_history")
          new graft.llm.AskRepl(answer, historyFile = Some(hist)).run(
            new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
            new java.io.PrintWriter(System.out, true))
        }
        spark.stop()

      case "react" =>
        val (name, question) = pos match {
          case Seq(n, q, _*) => (n, q)
          case _ => fail("usage: react <index> <question> [--top-k N] [--max-steps N]")
        }
        val dir = indexDir(name)
        val spark = session()
        val agent = new graft.llm.ReactAgent(spark, dir, provider,
          llmProvider,
          topK = flags.get("top-k").map(_.toInt).getOrElse(3),
          maxSteps = flags.get("max-steps").map(_.toInt).getOrElse(5))
        println(agent.run(question))
        spark.stop()

      case "prune" =>
        val name = pos.headOption.getOrElse(fail("usage: prune <index>"))
        Index.prune(indexDir(name))
        println(s"prune: dropped embeddings of '$name' (recompute-on-read)")

      case "list" =>
        val idx = Index.listIndexes(warehouse)
        if (idx.isEmpty) println(s"(no indexes under $warehouse)")
        else idx.foreach { case (n, m) =>
          println(f"$n%-24s ${m.passageCount}%8d passages  ${m.dimensions}%5d dims" +
            (if (m.isPruned) "  [pruned]" else ""))
        }

      case "remove" =>
        val name = pos.headOption.getOrElse(fail("usage: remove <index>"))
        if (Index.remove(warehouse, name)) println(s"removed '$name'")
        else fail(s"no index '$name' in $warehouse")

      case "compact" =>
        val name = pos.headOption.getOrElse(fail("usage: compact <index>"))
        val dir = indexDir(name)
        val spark = session()
        Index.compact(spark, dir)
        println(s"compact: rewrote '$name' tables to target file size")
        spark.stop()

      case "ann-rebalance" =>
        val name = pos.headOption.getOrElse(
          fail("usage: ann-rebalance <index> [--max-fraction 0.05]"))
        val dir = indexDir(name)
        val spark = session()
        val frac = flags.get("max-fraction").map(_.toDouble).getOrElse(0.05)
        val n = Index.rebalanceIvf(spark, dir, maxFraction = frac)
        println(
          if (n == 0) s"ann-rebalance: '$name' already within bounds"
          else s"ann-rebalance: split $n hot cluster(s) in '$name'")
        spark.stop()

      case "export" =>
        // Round-trip with the JSONL corpus source (`build --docs x.jsonl`):
        // the reference's native passage storage IS jsonl
        // (src/storage/jsonl.rs), so an exported index re-imports there.
        val name = pos.headOption.getOrElse(
          fail("usage: export <index> --out <dir> [--format jsonl|parquet|native]"))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val dir = indexDir(name)
        val spark = session()
        val passages = spark.read.parquet(s"$dir/passages")
        flags.getOrElse("format", "jsonl") match {
          case "jsonl" => passages.write.mode("overwrite").json(out)
          case "parquet" => passages.write.mode("overwrite").parquet(out)
          case "native" =>
            // the reference's own on-disk layout (passages.jsonl +
            // idx + ids.txt + flat-f32 embeddings + meta.json) —
            // the inverse of `Cli import`
            graft.sources.LeannImport.exportNative(spark, dir, out)
          case other => fail(s"unknown export format '$other' (jsonl|parquet|native)")
        }
        println(s"export: wrote passages of '$name' to $out")
        spark.stop()

      case "import" =>
        // The inverse of export for the reference's NATIVE layout
        // (passages.jsonl + ids.txt + flat-f32 embeddings + meta.json):
        // a user migrating an existing index keeps their embeddings —
        // no re-embedding pass (LeannImport scaladoc for the format).
        val from = flags.getOrElse("from",
          fail("usage: import --from <native-index-dir> --index <name> [--dims N]"))
        val name = flags.getOrElse("index", fail("--index <name> required"))
        val spark = session()
        val meta = graft.sources.LeannImport.importIndex(
          spark, from, s"$warehouse/$name", flags.get("dims").map(_.toInt))
        println(s"import: index '$name' from $from — " +
          s"${meta.passageCount} passages, ${meta.dimensions} dims" +
          (if (meta.isPruned) " (pruned: embeddings recompute on read)" else ""))
        spark.stop()

      case "clean" =>
        // Corpus-hygiene pipeline (CorpusClean.cleanCorpus): Gopher
        // length/symbol/stopword rules + repetition rules + optional LM
        // quality floor; survivors get PII-scrubbed text. Prints the
        // per-rule failure report a pipeline owner reads before
        // shipping the corpus.
        val docsDir = flags.getOrElse("docs", fail(
          "usage: clean --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "[--id-col <unique doc id>] [--min-words 50] [--min-lm -9.0]"))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val spark = session()
        val docs = ingestText(spark, docsDir)
        val cleanIdCol = resolveUniqueDocId(docs, flags, "clean")
        val (kept, report) = CorpusClean.cleanCorpus(
          docs, cleanIdCol, "text",
          minWords = flags.get("min-words").map(_.toInt).getOrElse(50),
          minLmScore = flags.get("min-lm").map(_.toDouble))
        withSource(kept, docs, cleanIdCol).write.mode("overwrite").parquet(out)
        report.collect().foreach(r =>
          println(f"  ${r.getString(0)}%-16s ${r.getLong(1)}%8d"))
        println(s"clean: wrote surviving documents to $out")
        // Drain the deferred-release persist registry (lmScore et al.)
        // like Server/McpServer do — a REPL driving Cli.run repeatedly
        // must not accumulate one live cache entry per callsite.
        Dedup.releaseCaches()
        spark.stop()

      case "curate" =>
        // End-to-end curation funnel — the one-command RefinedWeb/
        // Dolma-shaped pipeline (curateFunnel: quality clean → dedup →
        // benchmark decontamination) with a per-stage attrition report.
        val usage = "usage: curate --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "[--id-col <unique doc id>] " +
          "[--min-words 50] [--min-lm <f>] [--dedup minhash|exact|simhash|containment|none] " +
          "[--minj 0.8] [--max-dist 3] [--decontaminate <bench dir|jsonl|parquet>] " +
          "[--ngram 5] [--max-overlap 0] [--report <dir>]"
        val docsDir = flags.getOrElse("docs", fail(usage))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val spark = session()
        val st = curateFunnel(ingestText(spark, docsDir), flags, "curate")
        st.survivors.write.mode("overwrite").parquet(out)
        val n3 = spark.read.parquet(out).count()
        val funnel = Seq(
          ("ingest", st.n0, st.n0, 0L),
          ("clean", st.n0, st.n1, st.n0 - st.n1),
          ("dedup", st.n1, st.n2, st.n1 - st.n2),
          ("decontaminate", st.n2, n3, st.n2 - n3))
        println("stage            docs_in  docs_out   dropped")
        funnel.foreach { case (s, in, o, d) =>
          println(f"  $s%-14s $in%8d  $o%8d  $d%8d") }
        flags.get("report").foreach { rep =>
          import spark.implicits._
          funnel.toDF("stage", "docs_in", "docs_out", "dropped")
            .coalesce(1).write.mode("overwrite").parquet(s"$rep/funnel")
          st.ruleReport.coalesce(1).write.mode("overwrite")
            .parquet(s"$rep/clean_rules")
          println(s"curate: report -> $rep/funnel, $rep/clean_rules")
        }
        println(s"curate: kept $n3 of ${st.n0} documents -> $out")
        st.cleaned.unpersist(); st.deduped.unpersist()
        Dedup.releaseCaches() // see clean
        spark.stop()

      case "scorecard" =>
        // Per-source curation scorecard (Profile.sourceScorecard): one
        // row per source with volume, mean length, exact-dup pressure,
        // and Gopher pass-rate — the drop-this-source-wholesale
        // decision table, as a one-command pass over any corpus with a
        // source column.
        val scUsage = "usage: scorecard --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "[--src-col source] [--text-col text] [--id-col <col>] [--min-words 50]"
        val docsDir = flags.getOrElse("docs", fail(scUsage))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val srcCol = flags.getOrElse("src-col", "source")
        val textCol = flags.getOrElse("text-col", "text")
        val spark = session()
        val docs0 = ingestText(spark, docsDir)
        Seq(srcCol, textCol).foreach { c =>
          if (!docs0.columns.contains(c)) fail(
            s"--docs has no '$c' column (have: ${docs0.columns.mkString(", ")}); " +
              "set --src-col/--text-col")
        }
        // n_chars / id derive from the text when the corpus doesn't
        // carry them (dir and jsonl ingests key docs by source path).
        val idCol = flags.getOrElse("id-col",
          if (docs0.columns.contains("doc_id")) "doc_id" else srcCol)
        val docs = if (docs0.columns.contains("n_chars")) docs0
          else docs0.withColumn("n_chars", length(col(textCol)).cast("long"))
        val card = graft.operators.Profile.sourceScorecard(
          docs, idCol = idCol, textCol = textCol, sourceCol = srcCol,
          charsCol = "n_chars",
          minWords = flags.get("min-words").map(_.toInt).getOrElse(50))
        card.coalesce(1).write.mode("overwrite").parquet(out)
        val rows = spark.read.parquet(out)
        println(f"${"source"}%-24s ${"docs"}%8s ${"dup_rate"}%9s ${"pass_rate"}%9s")
        rows.orderBy("source").limit(20).collect().foreach { r =>
          println(f"  ${r.getAs[String]("source")}%-22s ${r.getAs[Long]("docs")}%8d " +
            f"${r.getAs[Double]("dup_rate")}%9.4f ${r.getAs[Double]("gopher_pass_rate")}%9.4f")
        }
        val n = rows.count()
        if (n > 20) println(s"  ... ${n - 20} more sources")
        println(s"scorecard: $n source rows -> $out")
        spark.stop()

      case "plan" =>
        // Token-budget mixture plan (TrainExport.mixturePlan): the
        // water-filling allocation between the scorecard ("what do I
        // have") and the sampling draw ("take it") — per-source
        // allocations at target weights, capped sources spilling their
        // unfilled quota to the rest.
        val plUsage = "usage: plan --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "--budget <tokens> [--weights src=3,src2=1] [--max-rate 1.0] " +
          "[--src-col source] [--tokens-col <col>] [--text-col text] " +
          "[--apply <dir> [--seed plan] [--id-col <col>]]"
        val docsDir = flags.getOrElse("docs", fail(plUsage))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val budget = flags.get("budget").map(_.toLong).getOrElse(
          fail("--budget <tokens> required"))
        val srcCol = flags.getOrElse("src-col", "source")
        val spark = session()
        val docs0 = ingestText(spark, docsDir)
        if (!docs0.columns.contains(srcCol)) fail(
          s"--docs has no '$srcCol' column (have: " +
            s"${docs0.columns.mkString(", ")}); set --src-col")
        // token column precedence: --tokens-col > n_tokens > n_chars >
        // text length (chars as the budget unit — documented fallback)
        val tokCol = flags.getOrElse("tokens-col",
          if (docs0.columns.contains("n_tokens")) "n_tokens" else "n_chars")
        val docs =
          if (docs0.columns.contains(tokCol)) docs0
          else if (tokCol == "n_chars")
            docs0.withColumn("n_chars", length(
              col(flags.getOrElse("text-col", "text"))).cast("long"))
          else fail(s"--tokens-col $tokCol not in the corpus " +
            s"(have: ${docs0.columns.mkString(", ")})")
        val plan = writePlan(docs, srcCol, tokCol, budget, flags, out)
        val rows2 = plan.orderBy("source").collect()
        println(f"${"source"}%-24s ${"available"}%12s ${"allocated"}%14s ${"rate"}%8s cap")
        rows2.take(20).foreach { r =>
          println(f"  ${r.getAs[String]("source")}%-22s ${r.getAs[Long]("available")}%12d " +
            f"${r.getAs[Double]("allocated")}%14.1f ${r.getAs[Double]("rate")}%8.4f " +
            f"${if (r.getAs[Int]("capped") == 1) "*" else ""}")
        }
        if (rows2.length > 20) println(s"  ... ${rows2.length - 20} more sources")
        val planned = rows2.map(_.getAs[Double]("allocated")).sum
        println(f"plan: ${rows2.length} sources, $planned%.0f of $budget tokens planned -> $out")
        // --apply <dir>: execute the plan and write the drawn docs
        flags.get("apply").foreach { applyOut =>
          val idc = flags.getOrElse("id-col",
            if (docs.columns.contains("doc_id")) "doc_id" else srcCol)
          planDraw(docs, idc, srcCol, plan, flags.getOrElse("seed", "plan"), flags)
            .write.mode("overwrite").parquet(applyOut)
          println(s"plan: drew ${spark.read.parquet(applyOut).count()} rows -> $applyOut")
        }
        spark.stop()

      case "dedup" =>
        // Corpus deduplication: fingerprint, resolve duplicate
        // clusters, write the surviving documents (dedupSurvivors has
        // the per-method semantics, dedupInput what --docs means).
        val dedupUsage = "usage: dedup --docs <dir|corpus.jsonl|parquet|media dir|embeddings.parquet> " +
          "--out <dir> [--method exact|minhash|simhash|containment|phash|audiofp|embed|semantic] " +
          "[--minj 0.8] [--max-dist 3] [--id-col vec_id] [--vec-col embedding] " +
          "[--min-cosine 0.95] [--tau 0.95] [--clusters 8] [--quality-col <col>]"
        val docsDir = flags.getOrElse("docs", fail(dedupUsage))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val spark = session()
        val docs = dedupInput(spark, docsDir, flags.getOrElse("method", "minhash"))
        val total = docs.count()
        dedupSurvivors(docs, flags).write.mode("overwrite").parquet(out)
        val kept = spark.read.parquet(out).count()
        println(s"dedup: kept $kept of $total documents -> $out")
        Dedup.releaseCaches() // see clean
        spark.stop()

      case "overlap" =>
        // Cross-source overlap matrix: which corpus sources contain
        // each other's content, and how much — run BEFORE choosing
        // mixture weights. Default = the exact containment matrix
        // (Dedup.sourceOverlap, asymmetric by design); --sketch = the
        // per-source MinHash Jaccard estimate (one groupBy pass, S
        // signature rows — the tier for corpora whose distinct shingle
        // table is too hot to collect exactly).
        val ovUsage = "usage: overlap --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "[--sketch] [--n 3] [--hashes 64] [--src-col source] [--text-col text]"
        val docsDir = flags.getOrElse("docs", fail(ovUsage))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val srcCol = flags.getOrElse("src-col", "source")
        val textCol = flags.getOrElse("text-col", "text")
        val n = flags.get("n").map(_.toInt).getOrElse(3)
        val spark = session()
        // ingestText, not inline resolution: a parquet DIRECTORY
        // (standard Spark output, e.g. curate's own --out) must read as
        // a table, not be re-ingested part-file-by-part-file as opaque
        // documents — which would produce a silently meaningless matrix.
        val docs = ingestText(spark, docsDir)
        val m =
          if (flags.contains("sketch"))
            Dedup.sourceOverlapSketch(docs, textCol, srcCol,
              n, numHashes = flags.get("hashes").map(_.toInt).getOrElse(64))
          else Dedup.sourceOverlap(docs, textCol, srcCol, n)
        m.orderBy("src_a", "src_b").write.mode("overwrite").parquet(out)
        val rows = spark.read.parquet(out).count()
        println(s"overlap: $rows source-pair rows -> $out")
        Dedup.releaseCaches() // see clean
        spark.stop()

      case "analyze" =>
        // Corpus-structure analytics over an embeddings parquet: the
        // graph/cluster/decomposition tier as a one-command pass.
        //   pagerank  — kNN-graph PageRank centrality (template hubs)
        //   triangles — per-node triangle counts + clustering coeff
        //   spread    — label spreading from --seeds (id, label) parquet
        //   kmeans    — deterministic Lloyd assignment (id, cluster, dist)
        //   pca       — top-2 principal coordinates (id, pc1, pc2)
        // Graph ops build the exact kNN graph by default; --lsh swaps in
        // the sign-LSH blocked tier (the 100 TB formulation).
        val usage = "usage: analyze (--embeddings <parquet> | --edges <parquet>) --out <dir> " +
          "[--survivors-of <curate/dedup out parquet>] " +
          "--op knn|pagerank|ppr|triangles|components|communities|kcore|modularity|spread|degrees|kmeans|pca [--id-col vec_id] " +
          "[--vec-col embedding] [--k 3] [--lsh] [--weighted] [--bits auto] [--tables 4] [--block-col <col>] " +
          "[--clusters 8] [--iters <n>] [--tol <t>] [--init <parquet>] [--max-degree <d>] [--seeds <parquet>] " +
          "[--labels <parquet>] [--min-degree 3]"
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val op = flags.getOrElse("op", fail("--op required; " + usage))
        val idCol = flags.getOrElse("id-col", "vec_id")
        val vecCol = flags.getOrElse("vec-col", "embedding")
        val k = flags.get("k").map(_.toInt).getOrElse(3)
        val graphOp = analyzeGraphOps(op)
        analyzeFlagError(op, flags).foreach(fail)
        // At scale the kNN-graph build is hours and the analytics
        // minutes: --edges lets the graph ops consume a persisted
        // neighbor/pair table — `analyze --op knn` output (id, nb, ...)
        // or a dedup pair table (id_a, id_b) — instead of paying the
        // build once per op. Only graph ops accept it; knn/kmeans/pca
        // genuinely need the vectors.
        val embPath = flags.get("embeddings").getOrElse {
          if (graphOp && flags.contains("edges")) "" else fail(usage)
        }
        val spark = session()
        import org.apache.spark.sql.functions.size
        // --survivors-of <parquet>: scope the analytics input to a
        // funnel's survivor table (a `curate`/`dedup` --out result) —
        // the measured dedup-first ordering (BASELINE.md /
        // DedupFirstDrive: the survivor graph cost 77 s where the
        // flooded graph cost 330 s at the 100x point; ONE quadratic
        // toll at the funnel's dedup stage instead of one per
        // analytic) as a one-command recipe instead of a hand-composed
        // join. The survivor id column is --id-col when present, else
        // doc_id/vec_id/id/source; both corpus sizes print and land in
        // the output's _scope.json manifest.
        var scopeNote: Option[(Long, Long, String)] = None
        val survivorIds = flags.get("survivors-of").map { p =>
          val sdf = spark.read.parquet(p)
          val sid = (idCol +: Seq("doc_id", "vec_id", "id", "source"))
            .find(sdf.columns.contains).getOrElse(fail(
              s"--survivors-of $p needs an id column ($idCol, doc_id, " +
                s"vec_id, id or source); have: ${sdf.columns.mkString(", ")}"))
          (sdf.select(col(sid).as("survivor_id")).distinct(), p)
        }
        // Semi-join each named column against the survivor ids (edges
        // scope BOTH endpoints: an edge to a dropped duplicate is
        // itself dropped). Counts are two cheap aggregates per run —
        // the manifest's amortization record.
        def scoped(df: DataFrame,
                   on: String*): DataFrame =
          survivorIds match {
            case None => df
            case Some((ids, p)) =>
              val n0 = df.count()
              val res = on.foldLeft(df) { (acc, c) =>
                acc.join(ids.select(col("survivor_id")
                    .cast(df.schema(c).dataType)),
                  col(c) === col("survivor_id"), "left_semi")
              }
              val n1 = res.count()
              // fail-fast, not a silent empty result: a type-mismatched
              // or wrong-table survivor list (every cast id NULL, or no
              // overlap at all) would otherwise write an empty analytics
              // parquet and exit 0 — the repo's "a typo is an error"
              // stance applies to scoping too.
              if (n0 > 0 && n1 == 0) fail(
                s"--survivors-of $p matched NO rows of the $n0-row input: " +
                  "survivor ids don't overlap the input's id column " +
                  "(wrong table, wrong --id-col, or incompatible id type)")
              scopeNote = Some((n0, n1, p))
              println(s"analyze: --survivors-of $p scoped input $n0 -> $n1 rows")
              res
          }
        lazy val emb = scoped(spark.read.parquet(embPath), idCol)
        val G = graft.operators.Graph
        def graph(): DataFrame = flags.get("edges") match {
          case Some(p) =>
            val e = spark.read.parquet(p)
            // pass a weight column through when present ("score" or
            // "w") — --weighted consumes it; every other op projects
            // (id, nb) and ignores it
            val wCol = Seq("score", "w").find(e.columns.contains)
              .map(c => Seq(col(c).as("score"))).getOrElse(Nil)
            val sel =
              if (e.columns.contains("id") && e.columns.contains("nb"))
                e.select(Seq(col("id"), col("nb")) ++ wCol: _*)
              else if (e.columns.contains("id_a") && e.columns.contains("id_b"))
                e.select(Seq(col("id_a").as("id"), col("id_b").as("nb")) ++ wCol: _*)
              else fail(s"--edges $p needs (id, nb) or (id_a, id_b) columns " +
                s"(have: ${e.columns.mkString(", ")})")
            scoped(sel, "id", "nb")
          case None =>
            if (flags.contains("lsh")) {
              // empty parquet / null first vector would otherwise throw
              // an opaque NoSuchElementException from head()
              val head = emb.select(size(col(vecCol))).limit(1).collect()
              if (head.isEmpty || head(0).isNullAt(0)) fail(
                s"cannot derive embedding dims for --lsh: $embPath is empty " +
                  s"or its first '$vecCol' is null")
              val dims = head(0).getInt(0)
              // bits defaults to 0 = auto-sized from the corpus count
              // (expected bucket occupancy <= 64) — a pinned bit width
              // scales pair mass as n^2/2^bits
              G.knnGraphLsh(emb, idCol, vecCol, k, dims,
                // accept the literal "auto" (what the usage string
                // advertises) as well as 0 for the corpus-sized path
                bits = flags.get("bits")
                  .map(v => if (v == "auto") 0 else v.toInt).getOrElse(0),
                tables = flags.get("tables").map(_.toInt).getOrElse(4),
                // --block-col scopes neighborhoods to a pre-clustering
                // (e.g. a persisted kmeans assignment) — the past-16-bits
                // scale path when the auto key is at its recall cap
                blockCol = flags.get("block-col"))
            } else G.knnGraph(emb, idCol, vecCol, k)
        }
        // --tol switches the iterative ops to the convergence-watched
        // tier (iterate until the L1 delta / centroid shift <= tol,
        // --iters as the round cap, 50 by default — the 100 TB mode);
        // without it, --iters fixed rounds (default per op).
        val iters = flags.get("iters").map(_.toInt)
        def stop(fixedDefault: Int): Stop =
          try flags.get("tol").map(_.toDouble)
            .fold[Stop](Stop.Rounds(iters.getOrElse(fixedDefault)))(
              Stop.Converge(iters.getOrElse(50), _))
          catch { case e: IllegalArgumentException => fail(e.getMessage) }
        // --init <parquet>: warm-start from a prior run's output of the
        // same op — the incremental re-run mode
        lazy val init = flags.get("init").map(p => spark.read.parquet(p))
        // --weighted: the edge similarity (score) weights the surfer's
        // steps / the votes
        val weighted = flags.contains("weighted")
        def loopGraph(): DataFrame =
          if (weighted) {
            val g = graph()
            if (!g.columns.contains("score")) fail(
              "--weighted needs edge weights: use the kNN build (it " +
                "carries score) or an --edges table with a score/w column")
            G.symmetrizeWeighted(g.select(col("id"), col("nb"), col("score")),
              "id", "nb", "score")
          } else G.symmetrize(graph())
        var roundsNote = ""
        def looped(r: (DataFrame, Int)) = {
          if (flags.contains("tol")) roundsNote = s", converged in ${r._2} rounds"
          r._1
        }
        val result = op match {
          case "knn" =>
            // the raw neighbor table itself — the substrate the other
            // graph ops consume, exportable for external tooling
            graph()
          case "pagerank" =>
            looped(G.pageRank(loopGraph(), stop(5), weighted, init = init))
          case "ppr" =>
            // personalized PageRank: retrieval expansion from a seed
            // id set (--seeds parquet with an `id` column).
            // --survivors-of scopes the seeds too: a dropped-duplicate
            // seed would otherwise re-inject teleport mass for a
            // non-survivor id every round, so the "scoped" output
            // could contain ids outside the survivor node set.
            val seeds = scoped(spark.read.parquet(
              flags.getOrElse("seeds", fail("--seeds <parquet> required for ppr"))),
              "id")
            looped(G.personalizedPageRank(G.symmetrize(graph()), seeds, stop(5),
              init = init))
          case "triangles" =>
            // --max-degree engages the sampled unbiased estimator —
            // required protection when --edges supplies an arbitrary
            // graph whose hubs aren't k-bounded like the kNN build
            flags.get("max-degree").map(_.toInt) match {
              case Some(cap) => G.triangleCountsCapped(G.symmetrize(graph()), cap)
              case None => G.triangleCounts(G.symmetrize(graph()))
            }
          case "degrees" =>
            // graph-health histogram — reads the cap for --max-degree
            G.degreeProfile(G.symmetrize(graph()))
          case "components" =>
            // similarity-cluster discovery: min-label connected
            // components over the kNN adjacency (path-halving CC, fails
            // loudly if unconverged — Dedup.connectedComponents).
            // --init <parquet>: warm-start from a prior run's
            // (id, component) output — the incremental mode (rounds
            // track the new edges, not the historical diameter), same
            // result as a cold run over the full pair union
            val pairs = graph()
              .select(col("id").as("id_a"), col("nb").as("id_b"))
            init match {
              case Some(prior) => Dedup.connectedComponentsWarm(pairs, prior)
              case None => Dedup.connectedComponents(pairs)
            }
          case "modularity" =>
            // community-quality score over a persisted (id, label)
            // assignment (--labels = an --op communities/components
            // output): per-community Newman Q — a near-zero total says
            // the labels carry no density signal and shouldn't drive
            // curation decisions
            val labels0 = spark.read.parquet(flags.getOrElse("labels",
              fail("--labels <parquet (id, label)> required for modularity")))
            // an --op components output is (id, component) — the same
            // assignment shape under the CC family's column name, so
            // accept it directly instead of throwing AnalysisException
            val labels =
              if (labels0.columns.contains("label")) labels0
              else if (labels0.columns.contains("component"))
                labels0.withColumnRenamed("component", "label")
              else fail("--labels needs (id, label) or (id, component) " +
                s"columns (have: ${labels0.columns.mkString(", ")})")
            G.modularity(G.symmetrize(graph()), labels)
          case "kcore" =>
            // dense-substrate extraction: iteratively peel nodes of
            // degree < --min-degree; on a similarity graph the high-k
            // cores are the template/boilerplate families. Fail-loud
            // round cap (--iters) — the CC stance.
            val (core, rounds) = G.kCore(G.symmetrize(graph()),
              k = flags.get("min-degree").map(_.toInt).getOrElse(3),
              maxIters = flags.get("iters").map(_.toInt).getOrElse(100))
            roundsNote = s", settled in $rounds rounds"
            core
          case "communities" =>
            // density-based community discovery (synchronous LPA,
            // deterministic max-count/min-label tie rule): splits what
            // components merges — a bridge edge joins clusters for CC
            // but cannot outvote a dense block's majority here. The
            // watched tier's stop is exact (integer labels), so --tol's
            // value is ignored; --iters is the round cap.
            looped(G.labelPropagation(loopGraph(), stop(5), weighted, init = init))
          case "spread" =>
            // seeds scoped like ppr's: a non-survivor labeled seed
            // would re-assert its label into the scoped graph
            val seeds = scoped(spark.read.parquet(
              flags.getOrElse("seeds", fail("--seeds <parquet> required for spread"))),
              "id")
            looped(G.labelSpread(G.symmetrize(graph()), seeds, stop(4), init = init))
          case "kmeans" =>
            // deterministic Lloyd; --init resumes from a prior run's
            // (id, cluster) output — on the fixed tier it lands on the
            // cold trajectory exactly (one further round by default)
            looped(graft.operators.Cluster.kmeansAssign(emb, idCol, vecCol,
              k = flags.get("clusters").map(_.toInt).getOrElse(8),
              stop(if (init.isDefined) 1 else 5), init))
          case "pca" =>
            val model = graft.operators.Pca.fit(emb, vecCol)
            graft.operators.Pca.transform(emb, idCol, vecCol, model)
          case other => fail(s"unknown --op $other; $usage")
        }
        result.write.mode("overwrite").parquet(out)
        scopeNote.foreach { case (n0, n1, p) =>
          // Json.write escapes the path (quotes/backslashes would make
          // hand-rolled JSON unparseable); a non-local --out (hdfs://,
          // s3a://) can't take a java.nio write after Spark wrote the
          // parquet remotely — degrade to a loud stderr note rather
          // than crashing a completed analytics run over its sidecar.
          try {
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$out/_scope.json"),
              graft.util.Json.write(Map(
                "survivors_of" -> p,
                "input_rows" -> n0,
                "survivor_rows" -> n1)))
            ()
          } catch {
            case scala.util.control.NonFatal(e) => System.err.println(
              s"analyze: could not write $out/_scope.json (${e.getMessage}); " +
                s"scope was $n0 -> $n1 rows from $p")
          }
        }
        println(s"analyze: $op -> $out (${spark.read.parquet(out).count()} rows$roundsNote)")
        spark.stop()

      case "tokenize" =>
        // BPE tokenizer pipeline: train merge rules on the corpus (one
        // corpus pass + vocab-table merge iterations), encode every
        // document under them, write (id, tokens, n_tokens) parquet
        // plus the learned merges as _merges.json — the artifact a
        // training run pins for reproducible re-tokenization.
        val docsDir = flags.getOrElse("docs", fail(
          "usage: tokenize --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "[--merges 200] [--min-freq 2] [--relaxed] [--batch-cap 64]"))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val spark = session()
        val docs = ingestText(spark, docsDir)
        // --relaxed switches to the vocab-scale batched trainer
        // (trainMergesRelaxed: top batchCap disjoint pairs per round —
        // the 32k-merge mode, where 32k one-merge exact rounds are the
        // bottleneck); merge ORDER may diverge from classic sequential
        // BPE (see the operator's scaladoc), encoding stays
        // deterministic and round-trip safe. --batch-cap widens the
        // per-round batch for either mode.
        val bpeTrain =
          if (flags.contains("relaxed")) graft.operators.Bpe.trainMergesRelaxed _
          else graft.operators.Bpe.trainMerges _
        val merges = bpeTrain(
          graft.operators.Bpe.wordFreqs(docs, "text"),
          flags.get("merges").map(_.toInt).getOrElse(200),
          flags.get("min-freq").map(_.toLong).getOrElse(2L),
          flags.get("batch-cap").map(_.toInt).getOrElse(64))
        graft.operators.Bpe.encodeDocs(docs, "source", "text", merges)
          .write.mode("overwrite").parquet(out)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, "_merges.json"),
          graft.util.Json.write(merges.map { case (a, b) => Seq(a, b) })
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"tokenize: learned ${merges.length} merges, " +
          s"wrote encoded corpus to $out (_merges.json written)")
        Dedup.releaseCaches() // see clean
        spark.stop()

      case "select-dsir" =>
        // DSIR target-domain selection: weight the raw corpus by the
        // hashed-ngram log-likelihood ratio of a target corpus vs the
        // raw one, Gumbel-top-k draw, write the selected documents.
        val docsDir = flags.getOrElse("docs", fail(
          "usage: select-dsir --docs <dir|jsonl> --target <dir|jsonl> " +
          "--k 1000 --out <dir> [--seed dsir] [--buckets 10000]"))
        val targetDir = flags.getOrElse("target", fail("--target required"))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val k = flags.get("k").map(_.toInt).getOrElse(
          fail("--k <rows> required"))
        val spark = session()
        def load(d: String) = ingestText(spark, d)
        val raw = load(docsDir)
        val drawn = TrainExport.dsirSample(
          raw, "source", "text", load(targetDir), "text", k,
          seed = flags.getOrElse("seed", "dsir"),
          buckets = flags.get("buckets").map(_.toInt).getOrElse(10000))
        val ids = drawn.select(col("id"))
        raw.join(ids, raw("source") === ids("id"), "left_semi")
          .write.mode("overwrite").parquet(out)
        // report the COUNT actually written, not k: duplicate source
        // URIs or a corpus smaller than k make them differ
        val written = spark.read.parquet(out).count()
        println(s"select-dsir: wrote $written selected documents to $out" +
          (if (written != k) s" (requested $k)" else ""))
        spark.stop()

      case "export-training" =>
        // Training-run export (TrainExport): deterministic md5-keyed
        // shuffle into round-robin shards, written partitionBy(shard) —
        // re-running on the same index yields byte-identical shards.
        // --pack-budget additionally lays out GPT-style sequence
        // packing columns (seq_id/seq_offset) over the shuffled order.
        val name = pos.headOption.getOrElse(
          fail("usage: export-training <index> --out <dir> [--shards 8] " +
            "[--seed graft] [--pack-budget 2048]"))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val dir = indexDir(name)
        val spark = session()
        val nShards = flags.get("shards").map(_.toInt).getOrElse(8)
        val perShard = TrainExport.writeTrainingShards(
          spark.read.parquet(s"$dir/passages"), out, idCol = "id",
          seed = flags.getOrElse("seed", "graft"), nShards = nShards,
          packBudget = flags.get("pack-budget").map(_.toInt))
        println(s"export-training: wrote ${perShard.values.sum} rows " +
          s"across $nShards shards to $out (_manifest.json written)")
        spark.stop()

      case "pretrain" =>
        // The one-command pretraining export: curate funnel → optional
        // water-filling mixture draw → BPE tokenize → sequence pack →
        // deterministic shards, with ONE manifest covering funnel
        // attrition, mixture plan, vocab, and per-shard counts. Every
        // stage is the standalone arm's operator (cleanCorpus,
        // textDedupSurvivors, decontaminate, mixturePlan, rateSample,
        // Bpe, deterministicShuffle, packSequences) so the composed
        // pipeline and the arms cannot drift; stage boundaries persist
        // once (the curate stance) and each stage's table lands under
        // --out for inspection. The whole export is a pure function of
        // (corpus, flags, seed): re-running writes a byte-identical
        // manifest (E2eDrive-pinned).
        val ptUsage = "usage: pretrain --docs <dir|corpus.jsonl|parquet> --out <dir> " +
          "[--id-col <unique doc id>] [--min-words 50] [--min-lm <f>] " +
          "[--dedup minhash|exact|simhash|containment|none] [--minj 0.8] [--max-dist 3] " +
          "[--decontaminate <bench dir|jsonl|parquet>] [--ngram 5] [--max-overlap 0] " +
          "[--budget <chars> [--weights src=3,src2=1] [--max-rate 1.0]] " +
          "[--merges 200] [--min-freq 2] [--pack-budget <toks>] [--shards 8] [--seed graft]"
        val docsDir = flags.getOrElse("docs", fail(ptUsage))
        val out = flags.getOrElse("out", fail("--out <dir> required"))
        val seed = flags.getOrElse("seed", "graft")
        val spark = session()
        import org.apache.spark.sql.functions.concat_ws
        // Stages 1-3: the curate funnel (clean → dedup → decontaminate)
        val st = curateFunnel(ingestText(spark, docsDir), flags, "pretrain")
        val curated = st.survivors.persist(StorageLevel.MEMORY_AND_DISK)
        curated.write.mode("overwrite").parquet(s"$out/curated")
        val n3 = curated.count()
        // Stage 4 (only with --budget): water-filling mixture plan +
        // md5-threshold draw
        var planRows = 0L
        val drawn = flags.get("budget").map(_.toLong) match {
          case None => curated
          case Some(budget) =>
            val withChars = curated.withColumn("n_chars",
              length(col("text")).cast("long"))
            val plan = writePlan(withChars, "source", "n_chars", budget, flags, s"$out/plan")
            planRows = plan.count()
            planDraw(withChars, "doc_id", "source", plan, seed, flags)
        }
        // Stage 5: BPE — learn the vocab on the DRAWN corpus (the text
        // the model will actually see), encode to (id, tokens,
        // n_tokens). Epoch copies key by doc_id:epoch so the shuffle
        // id stays unique.
        val keyed = (if (drawn.columns.contains("epoch"))
            drawn.withColumn("_pid",
              concat_ws(":", col("doc_id"), col("epoch")))
          else drawn.withColumn("_pid", col("doc_id").cast("string")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nDrawn = keyed.count()
        val merges = graft.operators.Bpe.trainMerges(
          graft.operators.Bpe.wordFreqs(keyed, "text"),
          numMerges = flags.get("merges").map(_.toInt).getOrElse(200),
          minFreq = flags.get("min-freq").map(_.toLong).getOrElse(2L))
        val encoded = graft.operators.Bpe.encodeDocs(
          keyed, "_pid", "text", merges)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, "_merges.json"),
          graft.util.Json.write(merges.map { case (a, b) => Seq(a, b) })
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // Stage 6: deterministic shuffle → (optional) GPT-style pack
        // over the REAL BPE token counts → round-robin shards
        val shuffled = TrainExport.deterministicShuffle(
          encoded, "id", seed,
          nShards = flags.get("shards").map(_.toInt).getOrElse(8))
        val packBudget = flags.get("pack-budget").map(_.toInt)
        val laid = packBudget match {
          case None => shuffled
          case Some(b) => TrainExport.packSequences(
            shuffled, "pos", "n_tokens", b)
        }
        laid.write.mode("overwrite").partitionBy("shard")
          .parquet(s"$out/shards")
        val perShard = spark.read.parquet(s"$out/shards")
          .groupBy("shard").agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
          .collect().map(r => r.get(0).toString -> r.getLong(1))
          .sortBy(_._1).toList
        // ONE manifest for the whole export — funnel, plan, vocab,
        // shards; a pure function of (corpus, flags, seed), so
        // re-running is byte-identical (E2eDrive-pinned)
        val manifest = scala.collection.immutable.ListMap(
          "seed" -> seed,
          "funnel" -> scala.collection.immutable.ListMap(
            "ingest" -> st.n0, "clean" -> st.n1, "dedup" -> st.n2,
            "decontaminate" -> n3, "drawn" -> nDrawn),
          "plan_sources" -> planRows,
          "max_rate" -> maxRate(flags),
          "merges" -> merges.length,
          "pack_budget" -> packBudget.getOrElse(0),
          "shards" -> flags.get("shards").map(_.toInt).getOrElse(8),
          "rows" -> perShard.map(_._2).sum,
          "per_shard" -> scala.collection.immutable.ListMap(perShard: _*))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, "_manifest.json"),
          graft.util.Json.write(manifest)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println("stage            docs")
        Seq(("ingest", st.n0), ("clean", st.n1), ("dedup", st.n2),
          ("decontaminate", n3), ("drawn", nDrawn)).foreach { case (s, v) =>
          println(f"  $s%-14s $v%8d") }
        println(s"pretrain: ${merges.length} merges, " +
          s"${perShard.map(_._2).sum} rows across ${perShard.length} " +
          s"shards -> $out (_manifest.json, _merges.json written)")
        st.cleaned.unpersist(); st.deduped.unpersist(); curated.unpersist()
        keyed.unpersist()
        Dedup.releaseCaches() // see clean
        spark.stop()

      case "ann-build" =>
        val name = pos.headOption.getOrElse(
          fail("usage: ann-build <index> [--clusters 16] [--pq-m 8] [--pq-k 16]"))
        val dir = indexDir(name)
        val spark = session()
        val clusters = flags.get("clusters").map(_.toInt).getOrElse(16)
        Index.buildIvf(spark, dir, numClusters = clusters)
        Index.buildPq(spark, dir,
          m = flags.get("pq-m").map(_.toInt).getOrElse(8),
          k = flags.get("pq-k").map(_.toInt).getOrElse(16))
        println(s"ann-build: IVF($clusters) + PQ layout written for '$name'")
        spark.stop()

      case "ann-search" =>
        val (name, query) = pos match {
          case Seq(n, q, _*) => (n, q)
          case _ => fail("usage: ann-search <index> <query> [--top-k 5] " +
            "[--nprobe 4] [--rerank 50] [--filter dsl]")
        }
        val dir = indexDir(name)
        val spark = session()
        val rows = Index.searchAnn(spark, dir, query, provider,
          topK = flags.get("top-k").map(_.toInt).getOrElse(5),
          nprobe = flags.get("nprobe").map(_.toInt).getOrElse(4),
          rerank = flags.get("rerank").map(_.toInt).getOrElse(50),
          filterStr = flags.get("filter")).collect()
        printHits(rows)
        spark.stop()

      case "config" =>
        pos.headOption match {
          case Some("show") | None =>
            println(Config.show(config, Config.configPath))
          case Some("path") =>
            println(Config.configPath)
          case Some("init") =>
            Config.init(Config.configPath, force = flags.contains("force")) match {
              case Left(msg) => fail(msg)
              case Right(p) =>
                println(s"Created config file at $p")
                println("Edit it to customize embedding dims and build defaults.")
            }
          case Some(other) => fail(s"unknown config subcommand '$other' (show|init|path)")
        }

      case "mcp" =>
        // stdout carries only protocol frames; anything human goes to stderr.
        // --warm: per-index driver-resident layouts, loaded on first use
        // (the serve --warm tier over the MCP surface).
        val spark = session()
        val srv = new graft.serve.McpServer(spark, warehouse,
          flags.get("index"), provider, warm = flags.contains("warm"))
        System.err.println(s"graft MCP server ready (stdio, warehouse $warehouse)")
        srv.serve(System.in, System.out)
        spark.stop()

      case "serve" =>
        val name = pos.headOption.getOrElse(fail(
          "usage: serve <index> [--port N] [--warm]"))
        val spark = session()
        // --warm: load the layout into driver arrays once and serve
        // plain vector requests with zero Spark jobs (~ms latency, the
        // reference's in-process regime); refuses loudly if the index
        // exceeds the driver-RAM bound. Filtered/hybrid requests still
        // run the Spark plans.
        val srv = new SearchServer(spark, warehouse, name, provider,
          port = flags.get("port").map(_.toInt).getOrElse(8080),
          warm = flags.contains("warm"))
        srv.start()
        println(s"serving '$name' on port ${srv.boundPort} (POST /search, GET /health /info /indexes)" +
          (if (flags.contains("warm")) " [warm tier]" else ""))
        Thread.currentThread().join() // until killed

      case other => fail(s"unknown command '$other'")
    }
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.MetadataFilterDsl
import graft.operators.{BM25, Dedup, Expansion, Graph, Knn}

/** Shared in-plan fixtures and layout caches the Entry* family
  * registries consume (split out of SparkEntry in r15). Each helper's
  * contract is documented where it was born; nothing here changed in
  * the split beyond visibility. */
private[graft] object EntryFixtures {

  /** Build-once cache of the label-assigned IVF layout (partitioned
    * embeddings + centroids table) that knn_ivf probes
    * through `Index.searchIvf` and the stored PQ/1-bit rows extend.
    * Keyed by (path, source mtime): regenerated testdata at the same
    * path must not reuse a stale layout. */
  def ivfLayoutDir(s: SparkSession, dir: String): String = {
    val mtime = new java.io.File(s"$dir/embeddings.parquet").lastModified()
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_ivfplan_${math.abs(dir.hashCode)}_$mtime"
    if (!new java.io.File(s"$out/centroids/_SUCCESS").exists()) {
      val assigned = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), col("label").as("centroid_id"))
      graft.pipeline.Index.writeIvfLayout(s, assigned, out)
    }
    out
  }

  /** The IVF layout extended with the persisted PQ tier (codes
    * partitioned by centroid_id + codebooks table), using the
    * deterministic SEED codebooks so the stored-path query stays
    * DuckDB-oracle-checkable. Shares [[ivfLayoutDir]]'s cache key. */
  def pqLayoutDir(s: SparkSession, dir: String): String = {
    val out = ivfLayoutDir(s, dir)
    // Gate on the COMMIT marker (pq_codebooks is written last by
    // writePqLayout): gating on pq_codes alone would treat a build that
    // crashed between the two writes as complete, and every later run
    // would then fail on the missing codebooks table.
    if (!new java.io.File(s"$out/pq_codebooks/_SUCCESS").exists()) {
      val cb = graft.operators.Pq.seedCodebooks(
        Tables.embeddings(s, dir), "vec_id", "embedding", m = 8, k = 16)
      graft.pipeline.Index.writePqLayout(s, out, cb, idCol = "vec_id")
    }
    out
  }

  /** The IVF layout extended with the persisted 1-bit sketch tier. */
  def binaryLayoutDir(s: SparkSession, dir: String): String = {
    val out = ivfLayoutDir(s, dir)
    if (!new java.io.File(s"$out/binary_sigs/_SUCCESS").exists())
      graft.pipeline.Index.writeBinaryLayout(s, out, dims = 64, idCol = "vec_id")
    out
  }

  /** Deterministic multi-line restructuring of the single-line
    * synthetic documents: lines of 10 whitespace words, with a
    * terminal '.' appended iff the line's first word sorts before "n"
    * (≈ half the lines). The line-granular queries (quality_c4,
    * dedup_lines) run on this so the C4 rules have real line structure
    * to act on; the oracle rebuilds byte-identical text in SQL
    * (OracleCtes.linifiedCtes). */
  def linified(text: Column): Column = {
    val ws = filter(split(text, "\\s+"), w => length(w) > 0)
    val nLines = ceil(size(ws) / lit(10.0)).cast("int")
    val lines = when(size(ws) > 0,
      transform(sequence(lit(0), greatest(nLines - 1, lit(0))),
        i => concat(
          array_join(slice(ws, i * 10 + 1, lit(10)), " "),
          when(element_at(ws, i * 10 + 1) < "n", lit(".")).otherwise(lit("")))))
      .otherwise(array().cast("array<string>"))
    array_join(lines, "\n")
  }

  /** The symmetrized exact-kNN edge fixture the graph_* operator rows
    * consume: built once per (session, dir) as an EAGER localCheckpoint
    * (the graph_build row rebuilds and re-registers it; any other
    * access order builds lazily). Splitting fixture from operator keeps
    * each bench row measuring its own iteration cost — production
    * consumes persisted `--edges` (the CLI contract), so a row that
    * re-pays the O(n^2) oracle-tier build per query measures the
    * fixture, not the operator. localCheckpoint rather than the DfCache
    * persist registry because the bench clears the SQL cache between
    * queries (intra-query persist hygiene) and a merely-cached fixture
    * would silently recompute inside every operator row; checkpointed
    * RDD blocks survive `catalog.clearCache()`. Oracle outputs are
    * unchanged: same edges, same content, only persistence moved. */
  val graphEdgesCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()

  private[graft] def buildGraphEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val df = Graph.symmetrize(Graph.knnGraph(
      Tables.embeddings(s, dir), "vec_id", "embedding", k = 3))
      .localCheckpoint()
    graphEdgesCache.put(dir, df)
    df
  }

  def graphEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // NOT computeIfAbsent: buildGraphEdges re-registers through put()
    // on the SAME key, and a put inside a computeIfAbsent mapper is a
    // recursive update of the bin — ConcurrentHashMap throws
    // IllegalStateException("Recursive update"). The full bench/gate
    // never hit it (graph_build sorts first and registers eagerly);
    // any subset run that reaches a consumer row first did. The
    // get-then-build race is benign: double build, last registration
    // wins, identical content.
    val cached = graphEdgesCache.get(dir)
    if (cached != null) cached else buildGraphEdges(s, dir)
  }

  /** The symmetrized supplier<->customer RELATIONAL graph (distinct
    * lineitem x orders pairs, custkey offset by 1e6 to disjoint the
    * key spaces) that the watched relational rows consume — the same
    * fixture-vs-operator split [[graphEdgesCache]] got in r13: before
    * r15, graph_pagerank_watched and graph_ppr_watched each inlined
    * this build per bench run (together 16% of suite wall). The
    * graph_build_rel row rebuilds and re-persists it — NAMED to sort
    * before its consumers, because Bench runs queries in name order —
    * so the watched rows measure iteration cost only.
    *
    * Persisted as PARQUET keyed by (dir, source mtime) — literally the
    * CLI `--edges` contract — NOT localCheckpoint: at the r15 100x
    * sweep the ~100M-row checkpoint pinned unified memory while the
    * distinct's hash aggregation ran and the build died in-suite with
    * UNABLE_TO_ACQUIRE_MEMORY (isolated it fit, barely — exactly the
    * cliff a 1000-executor run must not sit next to). A disk fixture
    * costs one scan per consumer and is memory-free at any scale;
    * oracle outputs are unchanged (same edges, only persistence
    * moved). The graph_build_rel row calls [[buildRelEdges]], paying
    * build + write every bench run; consumers ([[relEdges]]) read the
    * parquet. */
  private[graft] def relEdgesPath(dir: String): String = {
    // keyed on BOTH source tables' mtimes: the fixture is built from
    // lineitem AND orders, and a regen that touches only orders must
    // not serve the stale edge set
    val mt1 = new java.io.File(s"$dir/lineitem.parquet").lastModified()
    val mt2 = new java.io.File(s"$dir/orders.parquet").lastModified()
    s"${System.getProperty("java.io.tmpdir")}/graft_reledges_${math.abs(dir.hashCode)}_${mt1}_$mt2"
  }

  /** Generation-dir + atomic CURRENT-pointer publish: each build
    * writes a FRESH generation subdir and then atomically swaps the
    * pointer file, so a concurrent reader in another JVM (the
    * documented bench-plus-verify workflow) never scans a directory
    * being overwritten — Spark parquet writes use fresh part-file
    * names, so an in-place overwrite would yield FileNotFound
    * mid-scan. Older generations beyond the newest two are pruned
    * best-effort (the previous one may still be mid-scan elsewhere). */
  private[graft] def buildRelEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val base = relEdgesPath(dir)
    val gen = java.util.UUID.randomUUID().toString.take(8)
    val out = s"$base/g_$gen"
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("src"),
        (col("o_custkey").cast("long") + 1000000L).as("dst"))
      .distinct()
    pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      .write.parquet(out)
    val ptr = java.nio.file.Paths.get(base, "CURRENT")
    val tmp = java.nio.file.Paths.get(base, s"CURRENT.$gen")
    java.nio.file.Files.write(tmp, out.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, ptr,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // prune all but the newest 2 generations (best-effort)
    val gens = Option(new java.io.File(base)
        .listFiles((f: java.io.File) => f.isDirectory && f.getName.startsWith("g_")))
      .getOrElse(Array.empty).sortBy(-_.lastModified())
    gens.drop(2).foreach { g =>
      try {
        g.listFiles().foreach(f => { f.delete(); () }); g.delete(); ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    s.read.parquet(out)
  }

  def relEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val ptr = java.nio.file.Paths.get(relEdgesPath(dir), "CURRENT")
    if (java.nio.file.Files.exists(ptr))
      s.read.parquet(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8"))
    else buildRelEdges(s, dir)
  }

  /** Committed code fixtures for the chunk_ast oracle row (see the
    * query's comment): python exercises indent-block extraction, the
    * over-size `transform` function part-splits at chunkSize=160, the
    * class/methods overlap-dedupe, and module-level lines gap-fill;
    * rust exercises brace-block extraction; the txt file exercises the
    * extension dispatch to the simple chunker. */
  private[graft] val astFixturePy: String =
    """import os
      |
      |def load(path):
      |    with open(path) as f:
      |        return f.read()
      |
      |def transform(rows, keep_empty, marker):
      |    out = []
      |    for row in rows:
      |        cleaned = row.strip().lower().replace(marker, "")
      |        if cleaned or keep_empty:
      |            out.append(cleaned + marker + str(len(cleaned)))
      |    counts = {value: len(value) for value in out if value}
      |    return sorted(set(out)), counts
      |
      |class Store:
      |    def __init__(self, root):
      |        self.root = root
      |
      |    def get(self, key):
      |        return load(os.path.join(self.root, key))
      |
      |print("module ready")""".stripMargin

  private[graft] val astFixtureRs: String =
    """use std::fs;
      |
      |pub fn read_all(path: &str) -> String {
      |    fs::read_to_string(path).unwrap()
      |}
      |
      |pub struct Store {
      |    root: String,
      |}
      |
      |impl Store {
      |    pub fn new(root: String) -> Self {
      |        Store { root }
      |    }
      |}
      |
      |const VERSION: i32 = 1;""".stripMargin

  private[graft] val astFixtureTxt: String =
    "plain prose that the strategy dispatcher must route to the simple " +
      "chunker because txt is not a code extension."

  /** The shared image fixture for the dedup_phash / dedup_phash_clusters
    * queries: 200 grayscale 9x8 PNGs generated IN the plan from md5
    * pixel arithmetic — 25 groups x 8 one-pixel variants, so near-dup
    * structure is deterministic and SF-independent, and the DuckDB
    * oracle can replay the exact pixel values in SQL. Also consumed by
    * MultimodalSpec's fixture-diameter guard: the clusters oracle runs
    * exactly 8 rounds of min-label propagation, which is only exact
    * while every cluster's diameter stays < 8 — the spec pins that
    * invariant to this generator. */
  private[graft] def phashFixtureMedia(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val pngUdf = udf((px: Seq[Int]) => Multimodal.grayPng(px.toArray, 9, 8))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
      .orderBy("doc_id").limit(200)
    val g = (col("doc_id") % 25).cast("string")
    val variant = floor(col("doc_id") / 25).cast("long")
    val ppos = conv(substring(md5(concat(lit("pxpos:"), g)), 1, 4), 16, 10)
      .cast("long") % 72
    val pixels = transform(sequence(lit(0L), lit(71L)), i => {
      val base = conv(substring(md5(concat(lit("px:"), g, lit(":"),
        i.cast("string"))), 1, 4), 16, 10).cast("long") % 256
      when(i === ppos, (base + variant * 37) % 256).otherwise(base).cast("int")
    })
    docs.select(col("doc_id").as("id"), pngUdf(pixels).as("content"))
  }

  /** The audio analog of [[phashFixtureMedia]] (factored out in r15,
    * shared by dedup_audio and dedup_audio_clusters): 200 PCM WAVs
    * generated IN the plan from md5 sample arithmetic — 25 groups x 8
    * one-sample variants; 16-bit PCM round-trips losslessly, so the
    * DuckDB oracle replays the exact samples. */
  private[graft] def audioFixtureMedia(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val wavUdf = udf((sm: Seq[Int]) => Multimodal.pcmWav(sm.toArray))
    val docs = Tables.documents(s, dir).select(col("doc_id"))
      .orderBy("doc_id").limit(200)
    val g = (col("doc_id") % 25).cast("string")
    val variant = floor(col("doc_id") / 25).cast("long")
    val ppos = conv(substring(md5(concat(lit("aupos:"), g)), 1, 4), 16, 10)
      .cast("long") % 1296
    val samples = transform(sequence(lit(0L), lit(1295L)), i => {
      val base = conv(substring(md5(concat(lit("au:"), g, lit(":"),
        i.cast("string"))), 1, 4), 16, 10).cast("long") % 4001
      (when(i === ppos, (base + variant * 1237) % 4001).otherwise(base)
        - 2000).cast("int")
    })
    docs.select(col("doc_id").as("id"), wavUdf(samples).as("content"))
  }


  /** Fixed merge list shared verbatim by the bpe_encode query and its
    * oracle: the encode semantics (greedy left-to-right per rule, rules
    * in order) are what's being checked, so the list itself need not be
    * corpus-optimal. Later rules reference symbols earlier ones create. */
  private[graft] val BpeDemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e", "s" -> "t")

}

package graft

import org.apache.spark.sql.SparkSession

/** Full-pipeline manual drive (Test/runMain): ingest a real source tree,
  * build an index (auto chunking → AST for .scala), search, ask, react. */
object E2eDrive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = if (args.nonEmpty) args(0) else "/root/repo/src/main/scala"
    val docs = graft.sources.FileIngest.readDocuments(spark, root)
    println(s"INGESTED ${docs.count()} files")
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString + "/idx"
    val provider = new graft.embedding.HashEmbedder(32)
    val meta = graft.pipeline.Index.build(docs, dir, provider, strategy = "auto")
    println(s"BUILT passages=${meta.passageCount} dims=${meta.dimensions}")
    val chunkTypes = spark.read.parquet(s"$dir/passages")
      .groupBy("metadata.chunk_type").count().collect()
      .map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(" ")
    println(s"CHUNK_TYPES $chunkTypes")
    val hits = graft.pipeline.Index.search(spark, dir, "bm25 scoring statistics",
      provider, topK = 3, hybrid = true).collect()
    println("SEARCH_TOP " + hits.map(r => r.getString(3)).mkString(" | "))
    val sym = graft.operators.Expansion.codeSymbols(docs, "text", 8).collect()
      .map(r => s"${r.getString(0)}(${r.getLong(1)})").mkString(" ")
    println(s"SYMBOLS $sym")
    graft.pipeline.Index.buildIvf(spark, dir, numClusters = 8)
    graft.pipeline.Index.buildPq(spark, dir, m = 8, k = 16)
    val annHits = graft.pipeline.Index.searchAnn(spark, dir,
      "bm25 scoring statistics", provider, topK = 3).collect()
    println("ANN_TOP " + annHits.map(r => r.getString(3)).mkString(" | "))
    val answer = graft.llm.Rag.ask(spark, dir, "how are bm25 scores computed",
      provider, new graft.llm.SimulatedLlm("drive"), topK = 3)
    println("ASK " + answer.take(120))

    // CLI media-dedup smoke, end to end through Cli.main: generate
    // near-identical PNGs on disk, run `dedup --method phash`, count
    // the canonical survivors the CLI wrote.
    val mediaDir = java.nio.file.Files.createTempDirectory("graft-e2e-media").toString
    def pxs(seed: Int): Array[Int] =
      Array.tabulate(72)(i => math.abs((seed * 2654435761L + i * 40503L).toInt) % 256)
    for (g <- 0 until 3) {
      val base = pxs(g)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$mediaDir/img_${g}_a.png"),
        graft.operators.Multimodal.grayPng(base, 9, 8))
      val v = base.clone(); v(17) = (v(17) + 37) % 256
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$mediaDir/img_${g}_b.png"),
        graft.operators.Multimodal.grayPng(v, 9, 8))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$mediaDir/unique.png"),
      graft.operators.Multimodal.grayPng(pxs(100), 9, 8))
    val dedupOut = java.nio.file.Files.createTempDirectory("graft-e2e-dedup").toString + "/out"
    Cli.main(Array("dedup", "--docs", mediaDir, "--out", dedupOut, "--method", "phash"))
    // Cli.main stopped the session; a fresh one reads the survivors back
    val spark2 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val surv = spark2.read.parquet(dedupOut).count()
    println(s"CLI_DEDUP_PHASH survivors=$surv of 7 (expected 4)")
    spark2.stop()

    // CLI analyze smoke, end to end through Cli.main: PageRank + PCA
    // over the sf0.001 embeddings parquet — one row per vector each.
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val prOut = java.nio.file.Files.createTempDirectory("graft-e2e-an").toString
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/pr",
      "--op", "pagerank", "--k", "3"))
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/pca",
      "--op", "pca"))
    val spark3 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val prN = spark3.read.parquet(s"$prOut/pr").count()
    val pcaN = spark3.read.parquet(s"$prOut/pca").count()
    println(s"CLI_ANALYZE pagerank=$prN pca=$pcaN (expected 500/500)")
    spark3.stop()

    // analyze --edges: a persisted `--op knn` neighbor table must feed
    // the graph ops with results IDENTICAL to the one-shot path (the
    // whole point — pay the graph build once, run many analytics).
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/knn",
      "--op", "knn", "--k", "3"))
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/pr_edges",
      "--op", "pagerank"))
    // and the convergence-watched production mode over the same edges
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/pr_tol",
      "--op", "pagerank", "--tol", "0.0", "--iters", "60"))
    val spark4 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val oneShot = spark4.read.parquet(s"$prOut/pr").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaEdges = spark4.read.parquet(s"$prOut/pr_edges").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(oneShot == viaEdges,
      s"--edges pagerank diverged from the one-shot path " +
        s"(${oneShot.size} vs ${viaEdges.size} nodes)")
    val watchedN = spark4.read.parquet(s"$prOut/pr_tol").count()
    println(s"CLI_ANALYZE_EDGES identical=${oneShot == viaEdges} watched_rows=$watchedN")
    spark4.stop()

    // analyze --survivors-of: the measured dedup-first ordering
    // (BASELINE.md: survivor graph 77 s vs flooded
    // 330 s at the 100x point) as ONE command. Results must be
    // IDENTICAL to hand-composing the survivor join, and the output
    // manifest must record both corpus sizes.
    val sparkSv = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val embDf = sparkSv.read.parquet(emb)
    val survDir = s"$prOut/survivors"
    // stage 1 of the funnel: SemDeDup survivors
    val assigned = graft.operators.Knn.ivfAssign(embDf, "embedding",
      numClusters = 8, seed = 42L)
    graft.operators.Dedup.semanticDedup(assigned, "vec_id", "embedding",
        "centroid_id", tau = 0.3)
      .filter(!org.apache.spark.sql.functions.col("is_dup"))
      .select(org.apache.spark.sql.functions.col("id").as("vec_id"))
      .write.mode("overwrite").parquet(survDir)
    // the hand-composed recipe: survivor-filtered embeddings on disk
    embDf.join(sparkSv.read.parquet(survDir), "vec_id")
      .write.mode("overwrite").parquet(s"$prOut/emb_slim")
    val nAll = embDf.count()
    val nSurv = sparkSv.read.parquet(survDir).count()
    sparkSv.stop()
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/pr_surv",
      "--op", "pagerank", "--k", "3", "--survivors-of", survDir))
    Cli.main(Array("analyze", "--embeddings", s"$prOut/emb_slim",
      "--out", s"$prOut/pr_hand", "--op", "pagerank", "--k", "3"))
    val sparkSv2 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val viaFlag = sparkSv2.read.parquet(s"$prOut/pr_surv").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byHand = sparkSv2.read.parquet(s"$prOut/pr_hand").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaFlag == byHand,
      s"--survivors-of pagerank diverged from the hand-composed recipe " +
        s"(${viaFlag.size} vs ${byHand.size} nodes)")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$prOut/pr_surv/_scope.json")), "UTF-8")
    assert(manifest.contains(s""""input_rows":$nAll""") &&
      manifest.contains(s""""survivor_rows":$nSurv"""),
      s"scope manifest must record both corpus sizes: $manifest")
    println(s"CLI_ANALYZE_SURVIVORS identical=${viaFlag == byHand} " +
      s"scoped=$nAll->$nSurv manifest=$manifest")
    sparkSv2.stop()

    // --survivors-of over a persisted EDGE table: both endpoints must
    // be scoped (an edge to a dropped duplicate is itself dropped), so
    // pagerank over (scoped edges) == pagerank over (edges of the
    // scoped embeddings) — the two compositions must agree.
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out",
      s"$prOut/pr_edges_surv", "--op", "pagerank",
      "--survivors-of", survDir))
    Cli.main(Array("analyze", "--embeddings", s"$prOut/emb_slim",
      "--out", s"$prOut/knn_slim", "--op", "knn", "--k", "3"))
    // NOTE: these two are NOT expected to be identical — scoping a
    // k=3 edge table is not rebuilding the k=3 graph on survivors (a
    // survivor whose 3 nearest were all dropped keeps fewer edges).
    // The contract pinned here is the SCOPING itself: no edge touches
    // a dropped id, and the node set is a subset of the survivors.
    val sparkSv3 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val survSet = sparkSv3.read.parquet(survDir).collect()
      .map(_.getLong(0)).toSet
    val prNodes = sparkSv3.read.parquet(s"$prOut/pr_edges_surv").collect()
      .map(_.getLong(0)).toSet
    assert(prNodes.nonEmpty && prNodes.subsetOf(survSet),
      s"scoped-edge pagerank leaked dropped ids: ${(prNodes -- survSet).take(5)}")
    println(s"CLI_ANALYZE_EDGES_SURVIVORS nodes=${prNodes.size} of ${survSet.size} survivors")
    sparkSv3.stop()

    // --lsh --bits auto smoke: the usage string advertises the literal
    // "auto"; it must select the corpus-sized path, not crash in .toInt
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/knn_lsh_auto",
      "--op", "knn", "--k", "3", "--lsh", "--bits", "auto"))
    val sparkSv4 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val lshAutoN = sparkSv4.read.parquet(s"$prOut/knn_lsh_auto").count()
    assert(lshAutoN > 0, "--bits auto produced an empty graph")
    println(s"CLI_ANALYZE_LSH_AUTO rows=$lshAutoN")
    sparkSv4.stop()

    // CLI overlap smoke: a tiny jsonl corpus with one mirrored source —
    // the exact matrix must show the b⊂a containment asymmetry, the
    // sketch arm must report the identical pair at j_est = 1.0
    val ovDir = java.nio.file.Files.createTempDirectory("graft-e2e-ov").toString
    val ovJsonl = s"$ovDir/corpus.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(ovJsonl),
      ("""{"source": "a", "text": "alpha bravo charlie delta echo foxtrot"}""" + "\n" +
       """{"source": "b", "text": "alpha bravo charlie delta"}""" + "\n" +
       """{"source": "c", "text": "golf hotel india juliet kilo"}""" + "\n").getBytes("UTF-8"))
    Cli.main(Array("overlap", "--docs", ovJsonl, "--out", s"$ovDir/exact"))
    Cli.main(Array("overlap", "--docs", ovJsonl, "--out", s"$ovDir/sk", "--sketch"))
    val sparkOv = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val exact = sparkOv.read.parquet(s"$ovDir/exact").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // a: 4 shingles, b: 2 (both within a's span) -> b→a containment 1.0
    assert(exact(("b", "a"))._2 == 1.0 && exact(("a", "b"))._2 == 0.5,
      s"overlap CLI containment asymmetry off: $exact")
    assert(!exact.keySet.exists { case (x, y) => x == "c" || y == "c" },
      s"disjoint source c must produce no rows: $exact")
    val sk = sparkOv.read.parquet(s"$ovDir/sk").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(sk(("a", "b")) > 0.0, s"sketch must see the a/b overlap: $sk")
    println(s"CLI_OVERLAP exact=$exact sketch=$sk")
    sparkOv.stop()

    // tokenize --relaxed smoke through Cli.main: the vocab-scale
    // batched trainer must learn merges and encode the corpus (merge
    // ORDER may diverge from the exact tier; encoding is deterministic
    // either way), writing the _merges.json artifact.
    Cli.main(Array("tokenize", "--docs", ovJsonl, "--out", s"$ovDir/bpe",
      "--relaxed", "--batch-cap", "32", "--merges", "50"))
    val sparkTk = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val enc = sparkTk.read.parquet(s"$ovDir/bpe")
    val encN = enc.count()
    val mergesJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ovDir/bpe/_merges.json")), "UTF-8")
    assert(encN == 3, s"tokenize --relaxed must encode all 3 docs, got $encN")
    assert(mergesJson.startsWith("[") && mergesJson.contains("\""),
      s"merge table artifact missing/empty: ${mergesJson.take(80)}")
    println(s"CLI_TOKENIZE_RELAXED docs=$encN merges_artifact=${mergesJson.length}B")
    sparkTk.stop()

    // warm start over the same persisted edges, seeded from the cold
    // watched run's own output; plus the ppr and capped-triangle arms
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/pr_warm",
      "--op", "pagerank", "--tol", "1e-6", "--iters", "60",
      "--init", s"$prOut/pr_tol"))
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/seeds",
      "--op", "knn", "--k", "1")) // any (id,...) parquet works as a seed set
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/ppr",
      "--op", "ppr", "--seeds", s"$prOut/seeds"))
    // watched ppr + warm re-run seeded from its own output (the
    // daily-increment mode, r15 — the watched family's last member)
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/ppr_tol",
      "--op", "ppr", "--seeds", s"$prOut/seeds", "--tol", "1e-6", "--iters", "60"))
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/ppr_warm",
      "--op", "ppr", "--seeds", s"$prOut/seeds", "--tol", "1e-6", "--iters", "60",
      "--init", s"$prOut/ppr_tol"))
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/tri",
      "--op", "triangles", "--max-degree", "4"))
    // LPA communities and warm-start components over the same edges:
    // communities gets a full assignment; the warm components re-run
    // seeded from the cold run's own output must reproduce it exactly
    // (unchanged graph => unchanged clusters)
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/lpa",
      "--op", "communities", "--iters", "4"))
    // watched communities (--tol): cycle-aware early stop; same edges
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/lpa_tol",
      "--op", "communities", "--tol", "0", "--iters", "40"))
    // k-core over the same persisted edges: the symmetrized k=3 kNN
    // graph has min degree 3, so the 3-core keeps every node
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/kcore",
      "--op", "kcore", "--min-degree", "3"))
    // modularity of the persisted LPA labels over the same edges — the
    // composed quality read (communities output feeds --labels)
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/modq",
      "--op", "modularity", "--labels", s"$prOut/lpa"))
    // warm communities: re-run seeded from the watched run's own output
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/lpa_warm",
      "--op", "communities", "--tol", "0", "--iters", "40",
      "--init", s"$prOut/lpa_tol"))
    // weighted communities + weighted pagerank: the persisted knn table
    // carries score, and the --edges reader passes it through
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/lpa_w",
      "--op", "communities", "--weighted", "--iters", "4"))
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/pr_w",
      "--op", "pagerank", "--weighted"))
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/cc",
      "--op", "components"))
    Cli.main(Array("analyze", "--edges", s"$prOut/knn", "--out", s"$prOut/cc_warm",
      "--op", "components", "--init", s"$prOut/cc"))
    // warm k-means: resume from a persisted assignment (lands on the
    // cold Lloyd trajectory exactly — spec-pinned; here: arm smoke)
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/km",
      "--op", "kmeans", "--clusters", "4", "--iters", "2"))
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/km_warm",
      "--op", "kmeans", "--init", s"$prOut/km", "--iters", "1"))
    // watched k-means (--tol): converge instead of fixed rounds, then
    // watched+warm from its own output (the daily-increment mode —
    // must confirm the fixed point and reproduce it)
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/km_tol",
      "--op", "kmeans", "--clusters", "4", "--tol", "0.0", "--iters", "40"))
    Cli.main(Array("analyze", "--embeddings", emb, "--out", s"$prOut/km_tol2",
      "--op", "kmeans", "--tol", "0.0", "--iters", "40",
      "--init", s"$prOut/km_tol"))
    val spark4b = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val kmWarmN = spark4b.read.parquet(s"$prOut/km_warm").count()
    assert(kmWarmN == 500, s"warm kmeans must assign every vector: $kmWarmN")
    val kmTol = spark4b.read.parquet(s"$prOut/km_tol").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kmTol2 = spark4b.read.parquet(s"$prOut/km_tol2").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kmTol.size == 500 && kmTol == kmTol2,
      s"watched+warm kmeans must reproduce the fixed point " +
        s"(${kmTol.size}/${kmTol2.size} rows)")
    val warmN = spark4b.read.parquet(s"$prOut/pr_warm").count()
    val pprN = spark4b.read.parquet(s"$prOut/ppr").count()
    val triN = spark4b.read.parquet(s"$prOut/tri").count()
    assert(warmN == 500 && pprN > 0 && triN == 500,
      s"warm/ppr/capped-tri CLI arms: $warmN/$pprN/$triN")
    // warm ppr must land in the watched run's attractor basin: same
    // frontier-or-better coverage, node-wise agreement within the tol
    // envelope (the GraphSpec churn-arm contract, here through Cli)
    val pprTol = spark4b.read.parquet(s"$prOut/ppr_tol").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pprWarm = spark4b.read.parquet(s"$prOut/ppr_warm").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pprTol.nonEmpty && pprWarm.nonEmpty, "watched/warm ppr arms empty")
    (pprTol.keySet ++ pprWarm.keySet).foreach { id =>
      val a = pprTol.getOrElse(id, 0.0); val b = pprWarm.getOrElse(id, 0.0)
      assert(math.abs(a - b) <= 1e-5,
        s"warm ppr drifted beyond the tol envelope at node $id: $b vs $a")
    }
    val lpaN = spark4b.read.parquet(s"$prOut/lpa").count()
    val lpaTolN = spark4b.read.parquet(s"$prOut/lpa_tol").count()
    assert(lpaTolN == 500, s"watched communities must assign every node: $lpaTolN")
    val lpaTolSet = spark4b.read.parquet(s"$prOut/lpa_tol").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpaWarmSet = spark4b.read.parquet(s"$prOut/lpa_warm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpaWarmSet == lpaTolSet,
      "warm communities over an unchanged graph must reproduce the prior")
    val kcoreN = spark4b.read.parquet(s"$prOut/kcore").count()
    assert(kcoreN == 500, s"3-core of the k=3 kNN graph must keep all: $kcoreN")
    val modRows = spark4b.read.parquet(s"$prOut/modq")
    assert(modRows.count() > 0 &&
      modRows.columns.toSet == Set("label", "internal_ends", "ends", "q"),
      s"modularity arm must emit per-community Q rows: ${modRows.columns.toSeq}")
    val lpaWN = spark4b.read.parquet(s"$prOut/lpa_w").count()
    assert(lpaWN == 500, s"weighted communities must assign every node: $lpaWN")
    val prWN = spark4b.read.parquet(s"$prOut/pr_w").count()
    assert(prWN == 500, s"weighted pagerank must rank every node: $prWN")
    val ccCold = spark4b.read.parquet(s"$prOut/cc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccWarm = spark4b.read.parquet(s"$prOut/cc_warm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpaN == 500, s"communities must assign every node: $lpaN")
    assert(ccCold == ccWarm,
      s"warm components over an unchanged graph must reproduce the cold " +
        s"assignment (${ccCold.size} vs ${ccWarm.size} nodes)")
    println(s"CLI_ANALYZE_R11 warm=$warmN ppr=$pprN capped_tri=$triN " +
      s"lpa=$lpaN cc_warm_identical=${ccCold == ccWarm}")
    spark4b.stop()

    // dedup --method embed end to end: near-identical embedding pairs
    // with anti-correlated quality — the CLI must keep the
    // higher-quality member of each pair, not the smaller id.
    val embDir = java.nio.file.Files.createTempDirectory("graft-e2e-embdd").toString
    val spark5 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    locally {
      import spark5.implicits._
      Seq(
        (1L, Seq(1.0, 0.0, 0.0, 0.0), 0.1),
        (2L, Seq(1.0, 0.01, 0.0, 0.0), 0.9),
        (3L, Seq(0.0, 1.0, 0.0, 0.0), 0.2),
        (4L, Seq(0.01, 1.0, 0.0, 0.0), 0.8),
        (5L, Seq(0.5, 0.5, 0.5, 0.0), 0.3)
      ).toDF("vec_id", "embedding", "quality")
        .write.mode("overwrite").parquet(s"$embDir/emb")
    }
    spark5.stop()
    Cli.main(Array("dedup", "--docs", s"$embDir/emb", "--out", s"$embDir/kept",
      "--method", "embed", "--min-cosine", "0.99", "--quality-col", "quality"))
    val spark6 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val keptIds = spark6.read.parquet(s"$embDir/kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(2L, 4L, 5L),
      s"embed dedup must keep quality winners {2,4,5}, got $keptIds")
    println(s"CLI_DEDUP_EMBED kept=$keptIds (expected Set(2, 4, 5))")
    spark6.stop()

    // curate end to end: clean drops the symbol doc, exact dedup drops
    // the duplicate, decontamination drops the doc sharing a 5-gram
    // with the held-out set; the funnel report parquet must agree with
    // the survivor parquet. Fixture mirrors CliCurateSpec.
    val curDir = java.nio.file.Files.createTempDirectory("graft-e2e-cur").toString
    val curJsonl = s"$curDir/corpus.jsonl"
    val benchJsonl = s"$curDir/bench.jsonl"
    def j(src: String, text: String) =
      s"""{"source": "$src", "text": "$text"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(curJsonl),
      (j("s1", "the quick brown fox jumped over the lazy dog and ran far away from home today") + "\n" +
       j("s2", "the quick brown fox jumped over the lazy dog and ran far away from home today") + "\n" +
       j("s3", "#### #### #### ####") + "\n" +
       j("s4", "we walked to the market and bought some fresh bread for dinner at the house tonight") + "\n" +
       j("s5", "a small red hen sat on the old stone wall near the garden and watched the morning sun rise") + "\n")
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(benchJsonl),
      (j("b1", "yesterday they walked to the market and bought many things") + "\n")
        .getBytes("UTF-8"))
    Cli.main(Array("curate", "--docs", curJsonl, "--out", s"$curDir/kept",
      "--min-words", "5", "--dedup", "exact",
      "--decontaminate", benchJsonl, "--report", s"$curDir/report"))
    val spark7 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val curKept = spark7.read.parquet(s"$curDir/kept")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(curKept == Set("s1", "s5"),
      s"curate must keep {s1, s5}, got $curKept")
    val funnel = spark7.read.parquet(s"$curDir/report/funnel").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(funnel("ingest") == ((5L, 5L)) && funnel("clean") == ((5L, 4L)) &&
      funnel("dedup") == ((4L, 3L)) && funnel("decontaminate") == ((3L, 2L)),
      s"curate funnel off: $funnel")
    println(s"CLI_CURATE kept=$curKept funnel=$funnel")
    spark7.stop()

    // scorecard end to end over the sf0.001 documents table: one row
    // per source, docs summing to the corpus size
    val scOut = java.nio.file.Files.createTempDirectory("graft-e2e-sc").toString + "/card"
    Cli.main(Array("scorecard", "--docs", "/root/testdata/sf0.001/documents.parquet",
      "--out", scOut))
    val spark8 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val card = spark8.read.parquet(scOut)
    val docsTotal = card.agg(org.apache.spark.sql.functions.sum("docs"))
      .collect()(0).getLong(0)
    val corpusN = spark8.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(docsTotal == corpusN,
      s"scorecard docs must sum to the corpus size: $docsTotal vs $corpusN")
    println(s"CLI_SCORECARD sources=${card.count()} docs=$docsTotal")
    spark8.stop()

    // plan end to end: the hand water-filling fixture from
    // TrainExportSpec through Cli.main — capped source at full supply,
    // the rest split the remainder at equal weights
    val plDir = java.nio.file.Files.createTempDirectory("graft-e2e-pl").toString
    val plJsonl = s"$plDir/corpus.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(plJsonl),
      (j("a", "x" * 10) + "\n" + j("b", "y" * 20) + "\n" +
       j("c", "z" * 100) + "\n").getBytes("UTF-8"))
    Cli.main(Array("plan", "--docs", plJsonl, "--out", s"$plDir/plan",
      "--budget", "40", "--weights", "a=1,b=1,c=1", "--src-col", "source",
      "--apply", s"$plDir/kept"))
    val spark9 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val planRows = spark9.read.parquet(s"$plDir/plan").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("allocated"), r.getAs[Int]("capped"))).toMap
    assert(planRows("a") == ((10.0, 1)) && planRows("b") == ((15.0, 0)) &&
      planRows("c") == ((15.0, 0)), s"plan water-filling off: $planRows")
    // --apply drew the plan: the capped source survives whole (rate 1);
    // with one doc per source here, b/c (rate 0.75/0.15) may keep or
    // drop their single doc — a must be present
    val keptSrc = spark9.read.parquet(s"$plDir/kept")
      .select("source").collect().map(_.getString(0)).toSet
    assert(keptSrc.contains("a"), s"capped source must survive the draw: $keptSrc")
    spark9.stop()
    // --max-rate 3: the scarce source upsamples — its one doc repeats
    // as epochs 0..2 in the applied output (the spec fixture through
    // the CLI end to end: a=10 chars, b=100, budget 60 -> a rate 3.0)
    val epJsonl = s"$plDir/ep.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(epJsonl),
      (j("a", "x" * 10) + "\n" + j("b", "y" * 100) + "\n").getBytes("UTF-8"))
    Cli.main(Array("plan", "--docs", epJsonl, "--out", s"$plDir/eplan",
      "--budget", "60", "--weights", "a=1,b=1", "--max-rate", "3",
      "--apply", s"$plDir/ekept"))
    val spark9b = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val eplan = spark9b.read.parquet(s"$plDir/eplan").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("rate"), r.getAs[Int]("capped"))).toMap
    assert(eplan("a") == ((3.0, 1)), s"scarce source must plan 3 epochs: $eplan")
    val aEpochs = spark9b.read.parquet(s"$plDir/ekept")
      .filter(org.apache.spark.sql.functions.col("source") === "a")
      .select("epoch")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(aEpochs == Seq(0, 1, 2),
      s"rate-3 doc must materialize epochs 0..2: $aEpochs")
    println(s"CLI_PLAN $planRows applied=$keptSrc epochs(a)=$aEpochs")
    spark9b.stop()

    // One-command pretrain export, end to end through Cli.main twice:
    // the whole chain (curate funnel -> mixture draw -> BPE -> pack ->
    // shards) is a pure function of (corpus, flags, seed), so two runs
    // into different dirs must write BYTE-IDENTICAL manifests and
    // merges — the reproducibility contract a training run pins.
    val ptRoot = java.nio.file.Files.createTempDirectory("e2e-pretrain").toString
    val ptArgs = (o: String) => Array("pretrain",
      "--docs", "/root/testdata/sf0.001/documents.parquet", "--out", o,
      "--min-words", "3", "--dedup", "exact", "--budget", "20000",
      "--merges", "40", "--pack-budget", "64", "--shards", "4",
      "--seed", "e2e")
    Cli.main(ptArgs(s"$ptRoot/a"))
    Cli.main(ptArgs(s"$ptRoot/b"))
    val mA = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ptRoot/a/_manifest.json"))
    val mB = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ptRoot/b/_manifest.json"))
    assert(java.util.Arrays.equals(mA, mB),
      s"pretrain manifest must be byte-identical across runs:\n" +
        s"${new String(mA)}\n${new String(mB)}")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$ptRoot/a/_merges.json")),
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$ptRoot/b/_merges.json"))),
      "learned merges must be identical across runs")
    val spark10 = SparkSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val shardRows = spark10.read.parquet(s"$ptRoot/a/shards")
    val nsh = shardRows.select("shard").distinct().count()
    val nrows = shardRows.count()
    assert(nsh == 4 && nrows > 0, s"expected 4 non-empty shards, got $nsh/$nrows")
    // packed layout present with real BPE token counts underneath
    assert(shardRows.columns.contains("seq_id") &&
      shardRows.columns.contains("n_tokens"),
      s"packed columns missing: ${shardRows.columns.mkString(",")}")
    println(s"CLI_PRETRAIN rows=$nrows shards=$nsh manifest=${new String(mA).take(160)}")
    spark10.stop()

    // update -> ann-search through Cli.main: a passage appended after
    // ann-build must come back from the IVF/PQ tier (update maintains
    // it). The index lives in the CLI's warehouse under a fresh name.
    val updRoot = java.nio.file.Files.createTempDirectory("e2e-update")
    def writeDoc(dir: String, name: String, text: String): Unit = {
      val d = updRoot.resolve(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(name), text.getBytes("UTF-8"))
    }
    Seq("a.md" -> "alpha doc about spark executors",
        "b.md" -> "beta doc about shuffle plans",
        "c.md" -> "gamma doc about parquet files",
        "d.md" -> "delta doc about broadcast joins")
      .foreach { case (n, t) => writeDoc("base", n, t) }
    writeDoc("more", "e.md", "epsilon doc about watermarks")
    val updIdx = s"e2e-update-${System.nanoTime()}"
    Cli.main(Array("build", "--docs", s"$updRoot/base", "--index", updIdx,
      "--strategy", "simple"))
    Cli.main(Array("ann-build", updIdx, "--clusters", "2", "--pq-m", "8", "--pq-k", "4"))
    Cli.main(Array("update", "--docs", s"$updRoot/more", "--index", updIdx,
      "--strategy", "simple"))
    val annOut = new java.io.ByteArrayOutputStream()
    Console.withOut(annOut) {
      Cli.main(Array("ann-search", updIdx, "epsilon doc about watermarks",
        "--top-k", "1", "--nprobe", "2", "--rerank", "10"))
    }
    val annTop = annOut.toString("UTF-8").trim
    graft.pipeline.Index.remove(
      sys.env.getOrElse("GRAFT_WAREHOUSE", "graft-warehouse"), updIdx)
    assert(annTop.contains("e.md"), s"ann-search must return the updated passage: $annTop")
    println(s"CLI_UPDATE_ANN $annTop")
  }
}

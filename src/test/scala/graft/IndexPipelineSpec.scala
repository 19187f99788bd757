package graft

import java.nio.file.Files

import graft.embedding.HashEmbedder
import graft.pipeline.Index

/** End-to-end lifecycle: build → search (plain / filtered / hybrid) →
  * update → prune (recompute search) → registry ops. The deterministic
  * hash embedder stands in for remote providers, so exact scores are
  * reproducible — the integration test the reference cannot write
  * (SURVEY §5: it has no offline embedding provider). */
class IndexPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = Files.createTempDirectory("graft-wh").toString
  private lazy val dir = s"$warehouse/idx1"
  private val provider = new HashEmbedder(32)

  private lazy val docs = Seq(
    ("vector databases store embeddings for retrieval augmented generation", "intro.md"),
    ("spark shuffles data between executors during wide transformations", "spark.md"),
    ("the hnsw graph index walks neighbors greedily for approximate search", "ann.md"),
    ("parquet files store columns with predicate pushdown and pruning", "parquet.md"))
    .toDF("text", "source")

  private lazy val built = Index.build(docs, dir, provider, strategy = "simple")

  test("build writes all tables and meta") {
    assert(built.passageCount == 4)
    assert(built.dimensions == 32)
    assert(spark.read.parquet(s"$dir/passages").count() == 4)
    assert(spark.read.parquet(s"$dir/embeddings").count() == 4)
    assert(spark.read.parquet(s"$dir/bm25_df").count() > 0)
    assert(Index.readMeta(dir).embeddingModel == "hash-embedder-32")
    // the exact table set, on an index of its own: build and update
    // write the base tables and the BM25 statistics, nothing else
    val d = s"$warehouse/tables"
    def tables: Set[String] =
      new java.io.File(d).listFiles().filter(_.isDirectory).map(_.getName).toSet
    val want = Set("passages", "embeddings", "bm25_tf", "bm25_dl", "bm25_df", "bm25_g")
    Index.build(docs, d, provider, strategy = "simple")
    assert(tables == want)
    Index.update(Seq(("appended doc about joins", "joins.md")).toDF("text", "source"),
      d, provider, strategy = "simple")
    assert(tables == want)
  }

  test("search returns k results with text resolved") {
    built
    val r = Index.search(spark, dir, "vector retrieval", provider, topK = 2)
      .select("id", "text").as[(String, String)].collect()
    assert(r.length == 2)
    assert(r.forall(_._2.nonEmpty))
  }

  test("ann-build + searchAnn: IVF-PQ tier over a built index matches exact search at full knobs") {
    built
    Index.buildIvf(spark, dir, numClusters = 2)
    Index.buildPq(spark, dir, m = 8, k = 4)
    val ann = Index.searchAnn(spark, dir, "vector retrieval", provider,
        topK = 2, nprobe = 2, rerank = 10)
      .select("id", "score").as[(String, Double)].collect().toSeq
    val exact = Index.search(spark, dir, "vector retrieval", provider, topK = 2)
      .select("id", "score").as[(String, Double)].collect().toSeq
    assert(ann === exact)
    // filtered ANN: over-fetch + post-filter (ref searcher.rs:129-133)
    val filtered = Index.searchAnn(spark, dir, "vector retrieval", provider,
        topK = 2, nprobe = 2, rerank = 10,
        filterStr = Some("source^spark"))
      .select("source").as[String].collect().toSeq
    assert(filtered === Seq("spark.md"))
    // fails loudly without the layout
    val e = intercept[IllegalArgumentException] {
      Index.searchAnn(spark, s"$warehouse/nope", "q", provider)
    }
    assert(e.getMessage.contains("ann-build"))
  }

  test("nprobe 0 is refused on the Spark and warm tiers before any job runs") {
    built
    if (!new java.io.File(s"$dir/pq_codebooks/_SUCCESS").exists()) {
      Index.buildIvf(spark, dir, numClusters = 2)
      Index.buildPq(spark, dir, m = 8, k = 4)
    }
    val warm = graft.serve.WarmIndex.load(spark, dir, provider)
    val qv = provider.embedOne("vector retrieval")
    val calls = Seq[() => Any](
      () => Index.searchIvf(spark, dir, qv, nprobe = 0, k = 2),
      () => Index.searchPq(spark, dir, qv, nprobe = 0, k = 2, rerank = 10),
      () => warm.searchAnn("vector retrieval", topK = 2, nprobe = 0))
    for (call <- calls) {
      val (_, jobs) = jobsOf {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("nprobe must be >= 1 (got 0)"), e.getMessage)
      }
      assert(jobs == 0, s"refused before any job, ran $jobs")
    }
  }

  test("export: passages round-trip through jsonl (the reference's native storage)") {
    built
    val out = s"$warehouse/export1"
    spark.read.parquet(s"$dir/passages").write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() === 4L)
    val texts = back.select("id", "text").as[(String, String)].collect().toMap
    val orig = spark.read.parquet(s"$dir/passages")
      .select("id", "text").as[(String, String)].collect().toMap
    assert(texts === orig)
    // and the jsonl corpus source can rebuild an index from the export
    val docs2 = graft.sources.FileIngest.readJsonl(spark, out)
    assert(docs2.count() === 4L)
  }

  test("search is deterministic") {
    built
    val a = Index.search(spark, dir, "spark shuffle", provider, topK = 3)
      .select("id", "score").as[(String, Double)].collect().toSeq
    val b = Index.search(spark, dir, "spark shuffle", provider, topK = 3)
      .select("id", "score").as[(String, Double)].collect().toSeq
    assert(a == b)
  }

  test("filtered search applies the DSL before ranking") {
    built
    val r = Index.search(spark, dir, "anything", provider, topK = 10,
      filterStr = Some("source$.md,source^spark"))
      .select("source").as[String].collect()
    assert(r.toSeq == Seq("spark.md"))
  }

  test("an unparseable filter fails loudly, never silently unfiltered") {
    built
    // ',,' parses to nothing — before the fix this returned every
    // passage as if no filter had been requested.
    val e = intercept[IllegalArgumentException] {
      Index.search(spark, dir, "anything", provider, filterStr = Some(",,")).collect()
    }
    assert(e.getMessage.contains("unparseable"))
    // layout for the ANN arm (idempotent if the ann test already built it)
    Index.buildIvf(spark, dir, numClusters = 2)
    Index.buildPq(spark, dir, m = 8, k = 4)
    val e2 = intercept[IllegalArgumentException] {
      Index.searchAnn(spark, dir, "anything", provider, filterStr = Some(",,")).collect()
    }
    assert(e2.getMessage.contains("unparseable"))
  }

  test("hybrid search fuses bm25 (exact keyword match ranks first)") {
    built
    val r = Index.search(spark, dir, "hnsw neighbors", provider, topK = 2, hybrid = true)
      .select("source").as[String].collect()
    assert(r.head == "ann.md")
  }

  test("update appends and refreshes stats") {
    built
    val more = Seq(("new document about broadcast joins in spark", "joins.md"))
      .toDF("text", "source")
    val meta = Index.update(more, dir, provider, strategy = "simple")
    assert(meta.passageCount == 5)
    assert(spark.read.parquet(s"$dir/embeddings").count() == 5)
  }

  test("update then maintainAnnTiers: searchAnn returns the appended passage") {
    val d = s"${Files.createTempDirectory("graft-ann-upd")}/idx"
    Index.build(Seq(
        ("alpha doc about spark executors", "a.md"),
        ("beta doc about shuffle plans", "b.md"),
        ("gamma doc about parquet files", "c.md"),
        ("delta doc about broadcast joins", "d.md")).toDF("text", "source"),
      d, provider, strategy = "simple")
    Index.buildIvf(spark, d, numClusters = 2)
    Index.buildPq(spark, d, m = 8, k = 4)
    Index.update(Seq(("epsilon doc about watermarks", "e.md"),
        ("zeta doc about state stores", "f.md")).toDF("text", "source"),
      d, provider, strategy = "simple")
    def annTop: String = Index.searchAnn(spark, d, "epsilon doc about watermarks",
        provider, topK = 1, nprobe = 2, rerank = 10)
      .select("source").as[String].head()
    // update alone leaves the ANN tier on the old passages
    assert(annTop != "e.md")
    Index.maintainAnnTiers(spark, d)
    // every tier tracks the base table: 6 embeddings = 6 ivf rows = 6 code rows
    val n = spark.read.parquet(s"$d/embeddings").count()
    assert(n === 6L)
    assert(spark.read.parquet(s"$d/embeddings_ivf").count() === n)
    assert(spark.read.parquet(s"$d/pq_codes").count() === n)
    assert(annTop == "e.md")
  }

  test("incremental stats merge equals a full rebuild (multi-batch)") {
    // Independent index: build with batch A, update with B then C (two
    // merges), compare every stats table against a from-scratch build of
    // A++B++C. Includes a token-less doc (counts toward num_docs only)
    // and cross-batch term overlap (df must merge, not append).
    val wh = Files.createTempDirectory("graft-merge").toString
    val a = Seq(("spark executes distributed joins", "a1.md"),
      ("... ...", "a2.md")) // tokenizer drops len<2 tokens -> zero tokens
      .toDF("text", "source")
    val b = Seq(("distributed joins shuffle data", "b1.md")).toDF("text", "source")
    // c re-delivers a1.md: the id anti-join must drop its chunks so the
    // stats don't double-count (first write wins).
    val c = Seq(("spark spark spark caching", "c1.md"),
      ("spark executes distributed joins", "a1.md")).toDF("text", "source")
    val cFresh = Seq(("spark spark spark caching", "c1.md")).toDF("text", "source")

    Index.build(a, s"$wh/inc", provider, strategy = "simple")
    Index.update(b, s"$wh/inc", provider, strategy = "simple")
    Index.update(c, s"$wh/inc", provider, strategy = "simple")
    Index.build(a.union(b).union(cFresh), s"$wh/full", provider, strategy = "simple")

    def rows(d: String, t: String): Set[String] =
      spark.read.parquet(s"$wh/$d/$t").collect().map(_.toString).toSet
    // tf/dl keys embed the per-build chunk ids (source#idx) — comparable
    // because ids derive from source, not a global counter.
    for (t <- Seq("bm25_tf", "bm25_dl", "bm25_df", "bm25_g"))
      assert(rows("inc", t) == rows("full", t), s"table $t diverged")
    // and the query layer sees identical scores through either path
    val qInc = Index.search(spark, s"$wh/inc", "distributed joins", provider,
      topK = 3, hybrid = true).collect().map(_.toString).toSeq
    val qFull = Index.search(spark, s"$wh/full", "distributed joins", provider,
      topK = 3, hybrid = true).collect().map(_.toString).toSeq
    assert(qInc == qFull)
  }

  test("update with a wrong-dimension provider fails fast, index unchanged (ref update.rs:105-111)") {
    val wh = Files.createTempDirectory("graft-dim").toString
    val d = s"$wh/idx"
    Index.build(Seq(("some document text", "a.md")).toDF("text", "source"),
      d, provider, strategy = "simple")
    val before = spark.read.parquet(s"$d/passages").count()
    val e = intercept[IllegalArgumentException] {
      Index.update(Seq(("appended doc", "b.md")).toDF("text", "source"),
        d, new HashEmbedder(16), strategy = "simple") // index was built at 32
    }
    assert(e.getMessage.contains("dimension mismatch"))
    assert(e.getMessage.contains("32") && e.getMessage.contains("16"))
    // nothing was staged or appended
    assert(spark.read.parquet(s"$d/passages").count() == before)
    assert(Index.readMeta(d).passageCount == before)
    assert(!new java.io.File(s"$d/passages.delta").exists())
  }

  test("stats-fallback rebuild during update includes the appended batch") {
    // When the stats tables are missing (older index), update() falls
    // back to a full rebuild — which runs BEFORE the staged passages are
    // moved in, so it must union the fresh chunks explicitly or the new
    // batch stays BM25-invisible.
    val wh = Files.createTempDirectory("graft-fb").toString
    val d = s"$wh/idx"
    Index.build(Seq(("alpha beta gamma", "a.md")).toDF("text", "source"),
      d, provider, strategy = "simple")
    def rmDir(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmDir)
      p.delete(); ()
    }
    rmDir(new java.io.File(s"$d/bm25_tf")) // simulate a pre-stats index
    Index.update(Seq(("zeppelin quartz xylophone", "b.md")).toDF("text", "source"),
      d, provider, strategy = "simple")
    val dfTerms = spark.read.parquet(s"$d/bm25_df")
      .select("term").as[String].collect().toSet
    assert(dfTerms.contains("zeppelin") && dfTerms.contains("alpha"))
    assert(spark.read.parquet(s"$d/bm25_g").select("num_docs")
      .as[Long].head() == 2L)
    // and the appended doc is retrievable through the BM25 arm
    // (alpha=0: score is purely BM25, independent of the hash embedder)
    val hit = Index.search(spark, d, "zeppelin xylophone", provider,
      topK = 1, hybrid = true, alpha = 0.0).select("source").as[String].head()
    assert(hit == "b.md")
  }

  test("expandQuery appends key terms from BM25-top passages (ref search.rs:173-186)") {
    built
    val expanded = Index.expandQuery(spark, dir, "shuffles")
    assert(expanded.startsWith("shuffles "))
    // terms come from the matching passage, minus the query word itself
    assert(expanded.split(" ").distinct.length == expanded.split(" ").length)
    assert(!expanded.split(" ").tail.contains("shuffles"))
    assert(expanded.split(" ").tail.nonEmpty &&
      expanded.split(" ").tail.forall(_.length >= 3))
    // queries matching nothing come back unchanged
    assert(Index.expandQuery(spark, dir, "zzzqqq") == "zzzqqq")
  }

  test("prune drops embeddings; search falls back to recompute") {
    built
    Index.update(Seq(("x y", "z.md")).toDF("text", "source"), dir, provider,
      strategy = "simple") // ensure stable state even if run order varies
    val meta = Index.prune(dir)
    assert(meta.isPruned)
    assert(!new java.io.File(s"$dir/embeddings").exists())
    val r = Index.search(spark, dir, "vector retrieval", provider, topK = 2)
      .select("id").as[String].collect()
    assert(r.length == 2)
  }

  test("per-extension build statistics (A7, ref build.rs:290-308)") {
    val wh = Files.createTempDirectory("graft-stats").toString
    val d = s"$wh/idx"
    val docs2 = Seq(
      ("alpha beta gamma delta", "a.md"),
      ("def f():\n  return 1\n", "b.py"),
      ("class G:\n  pass\n", "c.py"),
      ("no extension here", "README"))
      .toDF("text", "source")
    Index.build(docs2, d, provider, strategy = "simple")
    val stats = Index.buildStatsByExtension(spark, d)
      .as[(String, Long, Long)].collect().toSeq
    assert(stats.map(_._1) == Seq("md", "py", "unknown")) // sorted
    val byExt = stats.map(s => s._1 -> ((s._2, s._3))).toMap
    assert(byExt("md")._1 == 1 && byExt("py")._1 == 2 && byExt("unknown")._1 == 1)
    // every passage is accounted for exactly once
    assert(stats.map(_._3).sum == spark.read.parquet(s"$d/passages").count())
  }

  test("registry: list, locate, remove") {
    built
    val listed = Index.listIndexes(warehouse).map(_._1)
    assert(listed.contains("idx1"))
    assert(Index.locate(warehouse, "idx1").isDefined)
    assert(Index.locate(warehouse, "nope").isEmpty)
    Index.build(docs, s"$warehouse/tmpidx", provider, strategy = "simple")
    assert(Index.remove(warehouse, "tmpidx"))
    assert(Index.locate(warehouse, "tmpidx").isEmpty)
  }
}

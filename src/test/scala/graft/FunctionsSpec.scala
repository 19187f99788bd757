package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.embedding.{HashEmbedder, ModelRegistry}
import graft.functions.{TextFunctions, VectorFunctions}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))).toDF("a", "b")

  test("dot product") {
    val r = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].collect()
    assert(r(0) == 32.0 && r(1) == 0.0)
  }

  test("l2 norm and cosine") {
    val n = df.select(VectorFunctions.l2Norm(col("a"))).as[Double].collect()
    assert(math.abs(n(0) - math.sqrt(14.0)) < 1e-12)
    val c = df.select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(c(0) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(c(1) == 0.0)
  }

  test("dot product throws on dimension mismatch (no silent truncation)") {
    val bad = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(VectorFunctions.dot(col("a"), col("b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("dimensions differ")))
  }

  test("int8 quantization round-trips within scale/2 per element") {
    val v = Seq(Seq(0.9f, -0.43f, 0.002f, 0.31f)).toDF("v")
    val out = v.select(
      VectorFunctions.dequantizeInt8(VectorFunctions.quantizeInt8(col("v"))).as("dq"),
      VectorFunctions.quantizeInt8(col("v")).getField("scale").as("s"))
      .as[(Seq[Double], Double)].collect().head
    val scale = out._2
    assert(math.abs(scale - 0.9 / 127.0) < 1e-9)
    Seq(0.9, -0.43, 0.002, 0.31).zip(out._1).foreach { case (orig, dq) =>
      assert(math.abs(orig - dq) <= scale / 2 + 1e-12)
    }
    // zero vector: scale 0, all-zero codes, no NaNs
    val z = Seq(Seq(0.0f, 0.0f)).toDF("v")
      .select(VectorFunctions.dequantizeInt8(VectorFunctions.quantizeInt8(col("v"))))
      .as[Seq[Double]].collect().head
    assert(z == Seq(0.0, 0.0))
  }

  /** The composable-Column formulation of [[VectorFunctions.quantizeInt8]]
    * — identical values; kept as the parity oracle the expression is
    * pinned against. */
  private def quantizeInt8Columns(v: Column): Column = {
    val d = VectorFunctions.asDouble(v)
    val maxAbs = aggregate(d, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val scale = maxAbs / 127.0
    struct(
      scale.as("scale"),
      transform(d, x => when(scale > 0, round(x / scale).cast("int"))
        .otherwise(lit(0))).as("codes"))
  }

  /** Column-formulation parity oracle for [[VectorFunctions.dequantizeInt8]]. */
  private def dequantizeInt8Columns(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))

  test("QuantizeInt8/DequantizeInt8 expressions match the Column formulation bit-for-bit") {
    // Seeded random vectors plus adversarial cases: exact half-way
    // codes (round HALF_UP vs Math.floor(x+0.5) diverge near .5),
    // negatives, zero and empty vectors, tiny/huge magnitudes.
    val rnd = new scala.util.Random(7)
    val vecs: Seq[Seq[Float]] =
      (1 to 50).map(_ => Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)) ++
      Seq(
        Seq(1.0f, 0.5f, -0.5f, 0.25f),      // codes land on halves
        Seq(-1.0f, -0.9999999f),
        Seq(0.0f, 0.0f, 0.0f),
        Seq.empty[Float],
        Seq(1e-30f, -1e-30f),
        Seq(1e30f, -1e30f, 5e29f))
    val df = vecs.toDF("v")
    val got = df.select(
      VectorFunctions.quantizeInt8(col("v")).as("q"),
      VectorFunctions.dequantizeInt8(VectorFunctions.quantizeInt8(col("v"))).as("dq"))
      .collect().map(_.toString)
    val want = df.select(
      quantizeInt8Columns(col("v")).as("q"),
      dequantizeInt8Columns(quantizeInt8Columns(col("v"))).as("dq"))
      .collect().map(_.toString)
    assert(got.toSeq == want.toSeq)
  }

  test("QuantizeInt8 rejects non-finite vectors with a clear error") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // NaN needs its own per-element check: `NaN > maxAbs` is false, so a
    // post-loop guard on the max alone never sees it.
    Seq(Seq(1.0, Double.PositiveInfinity), Seq(1.0, Double.NaN)).foreach { v =>
      val e = intercept[Exception] {
        Seq(v).toDF("v").select(VectorFunctions.quantizeInt8(col("v"))).collect()
      }
      assert(msgs(e).exists(_.contains("non-finite")), s"for input $v")
    }
  }

}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: guarded below n tokens") {
    val df = Seq("aa bb cc dd", "aa bb", "").toDF("t")
    val sh = df.select(TextFunctions.kgrams(TextFunctions.tokens(col("t")), 3)).as[Seq[String]].collect()
    assert(sh(0) == Seq("aa bb cc", "bb cc dd"))
    assert(sh(1) == Seq.empty)
    assert(sh(2) == Seq.empty)
  }

  test("language id picks the profile with most stopword hits") {
    val df = Seq("the cat and the dog of the house",
      "el perro y la casa de los gatos",
      "zzz qqq").toDF("t")
    val out = df.select(TextFunctions.langId(col("t"))).as[String].collect()
    assert(out(0) == "en" && out(1) == "es" && out(2) == "und")
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("Hello   World", "hello world")).toDF("a", "b")
    val r = df.select(TextFunctions.fingerprint(col("a")) ===
      TextFunctions.fingerprint(col("b"))).as[Boolean].collect()
    assert(r.head)
  }

  test("quality score in [0,1], prose beats garbage") {
    val df = Seq("The quick brown fox jumps over the lazy dog in the yard.",
      "@@@###$$$ 12345 .... ////").toDF("t")
    val q = df.select(TextFunctions.qualityScore(col("t"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(1))
  }

  test("nfcNormalize: decomposed composes; fingerprints then unify") {
    val df = Seq(("caf\u00e9", "cafe\u0301")).toDF("a", "b") // composed vs decomposed
    // raw bytes differ, NFC forms are identical
    assert(!df.select(col("a") === col("b")).as[Boolean].collect().head)
    assert(df.select(TextFunctions.nfcNormalize(col("a")) ===
      TextFunctions.nfcNormalize(col("b"))).as[Boolean].collect().head)
    // the downstream byte-comparing key agrees after normalization
    assert(df.select(TextFunctions.fingerprint(TextFunctions.nfcNormalize(col("a"))) ===
      TextFunctions.fingerprint(TextFunctions.nfcNormalize(col("b"))))
      .as[Boolean].collect().head)
  }

  test("normalizeText: control strip, whitespace canon, paragraph collapse, idempotent") {
    val raw = "  ab\t\tc  \n   line two   \n\n\n\n\nlast  "
    val out = Seq(raw).toDF("t")
      .select(TextFunctions.normalizeText(col("t"))).as[String].collect().head
    assert(out == "ab c\nline two\n\nlast")
    // idempotence: normalizing normalized text is the identity
    val again = Seq(out).toDF("t")
      .select(TextFunctions.normalizeText(col("t"))).as[String].collect().head
    assert(again == out)
    // zero-shuffle contract and codegen: the pipeline is one projection
    val df = Seq(raw).toDF("t").select(TextFunctions.normalizeText(col("t")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}

class UrlFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.UrlFunctions._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(canonicalizeUrl(col("u"))).as[String].collect().toSeq

  test("canonicalizeUrl: case, www, default port, fragment, tracking params, param order") {
    // presentation variants of one page all collapse to one canonical form
    val variants = canon(
      "HTTP://WWW.Example.COM:80/News/today?utm_source=x&b=2&a=1#top",
      "http://example.com/News/today/?a=1&b=2",
      "http://example.com/News/today?b=2&a=1&fbclid=zzz")
    assert(variants.distinct === Seq("http://example.com/News/today?a=1&b=2"))
    // path case preserved; https 443 stripped; empty query → no '?'
    assert(canon("https://Host.Net:443/CaseSensitive/Path") ===
      Seq("https://host.net/CaseSensitive/Path"))
    assert(canon("https://a.org/x?utm_campaign=only") === Seq("https://a.org/x"))
    // no scheme → empty (junk URI filter contract)
    assert(canon("not a url") === Seq(""))
  }

  test("registeredDomain: plain TLDs, two-level suffixes, bare hosts") {
    val hosts = Seq("sub.deep.example.com", "bbc.co.uk", "a.b.com.au",
      "example.org", "localhost").toDF("h")
    val out = hosts.select(registeredDomain(col("h"))).as[String].collect().toSeq
    assert(out === Seq("example.com", "bbc.co.uk", "b.com.au",
      "example.org", "localhost"))
  }

  test("registeredDomain strips non-default ports (r6 ADVICE fix)") {
    // urlHost strips only :80/:443, so a host reaching registeredDomain
    // can still carry a port — it must not fragment domain statistics.
    val hosts = Seq("example.com:8080", "sub.example.com:9443",
      "bbc.co.uk:3000", "localhost:9000").toDF("h")
    val out = hosts.select(registeredDomain(col("h"))).as[String].collect().toSeq
    assert(out === Seq("example.com", "example.com", "bbc.co.uk", "localhost"))
    // and through the URL path: non-default port kept in canon, not domain
    val viaUrl = Seq("http://shop.example.com:8080/x?b=1").toDF("u")
      .select(canonicalizeUrl(col("u")), urlDomain(col("u")))
      .as[(String, String)].head()
    assert(viaUrl == ("http://shop.example.com:8080/x?b=1", "example.com"))
  }

  test("url functions are zero-shuffle projections") {
    val df = Seq("http://a.com/x").toDF("u")
      .select(canonicalizeUrl(col("u")), urlDomain(col("u")))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}

class EmbedderSpec extends SparkSpec {

  test("hash embedder: deterministic, unit norm, fixed dims") {
    val e = new HashEmbedder(64)
    val v1 = e.embedOne("hello world")
    val v2 = e.embedOne("hello world")
    val v3 = e.embedOne("other text")
    assert(v1.toSeq == v2.toSeq)
    assert(v1.toSeq != v3.toSeq)
    assert(v1.length == 64)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
  }

  test("model registry parity (ref models.rs:127-158)") {
    val nomic = ModelRegistry.getModelConfig("nomic-embed-text")
    assert(nomic.documentPrefix == "search_document: ")
    assert(nomic.queryPrefix == "search_query: ")
    // version tags are stripped
    assert(ModelRegistry.getModelConfig("nomic-embed-text:latest") == nomic)
    assert(ModelRegistry.getModelConfig("mxbai-embed-large").dimensions == 1024)
    assert(ModelRegistry.getModelConfig("e5-small-v2").dimensions == 384)
    val unknown = ModelRegistry.getModelConfig("mystery-model")
    assert(unknown.documentPrefix.isEmpty && unknown.queryPrefix.isEmpty)
    assert(unknown.dimensions == 768)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "a completely different sentence about spark engines and shuffle plans here"),
    (3L, "THE  QUICK brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")

  test("exact groups collapse case/whitespace variants") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSeq
    val big = g.filter(_._2 > 1)
    assert(big.length == 1)
    assert(big.head._2 == 3 && big.head._3 == 0L)
  }

  test("jaccard: identical docs score 1.0") {
    val p = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(p.contains((0L, 1L, 1.0)))
    assert(p.contains((0L, 3L, 1.0))) // tokenizer lowercases
    assert(!p.exists(t => t._1 == 2L || t._2 == 2L))
  }

  test("minhash candidates find identical docs; verified jaccard filters") {
    val d = Dedup.minhashDedup(docs, "doc_id", "text", 3, 8, 2, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(d.contains((0L, 1L, 1.0)))
  }

  test("minhashDedup refuses hashes that do not fill whole bands") {
    // 9 hashes in bands of 2 would leave the ninth hash in no band
    intercept[IllegalArgumentException] {
      Dedup.minhashDedup(docs, "doc_id", "text", 3, 9, 2, 0.9)
    }
  }

  test("containment catches the near-superset pair jaccard misses") {
    // B's 6 tokens (4 shingles) sit verbatim inside A's 18-token
    // wrapper (16 shingles): jaccard = 4/16 = 0.25 — invisible at any
    // useful minJ — while c_b = 4/4 = 1.0 flags B as swallowed whole
    val short = "the quick brown fox jumps high"
    val wrapper = "posted by admin on monday morning " + short +
      " share this story subscribe below"
    val sup = Seq((10L, wrapper), (11L, short),
      (12L, "completely different words about gardens and rivers flowing"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(sup, "doc_id", "text", n = 3, minC = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(cont.exists(t => t._1 == 10L && t._2 == 11L && t._4 == 1.0),
      s"wrapper pair must surface with c_b = 1.0: $cont")
    assert(!cont.exists(t => t._1 == 12L || t._2 == 12L),
      s"unrelated doc must not pair: $cont")
    val jac = Dedup.jaccardPairs(sup, "doc_id", "text", n = 3, minJ = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(jac.isEmpty, s"jaccard at 0.5 must miss the superset pair: $jac")
    // capped == uncapped on this fixture (no shingle reaches the cap)
    val capped = Dedup.containmentPairs(sup, "doc_id", "text", n = 3,
        minC = 0.9, maxShingleDf = 10)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(capped == cont, s"capped tier must agree: $capped vs $cont")
    // string ids route the capped tier through the df-filtered
    // self-join (BoundedIds is Long-bound) — same pairs, string keys,
    // for every operator on the shared pair counter
    val supStr = sup.selectExpr("concat('d', doc_id) as doc_id", "text")
    def ids(df: DataFrame) = df.select("id_a", "id_b").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    def agree(op: String, long: DataFrame, str: DataFrame): Unit = {
      val want = ids(long)
      assert(want.nonEmpty, s"$op: the fixture must produce a pair")
      val got = ids(str)
      assert(got == want.map { case (a, b) => (s"d$a", s"d$b") },
        s"string-id capped $op must agree: $got vs $want")
    }
    agree("containment",
      Dedup.containmentPairs(sup, "doc_id", "text", n = 3, minC = 0.9, maxShingleDf = 10),
      Dedup.containmentPairs(supStr, "doc_id", "text", n = 3, minC = 0.9, maxShingleDf = 10))
    // the superset pair scores jaccard 4/16 = 0.25
    agree("jaccard",
      Dedup.jaccardPairs(sup, "doc_id", "text", n = 3, minJ = 0.2, maxShingleDf = 10),
      Dedup.jaccardPairs(supStr, "doc_id", "text", n = 3, minJ = 0.2, maxShingleDf = 10))
    // the swallowed 6-token run (= w + k - 1) shares a fingerprint
    agree("winnow",
      Dedup.winnowPairs(sup, "doc_id", "text", minShared = 1, maxFpDf = 10),
      Dedup.winnowPairs(supStr, "doc_id", "text", minShared = 1, maxFpDf = 10))
  }

  test("dedup operators leave no unbounded SQL-cache growth (r6 ADVICE fix)") {
    // In a long-lived session (serve, bench loop) an unreleased
    // Dataset.persist accumulates CacheManager blocks forever. Every
    // multiply-read intermediate now goes through the deferred-release
    // holdCached registry: at most ONE live entry per operator key
    // (each call frees the previous call's), all drained by
    // releaseCaches — and, unlike localCheckpoint blocks, visible to
    // a session-level cache clear.
    def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size
    // Hermetic baseline: clear the WHOLE SQL cache so equal plans
    // cached by other suites don't seed CacheManager's dedup. jaccard's
    // and containment's capped posting tables share one canonical plan
    // (r13 — same corpus, same cap, same BoundedIds agg), which is why
    // DfCache.holdCached must NOT unpersist an evicted frame while
    // another live entry resolves to the same plan: the shared
    // InMemoryRelation would be orphaned and re-persisted as a NEW RDD
    // on the next pass. This test pins that plan-dedup-aware eviction.
    spark.catalog.clearCache()
    Dedup.releaseCaches()
    def runAll(): Unit = {
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9, maxShingleDf = 10).count()
      Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9, maxShingleDf = 10).count()
      Dedup.minhashDedup(docs, "doc_id", "text", 3, 8, 2, 0.9).count()
      Dedup.winnowPairs(docs, "doc_id", "text").count()
      Dedup.removeSharedSpans(docs, "doc_id", "text").count()
      Dedup.minhashDecontaminate(docs, "doc_id", "text",
        docs.limit(1), "doc_id", "text").count()
      Dedup.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b")).count()
    }
    // connectedComponents localCheckpoints per round, and checkpoint
    // RDD blocks are reclaimed ASYNCHRONOUSLY (ContextCleaner fires on
    // GC of the dropped Dataset references) — so a raw count can read
    // one pass's dead checkpoint block before the cleaner gets to it
    // (observed as a 9 -> 10 full-suite flake). Settle through GC:
    // REAL registry growth keeps live references and survives any
    // number of GCs; dead checkpoint blocks do not. Stop when either
    // the count reaches `limit` OR two consecutive POST-GC reads agree
    // (so a slow cleaner gets at least two GC+drain windows before the
    // count is trusted — comparing against the pre-GC read would
    // declare "stable" on a host where the cleaner simply hadn't fired
    // yet) — the baseline pass (limit = 0) legitimately holds
    // persisted RDDs, so a pure floor check would burn all 25 GC
    // rounds every run.
    def settled(limit: Int): Int = {
      var c = persistedRdds
      var lastPostGc = -1
      var tries = 0
      var stable = false
      while (c > limit && !stable && tries < 25) {
        System.gc(); Thread.sleep(200)
        val n = persistedRdds
        stable = n == lastPostGc
        lastPostGc = n; c = n; tries += 1
      }
      c
    }
    runAll()
    val afterOnce = settled(0)
    runAll() // a second pass must re-use the keys, not stack new blocks
    val afterTwice = settled(afterOnce)
    assert(afterTwice <= afterOnce,
      s"repeated dedup calls grew the persisted-RDD set: $afterOnce -> $afterTwice")
    Dedup.releaseCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseCaches must drain the deferred-release registry")
  }

  test("connected components: chains merge, singletons keep own label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L)
    assert(cc(10L) == 10L && cc(11L) == 10L)
  }

  test("connected components: a 40-hop chain converges within default rounds (path halving)") {
    // A crawl's long near-dup chain: diameter 40 >> the default 10
    // rounds of PLAIN propagation — only path halving's O(log d)
    // convergence makes this pass without raising maxIter.
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).as[(Long, Long)].collect().toMap
    assert(cc.size == 41 && cc.values.forall(_ == 0L),
      s"all 41 chained nodes must collapse to component 0, got ${cc.values.toSet}")
  }

  test("connected components: truncated propagation fails loudly, not silently-wrong") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).count()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: one job per round, and still throws at maxIter") {
    // with AQE and broadcast joins off, a round's shuffles run inside
    // the one job that checkpoints it, and that job also counts the
    // labels that moved: no other job runs
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the 40-hop chain needs 6 rounds, so every cap below throws
      val jobs = (1 to 4).map(maxIter => jobsOf {
        val e = intercept[IllegalStateException](
          Dedup.connectedComponents(chain, maxIter = maxIter))
        assert(e.getMessage.contains(s"within $maxIter rounds"))
      }._2)
      assert(jobs == (1 to 4), s"jobs at maxIter 1 to 4: $jobs")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("sourceOverlap: asymmetric containment, zero-overlap pairs absent") {
    val docs = Seq(
      ("a", "one two three four"), // shingles: "one two three", "two three four"
      ("b", "one two three"),      // shingle:  "one two three"
      ("c", "xx yy zz")            // shingle:  "xx yy zz" — overlaps nobody
    ).toDF("source", "text")
    val m = Dedup.sourceOverlap(docs, "text", "source")
      .as[(String, String, Long, Double)].collect().toSet
    assert(m == Set(
      ("a", "b", 1L, 0.5), // 1 shared of a's 2 shingles
      ("b", "a", 1L, 1.0)  // b is fully contained in a — the asymmetry
    ), s"got $m")
  }

  test("sourceOverlap plan: one corpus-scale exchange, map-side set union, cache reused") {
    val docs = (0 until 60).map(i =>
      (s"src${i % 4}", s"alpha bravo charlie delta echo t$i u$i v$i"))
      .toDF("source", "text")
    val m = Dedup.sourceOverlap(docs, "text", "source")
    val plan = m.queryExecution.executedPlan.toString
    // the one corpus-scale exchange is the shingle-keyed aggregation;
    // everything downstream is S-bounded (source-pair keys). The
    // cached subtree prints once per consumer, so count DISTINCT
    // plan ids, not textual occurrences.
    val shExchangeIds =
      raw"Exchange hashpartitioning\(sh#[^\n]*plan_id=(\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(shExchangeIds.size == 1,
      s"expected exactly one physical shingle-keyed exchange, " +
        s"got ids $shExchangeIds:\n$plan")
    // cross-doc dedup happens INSIDE that aggregation: the partial
    // collect_set (map-side set union) must sit below the exchange
    assert(plan.contains("partial_collect_set"),
      s"expected a map-side partial collect_set:\n$plan")
    // sizes and pairs must both read the deferred-release cache instead
    // of re-running the corpus-scale aggregate per consumer
    assert(plan.split("InMemoryTableScan").length - 1 >= 2,
      s"expected both consumers on the cached aggregate:\n$plan")
    Dedup.releaseCaches()
  }

  test("sourceOverlapSketch: deterministic estimate tracks exact Jaccard") {
    // one controlled shingle per doc: J(a,b) = 4 shared / 12 union
    val mk3 = (p: String, i: Int) => s"${p}aa$i ${p}bb$i ${p}cc$i"
    val docs = ((0 until 8).map(i => ("a", mk3("s", i))) ++
      (0 until 4).map(i => ("b", mk3("s", i))) ++
      (0 until 4).map(i => ("b", mk3("t", i))) ++
      Seq(("c", mk3("u", 0)))).toDF("source", "text")
    val est = Dedup.sourceOverlapSketch(docs, "text", "source", numHashes = 64)
      .as[(String, String, Double)].collect()
      .map { case (x, y, j) => (x, y) -> j }.toMap
    // fixed hash family => these are deterministic values, not draws;
    // tolerance = a few sketch standard deviations (sd ~ 0.06 at k=64)
    assert(math.abs(est(("a", "b")) - 4.0 / 12) < 0.2,
      s"J(a,b) estimate off: ${est(("a", "b"))}")
    assert(est(("a", "c")) < 0.1 && est(("b", "c")) < 0.1,
      s"disjoint sources must estimate ~0: $est")
    // identical shingle sets agree on every signature component
    val same = Seq(("x", "one two three"), ("y", "one two three"))
      .toDF("source", "text")
    val s1 = Dedup.sourceOverlapSketch(same, "text", "source")
      .as[(String, String, Double)].collect().toSeq
    assert(s1 == Seq(("x", "y", 1.0)), s"identical sets must match: $s1")
  }

  test("sourceOverlapBanded: membership == some-band-equal, estimates == sketch, no S guard") {
    // mirrors (identical shingle sets), a related pair, and noise
    val mk3 = (p: String, i: Int) => s"${p}aa$i ${p}bb$i ${p}cc$i"
    val docs = ((0 until 8).map(i => ("a", mk3("s", i))) ++
      (0 until 8).map(i => ("a2", mk3("s", i))) ++  // mirror of a
      (0 until 6).map(i => ("b", mk3("s", i))) ++   // high-J with a
      Seq(("c", mk3("u", 0)))).toDF("source", "text")
    val banded = Dedup.sourceOverlapBanded(docs, "text", "source",
        numHashes = 16, bandSize = 4)
      .as[(String, String, Double)].collect()
      .map { case (x, y, j) => (x, y) -> j }.toMap
    val sketch = Dedup.sourceOverlapSketch(docs, "text", "source",
        numHashes = 16)
      .as[(String, String, Double)].collect()
      .map { case (x, y, j) => (x, y) -> j }.toMap
    // estimates on emitted pairs are bit-identical to the sketch tier
    banded.foreach { case (pair, j) =>
      assert(sketch(pair) == j, s"$pair: banded $j != sketch ${sketch(pair)}")
    }
    // the mirror pair must be present at j_est 1 (all bands equal)
    assert(banded(("a", "a2")) == 1.0, s"mirror pair missing/off: $banded")
    // membership is EXACTLY the some-band-equal predicate on the wide
    // signatures — recompute it independently
    val sigs = Dedup.minhashSignaturesWide(
        Dedup.shingleTable(docs, "source", "text", 3), 16)
      .collect().map(r => r.getString(0) ->
        (1 until 17).map(r.getLong)).toMap
    val expected = (for {
      (x, sx) <- sigs.toSeq; (y, sy) <- sigs.toSeq if x < y
      if (0 until 4).exists(b =>
        (b * 4 until (b + 1) * 4).forall(s => sx(s) == sy(s)))
    } yield (x, y)).toSet
    assert(banded.keySet == expected,
      s"banded emitted ${banded.keySet}, band predicate says $expected")
    // no source-cardinality guard: hundreds of sources just work
    val wide = (0 until 60).map(i => (s"dom$i", mk3("v", i)))
      .toDF("source", "text")
    assert(Dedup.sourceOverlapBanded(wide, "text", "source",
      numHashes = 16, bandSize = 4).count() == 0L)
    // the tier's whole point: candidate generation is a band-keyed
    // equi-join — the plan must contain NO cartesian/nested-loop join
    // (the sketch tier's S x S shape)
    val plan = Dedup.sourceOverlapBanded(wide, "text", "source",
        numHashes = 16, bandSize = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded overlap must never form an S x S join:\n$plan")
    Dedup.releaseCaches()
  }

  test("sourceOverlap: refuses corpus-scale source cardinality loudly") {
    // a per-file/per-url source column silently turns the S-bounded
    // matrix into a corpus-scale one — must fail, not stall
    val docs = (0 until 30).map(i => (s"file$i", "alpha bravo charlie"))
      .toDF("source", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.sourceOverlap(docs, "text", "source", maxSources = 10).count()
    }
    assert(e.getMessage.contains("distinct 'source'"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.sourceOverlapSketch(docs, "text", "source", maxSources = 10).count()
    }
    assert(e2.getMessage.contains("sourceOverlapSketch"))
  }

  test("warm-start CC: warm(init, increment) == cold(union)") {
    // prior: two 8-node chains; increment: one edge merging their heads
    val prior = ((0L until 7L).map(i => (i, i + 1)) ++
      (16L until 23L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val inc = Seq((0L, 16L)).toDF("id_a", "id_b")
    val warm = Dedup.connectedComponentsWarm(
      inc, Dedup.connectedComponents(prior)).as[(Long, Long)].collect().toMap
    val cold = Dedup.connectedComponents(prior.union(inc))
      .as[(Long, Long)].collect().toMap
    assert(warm == cold)
    assert(warm.size == 16 && warm.values.forall(_ == 0L))
  }

  test("warm-start CC: converges where an equal-budget cold run throws") {
    // the incremental win: prior components re-enter at diameter <= 2,
    // so the 64-hop historical chain costs the warm pass nothing
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val inc = Seq((64L, 65L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.union(inc), maxIter = 4).count()
    }
    val warm = Dedup.connectedComponentsWarm(
      inc, Dedup.connectedComponents(chain), maxIter = 4)
      .as[(Long, Long)].collect().toMap
    assert(warm.size == 66 && warm.values.forall(_ == 0L),
      s"warm pass must collapse all 66 nodes to component 0")
  }

  test("warm-start CC: prior singleton rows pass through unchanged") {
    val init = Seq((1L, 1L), (2L, 1L), (9L, 9L)).toDF("id", "component")
    val warm = Dedup.connectedComponentsWarm(
      Seq((3L, 2L)).toDF("id_a", "id_b"), init)
      .as[(Long, Long)].collect().toMap
    assert(warm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("dup clusters pick one canonical survivor per cluster") {
    val t = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d = Seq((5L, t), (9L, t), (2L, t),
      (7L, "completely different words about spark engines and shuffles here now"))
      .toDF("doc_id", "text")
    // Jaccard pairs -> connected components -> keep the min id
    val out = Dedup.connectedComponents(Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.9))
      .withColumn("keep", col("component") === col("id"))
      .as[(Long, Long, Boolean)].collect()
    val keep = out.filter(_._3).map(_._1).toSet
    assert(keep == Set(2L)) // min id of the triplet survives
    assert(out.forall(_._2 == 2L))
    // doc 7 has no dup pairs, so it is absent (implicitly kept)
    assert(!out.exists(_._1 == 7L))
  }

  test("resolveByQuality: best-scored member survives, ties to smallest id") {
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    // cluster 1: doc 2 best; cluster 10: tie -> smallest id (10) wins
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (10L, 0.4), (11L, 0.4))
      .toDF("doc_id", "q")
    val out = Dedup.resolveByQuality(members, quality, "doc_id", "q")
      .select("id", "component", "keep").as[(Long, Long, Boolean)].collect()
    assert(out.filter(_._3).map(_._1).toSet == Set(2L, 10L))
    assert(out.length == 5)
    // an unscored member always loses to a scored one
    val q2 = Seq((1L, 0.1)).toDF("doc_id", "q")
    val out2 = Dedup.resolveByQuality(
        Seq((1L, 1L), (2L, 1L)).toDF("id", "component"), q2, "doc_id", "q")
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out2(1L) && !out2(2L))
  }

  test("semanticDedup: earlier τ-neighbor in the same cluster marks a dup") {
    // cluster 1: ids 1,2 identical direction (cos=1), id 3 orthogonal;
    // cluster 2: id 4 parallel to id 1 but in another cluster — never
    // compared. One decision row per input row.
    val emb = Seq(
      (1L, Seq(1.0, 0.0), 1), (2L, Seq(2.0, 0.0), 1), (3L, Seq(0.0, 1.0), 1),
      (4L, Seq(1.0, 0.0), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", "label", tau = 0.9)
      .as[(Long, Int, Boolean)].collect().map { case (id, _, d) => id -> d }.toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false))
    // keep-first is id-ordered: raising tau above every cosine keeps all
    val none = Dedup.semanticDedup(emb, "vec_id", "embedding", "label", tau = 1.1)
      .as[(Long, Int, Boolean)].collect()
    assert(none.length == 4 && none.forall(!_._3))
  }

  test("winnowing: shared runs >= w+k-1 tokens guarantee a shared fingerprint") {
    val common = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1 at k=3,w=4
    val d = Seq(
      (1L, s"one two three $common four five six seven eight nine"),
      (2L, s"ten eleven twelve thirteen $common fourteen fifteen sixteen"),
      (3L, "totally unrelated words about engines and shuffles here today now"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the guarantee: docs 1 and 2 share at least one fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // density: winnowing stores a subset of the k-gram hash count
    val nShingles = 10 - 2 // doc 3: 10 tokens, k=3
    assert(fps(3L).size <= nShingles)
    // identical docs -> identical sets
    val dup = Seq((1L, "aa bb cc dd ee ff gg"), (2L, "aa bb cc dd ee ff gg"))
      .toDF("doc_id", "text")
    val f2 = Dedup.winnowFingerprints(dup, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(f2(1L) == f2(2L))
    // pairs: the overlapping pair surfaces, the unrelated doc doesn't
    val pairs = Dedup.winnowPairs(d, "doc_id", "text", minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
  }

  test("removeSharedSpans: non-owner loses the shared run, owner and bystander untouched") {
    val common = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens ≥ w+k-1
    val d = Seq(
      (1L, s"one two three $common four five six seven eight nine"),
      (2L, s"ten eleven twelve thirteen $common fourteen fifteen sixteen"),
      (3L, "totally unrelated words about engines and shuffles here today now"))
      .toDF("doc_id", "text")
    val out = Dedup.removeSharedSpans(d, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // owner (smallest id) keeps everything
    assert(out(1L)._1 == out(1L)._2)
    assert(out(1L)._3.contains("alpha beta gamma"))
    // non-owner loses the shared run (window-granular: the whole common
    // run's interior fingerprints are shared, so its tokens go)
    assert(out(2L)._2 < out(2L)._1)
    assert(!out(2L)._3.contains("gamma delta epsilon"))
    // the unrelated doc is untouched, text round-trips token-joined
    assert(out(3L)._1 == out(3L)._2)
    assert(out(3L)._3 == "totally unrelated words about engines and shuffles here today now")
    // WITHIN-doc repetition is not ownership: a doc repeating its own
    // span (no other doc has it) keeps both copies
    val selfRep = Seq((7L, "aa bb cc dd ee ff aa bb cc dd ee ff"),
        (8L, "unrelated prose tokens entirely distinct from that run"))
      .toDF("doc_id", "text")
    val sr = Dedup.removeSharedSpans(selfRep, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(sr(7L) == "aa bb cc dd ee ff aa bb cc dd ee ff")
  }

  test("removeSharedSpans invariants on randomized corpora") {
    // seeded random docs over a tiny vocab (collisions guaranteed),
    // with some docs sharing long runs
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val shared = (1 to 12).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (1L to 30L).map { i =>
      val own = (1 to 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val text = if (i % 3 == 0) s"$own $shared" else own
      (i, text)
    }.toDF("doc_id", "text")
    val toks = docs.select($"doc_id",
        graft.functions.TextFunctions.tokens($"text").as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val out = Dedup.removeSharedSpans(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(out.map(_._1).sorted.toSeq == (1L to 30L))
    out.foreach { case (id, nTok, nKept, text) =>
      assert(nTok == toks(id).size.toLong)
      val kept = if (text.isEmpty) Seq.empty else text.split(" ").toSeq
      assert(kept.size.toLong == nKept)
      // kept tokens are an order-preserving subsequence of the original
      var j = 0
      kept.foreach { w =>
        j = toks(id).indexOf(w, j)
        assert(j >= 0, s"doc $id: '$w' out of order or absent")
        j += 1
      }
    }
    // the tiny vocab guarantees chance collisions too, so ownership is
    // only asserted in aggregate here (the deterministic fixture test
    // pins owner-untouched): doc 1 can never lose a cross-doc span (it
    // owns every fingerprint it carries — min id globally), and later
    // shared-run carriers lost tokens
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == byId(1L)._3, "doc 1 owns all its fingerprints")
    assert((6L to 30L by 3).exists(id => byId(id)._3 < byId(id)._2))
    // a second pass over the edited corpus converges: far fewer tokens
    // removed than the first pass (the shared mass is gone)
    val removed1 = out.map(r => r._2 - r._3).sum
    val again = Dedup.removeSharedSpans(
        out.map(r => (r._1, r._4)).toSeq.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    val removed2 = again.map(r => r._2 - r._3).sum
    assert(removed1 > 0)
    assert(removed2 < removed1 / 2,
      s"second pass should converge: $removed2 vs $removed1")
  }

  test("minhashDecontaminate: truncated and exact bench copies found, unrelated not") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, base),                                   // leaked verbatim
      (2L, base.split(" ").take(16).mkString(" ")), // leaked truncated
      (3L, "completely different prose about spark plans and shuffles " +
        "with many engine specific words inside here")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, base),
      (200L, "unrelated benchmark question about chemistry and reactions today"))
      .toDF("bench_id", "text")
    val out = Dedup.minhashDecontaminate(corpus, "doc_id", "text",
        bench, "bench_id", "text", n = 3, numHashes = 8, bandSize = 1, minJ = 0.3)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    // verbatim leak: jaccard exactly 1.0 against its bench twin
    assert(out.exists(p => p._1 == 1L && p._2 == 100L && p._3 == 1.0))
    // truncated leak: found with partial jaccard strictly inside (0,1)
    val trunc = out.find(p => p._1 == 2L && p._2 == 100L)
    assert(trunc.isDefined && trunc.get._3 > 0.3 && trunc.get._3 < 1.0)
    // the unrelated corpus doc and unrelated bench doc pair with nothing
    assert(!out.exists(p => p._1 == 3L || p._2 == 200L))
  }

  test("dedupLines: repeated lines survive only at their first (doc, pos) occurrence") {
    val boiler = "all rights reserved by the original author"
    val d = Seq(
      (1L, s"unique opening line here\n$boiler\nmore unique prose follows"),
      (2L, s"$boiler\ndifferent body text entirely"),
      (3L, "no shared content in this document at all"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, "doc_id", "text", minWords = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 owns the boilerplate line (smallest doc id) — untouched
    assert(out(1L)._1 == 3L && out(1L)._2 == 3L)
    assert(out(1L)._3.contains(boiler))
    // doc 2 loses it but keeps its own line, joined back with \n intact
    assert(out(2L) == ((2L, 1L, "different body text entirely")))
    // untouched doc round-trips byte-identically
    assert(out(3L) == ((1L, 1L, "no shared content in this document at all")))
  }

  test("dedupLines: short lines don't participate; within-doc repeats are removed") {
    val d = Seq(
      // "---" (< minWords) repeats everywhere but is structure, not prose
      (1L, "---\nthe same long sentence appears twice in here\n---\nthe same long sentence appears twice in here"),
      (2L, "---\nsome other content lives here instead"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, "doc_id", "text", minWords = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // within-doc second occurrence removed (C4 semantics: corpus-wide
    // first occurrence only), both "---" separators kept
    assert(out(1L)._1 == 4L && out(1L)._2 == 3L)
    assert(out(1L)._3 ==
      "---\nthe same long sentence appears twice in here\n---")
    assert(out(2L)._3 == "---\nsome other content lives here instead")
    // ordering of kept lines preserved under a permuted input
    val ord = Dedup.dedupLines(
        Seq((5L, "first line stays put\nsecond line stays put\nthird line stays put"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().head
    assert(ord._4 ==
      "first line stays put\nsecond line stays put\nthird line stays put")
  }

  test("simhash: identical token multisets → identical hash") {
    val h = Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(h(0L) == h(1L) && h(0L) == h(3L))
    assert(h(0L) != h(2L))
    assert(Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap == h)
  }

  test("SimHash64 expression == relational formulation, on real testdata") {
    import graft.functions.TextFunctions.md5Hash64
    val real = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    // The explode -> bit-blowup -> three-aggregation plan the expression
    // replaced — kept here as the executable parity oracle.
    val th = real
      .select(col("doc_id").as("id"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("f"))
      .withColumn("h", md5Hash64(col("term")))
    val bitRange = spark.range(60).select(col("id").cast("int").as("i"))
    val relational = th.crossJoin(broadcast(bitRange))
      .groupBy("id", "i")
      .agg(sum(expr("f * ((shiftright(h, i) & 1) * 2 - 1)")).as("s"))
      .groupBy("id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(lit(0L))).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val expression = Dedup.simhash(real, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // relational drops token-less docs; the expression emits 0 for them
    assert(relational.forall { case (id, v) => expression(id) == v })
    assert(expression.keySet.size == 200)
  }

  test("MinHashSig expression == relational wide signatures, on real testdata") {
    import org.apache.spark.sql.GraftColumnBridge
    val real = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    val relational = Dedup.minhashSignaturesWide(
        Dedup.shingleTable(real, "doc_id", "text", 3), 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val expression = real.select(col("doc_id"),
        GraftColumnBridge.column(graft.functions.expressions.MinHashSig(
          GraftColumnBridge.expression(col("text")), 3, 8)).as("sig"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    // same doc set (null == absent from the relational table), same values
    assert(expression.collect { case (id, Some(_)) => id }.toSet == relational.keySet)
    relational.foreach { case (id, sig) => assert(expression(id).get == sig, s"doc $id") }
  }

  test("token-less docs are absent from simhash (no zero-sentinel collisions)") {
    val d = Seq((1L, "real document text here"), (2L, "!!! ??? ..."), (3L, ""))
      .toDF("doc_id", "text")
    val ids = Dedup.simhash(d, "doc_id", "text").select("id").as[Long].collect().toSet
    assert(ids == Set(1L)) // punctuation-only and empty docs dropped, as in the oracle
  }

  test("simhash is a zero-shuffle plan (no Exchange)") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Dedup.simhash(real, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fingerprinting must be a pure map:\n$plan")
  }

  test("simhash64 is callable from SQL via GraftExtensions") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT simhash64('the quick brown fox') AS a, simhash64('the quick brown fox') AS b")
      .as[(Long, Long)].head()
    assert(r._1 == r._2 && r._1 != 0L)
  }

  test("hammingBandedPairs: identical-signature floods stay complete (class-level join)") {
    // A flood of identical fingerprints (the crawl-scale common case
    // the distinct-signature rewrite targets): 50 ids share sig A,
    // 3 share sig B at distance 2 from A, 2 sit far away at C.
    val sigA = 0x0f0f0f0f0f0f0f0fL
    val sigB = sigA ^ 3L            // dist 2
    val sigC = 0x123456789abcdefL   // far from both
    val rows = (0L until 50L).map((_, sigA)) ++
      (100L until 103L).map((_, sigB)) ++ Seq((200L, sigC), (201L, sigC))
    val df = rows.toDF("id", "sig")
    val pairs = Dedup.hammingBandedPairs(df, "sig", segBits = 16, nBands = 4, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute-force reference over the same rows
    val want = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(pairs == want)
    assert(want.count(_._3 == 0) == 50 * 49 / 2 + 3 + 1) // intra-class
    assert(want.count(_._3 == 2) == 50 * 3)              // A x B
    // the far-away class pairs only within itself
    assert(want.filter(p => p._1 >= 200L || p._2 >= 200L) == Set((200L, 201L, 0)))
  }

  test("hammingClusters == connectedComponents over the pair expansion (linear path parity)") {
    // chain A -(2)- B -(2)- C with identical-sig floods on A and B,
    // plus an isolated class D: component labels and memberships must
    // match the quadratic pairs->CC formulation exactly.
    val sigA = 0x00ff00ff00ff00ffL
    val sigB = sigA ^ 3L               // dist 2 from A
    val sigC = sigB ^ 0x30L            // dist 2 from B, 4 from A (B bridges)
    val sigD = 0x5a5a5a5a5a5a5a5aL
    val rows = (0L until 40L).map((_, sigA)) ++
      (100L until 130L).map((_, sigB)) ++ Seq((300L, sigC)) ++
      (400L until 403L).map((_, sigD))
    val df = rows.toDF("id", "sig")
    val viaClusters = Dedup.hammingClusters(df, "sig", 16, 4, maxDist = 3)
      .select("id", "component").as[(Long, Long)].collect().toMap
    val viaPairs = Dedup.connectedComponents(
      Dedup.hammingBandedPairs(df, "sig", 16, 4, maxDist = 3).select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    // pair-level CC only labels edge-connected nodes; clusters labels all
    assert(viaClusters.size == rows.size)
    viaPairs.foreach { case (id, comp) => assert(viaClusters(id) == comp) }
    // A+B+C one cluster labeled 0; D its own labeled 400
    assert(viaClusters(300L) == 0L)
    assert(viaClusters(129L) == 0L)
    assert((400L until 403L).forall(viaClusters(_) == 400L))
    val keep = Dedup.hammingClusters(df, "sig", 16, 4, maxDist = 3)
      .filter(col("keep")).select("id").as[Long].collect().toSet
    assert(keep == Set(0L, 400L))
  }
}

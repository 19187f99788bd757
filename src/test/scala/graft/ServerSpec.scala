package graft

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.embedding.HashEmbedder
import graft.pipeline.Index
import graft.serve.SearchServer

class ServerSpec extends SparkSpec {
  import spark.implicits._

  private def http(method: String, url: String, body: Option[String] = None): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    (code, new String(is.readAllBytes(), StandardCharsets.UTF_8))
  }

  test("serve: health, info, indexes, search (ref serve.rs contract)") {
    val wh = Files.createTempDirectory("graft-serve").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(
      ("vector search with embeddings", "a.md"),
      ("spark shuffle mechanics", "b.md")).toDF("text", "source"),
      s"$wh/main", provider, strategy = "simple")

    val srv = new SearchServer(spark, wh, "main", provider)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      assert(http("GET", s"$base/health")._2.contains("ok"))
      assert(http("GET", s"$base/info")._2.contains("hash-embedder-16"))
      assert(http("GET", s"$base/indexes")._2.contains("\"main\""))

      // alpha=0.1: BM25 dominates, so the keyword-matching doc must win
      // (the hash embedder's vector side is content-random)
      val (code, body) = http("POST", s"$base/search",
        Some("""{"query":"vector embeddings","top_k":1,"hybrid":true,"alpha":0.1}"""))
      assert(code == 200)
      assert(body.contains("\"results\"") && body.contains("a.md"))
      assert(body.contains("took_ms"))

      // wire parity: the reference's field is hybrid_alpha
      // (serve.rs:232-233) — posting it must change the fusion exactly
      // as alpha does. hybrid_alpha=0.1 -> BM25 dominates -> a.md wins;
      // and when both fields are present, hybrid_alpha wins (0.1 here,
      // against an alpha=0.99 that would let the random vector side
      // dominate).
      val (hc, hb) = http("POST", s"$base/search",
        Some("""{"query":"vector embeddings","top_k":1,"hybrid":true,"hybrid_alpha":0.1}"""))
      assert(hc == 200 && hb.contains("a.md"), s"hybrid_alpha ignored: $hb")
      // precedence by WINNER: on this fixture the hash embedder's
      // vector side favors b.md, so alpha=0.9 alone flips the top hit
      // to b.md — and adding hybrid_alpha=0.1 next to it must flip it
      // back (the reference field wins over the alias).
      val aliasHigh = http("POST", s"$base/search",
        Some("""{"query":"vector embeddings","top_k":1,"hybrid":true,"alpha":0.9}"""))._2
      assert(aliasHigh.contains("b.md"),
        s"fixture must discriminate the two alphas: $aliasHigh")
      val both = http("POST", s"$base/search",
        Some("""{"query":"vector embeddings","top_k":1,"hybrid":true,"hybrid_alpha":0.1,"alpha":0.9}"""))._2
      assert(both.contains("a.md"),
        s"hybrid_alpha must take precedence over the alias: $both")

      // error paths
      assert(http("GET", s"$base/search")._1 == 405)
      assert(http("POST", s"$base/search", Some("{}"))._1 == 400)
      assert(http("POST", s"$base/search", Some("not json at all"))._1 == 400)
    } finally srv.stop()
  }

  test("search request boundary drains the dedup deferred-release registry") {
    // Simulate an earlier request cycle having reached a dedup operator
    // (holdCached keeps ONE live intermediate per callsite between
    // calls); the NEXT request's completion must drain it — both on the
    // success path and on the 400 path.
    val wh = Files.createTempDirectory("graft-serve-drain").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(("draining cached dedup state", "a.md")).toDF("text", "source"),
      s"$wh/main", provider, strategy = "simple")
    val srv = new SearchServer(spark, wh, "main", provider)
    srv.start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      def seed(): Unit = {
        val docs = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd")).toDF("doc_id", "text")
        graft.operators.Dedup.minhashDedup(docs, "doc_id", "text", 3, 8, 2, 0.9).count()
        assert(graft.operators.Dedup.heldCount > 0, "seed should populate the registry")
      }
      // The response is visible to the client before the handler thread
      // reaches its finally-drain, so poll briefly instead of asserting
      // instantaneously.
      def drained(): Boolean = {
        val deadline = System.nanoTime() + 5e9.toLong
        while (graft.operators.Dedup.heldCount > 0 && System.nanoTime() < deadline)
          Thread.sleep(20)
        graft.operators.Dedup.heldCount == 0
      }
      seed()
      assert(http("POST", s"$base/search", Some("""{"query":"draining"}"""))._1 == 200)
      assert(drained(), "a completed /search request must drain the dedup cache registry")
      seed()
      assert(http("POST", s"$base/search", Some("{}"))._1 == 400)
      assert(drained(), "the drain must run on error responses too")
    } finally srv.stop()
  }

  test("warm tier: zero-job path returns results identical to the Spark path") {
    val wh = Files.createTempDirectory("graft-serve-warm").toString
    val provider = new HashEmbedder(16)
    Index.build((1 to 40).map(i =>
      (s"document number $i about topic ${i % 7} and subject ${i % 5}",
        s"doc$i.md")).toDF("text", "source"),
      s"$wh/main", provider, strategy = "simple")
    val indexDir = Index.locate(wh, "main").get
    // IVF layout so the warm tier exercises centroid ranking + buckets
    Index.buildIvf(spark, indexDir, numClusters = 4)

    val cold = new SearchServer(spark, wh, "main", provider)
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    cold.start(); hot.start()
    try {
      def results(port: Int, body: String): String = {
        val (code, resp) = http("POST", s"http://127.0.0.1:$port/search", Some(body))
        assert(code == 200, resp)
        resp.substring(resp.indexOf("\"results\""), resp.indexOf(",\"took_ms\""))
      }
      // full-scan warm (default nprobe = all buckets) must equal the
      // Spark exact path row for row — ids, 6-rounded scores, text,
      // source, order — on the plain vector path, the hybrid path (the
      // warm tier holds the bm25 tables in driver RAM) AND the
      // FILTERED variants of both (in-process DSL evaluation over the
      // resident metadata vs the Spark pre-scoring semi-join). Each
      // filter string repeats across the query values, so iterations
      // after the first serve from the warm tier's per-filter
      // allowed-set memo — cache-HIT parity is asserted here too, not
      // just first-compute.
      for (q <- Seq("topic 3 subject", "document number 17", "about");
           extra <- Seq("", ""","hybrid":true""",
             ""","hybrid":true,"hybrid_alpha":0.2""");
           filt <- Seq("", ""","filter":"source$7.md"""",
             ""","filter":"chunk_type=simple,source^doc1"""",
             ""","filter":"source^doc1 OR source^doc2"""")) {
        val body = s"""{"query":"$q","top_k":5$extra$filt}"""
        val w = results(hot.boundPort, body)
        val s = results(cold.boundPort, body)
        assert(w == s, s"warm != spark for '$body':\n$w\n$s")
      }
      // the warm response declares its tier; hybrid AND filtered
      // requests are warm-served (the reference serves filters
      // in-process too, searcher.rs:172-207)
      val (_, wresp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"topic","top_k":2}"""))
      assert(wresp.contains("\"tier\":\"warm\""), wresp)
      val (_, hresp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"topic","top_k":2,"hybrid":true}"""))
      assert(hresp.contains("\"tier\":\"warm\""), hresp)
      val (_, fresp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"topic","top_k":2,"filter":"source^doc3"}"""))
      assert(fresp.contains("\"tier\":\"warm\"") && fresp.contains("doc3.md"), fresp)
      // an unparseable filter is an error on BOTH tiers (the
      // compileFilter contract), never silently-unfiltered results
      assert(http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"topic","filter":"garbage"}"""))._1 == 500)
      assert(http("POST", s"http://127.0.0.1:${cold.boundPort}/search",
        Some("""{"query":"topic","filter":"garbage"}"""))._1 == 500)
      // nprobe-pruned warm search stays well-formed (recall, not
      // parity, is the knob's trade — membership is a subset question)
      val (pc, presp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"topic","top_k":3,"nprobe":1}"""))
      assert(pc == 200 && presp.contains("\"tier\":\"warm\""), presp)
      assert(!presp.contains("nprobe_ignored"), presp)
      // ... but a Spark-path response to a request that asked for
      // nprobe SAYS the knob was dropped instead of silently serving
      // exact results under it
      val (ic, iresp) = http("POST", s"http://127.0.0.1:${cold.boundPort}/search",
        Some("""{"query":"topic","top_k":3,"nprobe":1}"""))
      assert(ic == 200 && iresp.contains("\"tier\":\"spark\"") &&
        iresp.contains("\"note\":\"nprobe_ignored\""), iresp)
    } finally { cold.stop(); hot.stop() }
  }

  test("warm ANN tier: ADC + exact re-rank in-process == Spark searchPq through HTTP") {
    val wh = Files.createTempDirectory("graft-serve-warmpq").toString
    val provider = new HashEmbedder(16)
    Index.build((1 to 60).map(i =>
      (s"passage $i concerning area ${i % 9} and theme ${i % 4}",
        s"p$i.md")).toDF("text", "source"),
      s"$wh/main", provider, strategy = "simple")
    val indexDir = Index.locate(wh, "main").get
    Index.buildIvf(spark, indexDir, numClusters = 4)
    Index.buildPq(spark, indexDir, m = 4, k = 4)

    val cold = new SearchServer(spark, wh, "main", provider)
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    cold.start(); hot.start()
    try {
      def results(port: Int, body: String): String = {
        val (code, resp) = http("POST", s"http://127.0.0.1:$port/search", Some(body))
        assert(code == 200, resp)
        resp.substring(resp.indexOf("\"results\""), resp.indexOf(",\"took_ms\""))
      }
      // the full ANN grid: probe counts from 1 to all-buckets, a rerank
      // cut small enough to bind, and the post-filter path — every cell
      // must match the Spark Index.searchAnn (searchPq + resolve) row
      // for row: ids, 6-rounded exact scores, text, source, order
      for (q <- Seq("area 3 theme", "passage 17", "concerning");
           np <- Seq(1, 2, 4);
           rk <- Seq(50, 5);
           filt <- Seq("", ""","filter":"source^p1"""")) {
        val body = s"""{"query":"$q","top_k":5,"ann":true,"nprobe":$np,"rerank":$rk$filt}"""
        val w = results(hot.boundPort, body)
        val s = results(cold.boundPort, body)
        assert(w == s, s"warm-pq != spark for '$body':\n$w\n$s")
      }
      // tier tags: the hot server serves ANN in-process, the cold one
      // from the Spark path — same results either way (asserted above)
      val (_, wresp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"area","top_k":2,"ann":true}"""))
      assert(wresp.contains("\"tier\":\"warm\""), wresp)
      val (_, cresp) = http("POST", s"http://127.0.0.1:${cold.boundPort}/search",
        Some("""{"query":"area","top_k":2,"ann":true}"""))
      assert(cresp.contains("\"tier\":\"spark\"") &&
        !cresp.contains("nprobe_ignored"), cresp)
      // ann+hybrid is a request error on both tiers, never a silent drop
      assert(http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"area","ann":true,"hybrid":true}"""))._1 == 400)
    } finally { cold.stop(); hot.stop() }
  }

  test("warm ANN tier: no PQ layout routes to the Spark path, which refuses loudly") {
    val wh = Files.createTempDirectory("graft-serve-nopq").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(("no layout here", "a.md")).toDF("text", "source"),
      s"$wh/main", provider, strategy = "simple")
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    hot.start()
    try {
      val (code, resp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"layout","ann":true}"""))
      assert(code == 500 && resp.contains("ann-build"), resp)
    } finally hot.stop()
  }

  test("warm tier: serves updated index content after an on-disk update (staleness probe)") {
    val wh = Files.createTempDirectory("graft-serve-stale").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(
      ("alpha document about spark", "a.md"),
      ("beta document about shuffles", "b.md")).toDF("text", "source"),
      s"$wh/main", provider, strategy = "simple")
    val indexDir = Index.locate(wh, "main").get

    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    hot.start()
    val base = s"http://127.0.0.1:${hot.boundPort}"
    try {
      val before = http("POST", s"$base/search",
        Some("""{"query":"gamma freshly appended","top_k":3}"""))._2
      assert(before.contains("\"tier\":\"warm\""), before)
      assert(!before.contains("c.md"), before)
      // update the index ON DISK behind the running server
      Index.update(Seq(("gamma freshly appended rows", "c.md"))
        .toDF("text", "source"), indexDir, provider, strategy = "simple")
      // the per-request fingerprint probe must catch the drift and
      // RELOAD: the appended passage is served, never the stale snapshot
      val after = http("POST", s"$base/search",
        Some("""{"query":"gamma freshly appended","top_k":3}"""))._2
      assert(after.contains("\"tier\":\"warm\""), after)
      assert(after.contains("c.md"),
        s"warm tier served stale results after an on-disk update: $after")
    } finally hot.stop()
  }

  /** The ranked rows of a 200 search response: the text between
    * `"results"` and `,"took_ms"`. */
  private def results(port: Int, body: String): String = {
    val (code, resp) = http("POST", s"http://127.0.0.1:$port/search", Some(body))
    assert(code == 200, s"$body -> $resp")
    resp.substring(resp.indexOf("\"results\""), resp.indexOf(",\"took_ms\""))
  }

  test("search request fields are read as JSON: escapes, exponents, types") {
    val wh = Files.createTempDirectory("graft-serve-json").toString
    val provider = new HashEmbedder(16)
    Index.build((1 to 12).map(i => (s"café number $i serves topic ${i % 4}", s"c$i.md"))
      .toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val srv = new SearchServer(spark, wh, "main", provider, warm = true)
    srv.start()
    val port = srv.boundPort
    try {
      // Python's json.dumps escapes non-ASCII text by default
      assert(results(port, "{\"query\":\"caf\\u00e9 topic\",\"top_k\":4}") ==
        results(port, """{"query":"café topic","top_k":4}"""))
      assert(results(port, """{"query":"café","top_k":4,"hybrid":true,"hybrid_alpha":5e-1}""") ==
        results(port, """{"query":"café","top_k":4,"hybrid":true,"hybrid_alpha":0.5}"""))
      val base = s"http://127.0.0.1:$port/search"
      assert(http("POST", base, Some("""["query","café"]"""))._1 == 400)
      val (code, resp) = http("POST", base, Some("""{"query":"café","top_k":"3"}"""))
      assert(code == 400 && resp.contains("top_k"), resp)
    } finally srv.stop()
  }

  test("count fields below 1 are request errors on both tiers") {
    val wh = Files.createTempDirectory("graft-serve-counts").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(("count fields", "a.md"), ("are checked", "b.md"))
      .toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val cold = new SearchServer(spark, wh, "main", provider)
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    cold.start(); hot.start()
    try {
      for (srv <- Seq(cold, hot);
           body <- Seq("""{"query":"count","top_k":0}""", """{"query":"count","top_k":-2}""",
             """{"query":"count","nprobe":0}""", """{"query":"count","ann":true,"rerank":0}""")) {
        val (code, resp) = http("POST", s"http://127.0.0.1:${srv.boundPort}/search", Some(body))
        assert(code == 400 && resp.contains(">= 1"), s"$body -> $code $resp")
      }
    } finally { cold.stop(); hot.stop() }
  }

  test("warm tier: a server returns to the warm tier once a failed reload heals") {
    val wh = Files.createTempDirectory("graft-serve-heal").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(("healing index one", "a.md"), ("healing index two", "b.md"))
      .toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val emb = java.nio.file.Paths.get(Index.locate(wh, "main").get, "embeddings")
    val aside = java.nio.file.Paths.get(wh, "embeddings.aside")
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    hot.start()
    val base = s"http://127.0.0.1:${hot.boundPort}/search"
    val body = """{"query":"healing","top_k":2}"""
    def tier(): String = {
      val (code, resp) = http("POST", base, Some(body))
      assert(code == 200, resp)
      "\"tier\":\"(\\w+)\"".r.findFirstMatchIn(resp).get.group(1)
    }
    try {
      assert(tier() == "warm")
      val warmRows = results(hot.boundPort, body)
      // without its embeddings table the index no longer loads warm; the
      // Spark path recomputes the embeddings and answers the same
      Files.move(emb, aside)
      assert(tier() == "spark")
      assert(results(hot.boundPort, body) == warmRows)
      Files.move(aside, emb)
      assert(tier() == "warm", "the server must reload once the index heals")
      assert(results(hot.boundPort, body) == warmRows)
    } finally hot.stop()
  }

  test("warm tier: the reload line on stderr is ASCII, [warm] <dir>: <message>") {
    val wh = Files.createTempDirectory("graft-serve-log").toString
    val provider = new HashEmbedder(16)
    Index.build(Seq(("logged index one", "a.md"), ("logged index two", "b.md"))
      .toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val dir = java.nio.file.Paths.get(Index.locate(wh, "main").get)
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    hot.start()
    val captured = new java.io.ByteArrayOutputStream
    val err = System.err
    try {
      System.setErr(new java.io.PrintStream(captured, true, StandardCharsets.UTF_8))
      // a newer mtime on any file under the index moves its fingerprint
      val f = Files.walk(dir).filter(Files.isRegularFile(_)).findFirst().get
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(f).toMillis + 10000))
      val (code, resp) = http("POST", s"http://127.0.0.1:${hot.boundPort}/search",
        Some("""{"query":"logged","top_k":1}"""))
      assert(code == 200 && resp.contains("\"tier\":\"warm\""), resp)
    } finally { System.setErr(err); hot.stop() }
    val lines = new String(captured.toByteArray, StandardCharsets.UTF_8)
      .linesIterator.filter(_.startsWith("[warm]")).toSeq
    assert(lines.exists(_.endsWith(": changed on disk, reloading")), lines)
    assert(lines.forall(_.forall(_ < 128)), s"non-ASCII log line: $lines")
  }

  test("warm tier: the centroid probe ranks by round6(dot), then centroid id (searchIvf order)") {
    val wh = Files.createTempDirectory("graft-serve-probe").toString
    val provider = new HashEmbedder(16)
    Index.build((1 to 30).map(i => (s"probe passage $i on theme ${i % 6}", s"q$i.md"))
      .toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val dir = Index.locate(wh, "main").get
    Index.buildIvf(spark, dir, numClusters = 2)
    val query = "probe theme"
    val qv = provider.embedWithTemplate(Seq(query), Index.readMeta(dir).queryPromptTemplate).head
    val qq = qv.map(x => x.toDouble * x).sum
    // centroid 0 scores 0.1000001 and centroid 1 scores 0.1000004: equal
    // after round6, so centroid 0 wins; a raw-dot probe picks centroid 1
    Seq(0 -> 0.1000001, 1 -> 0.1000004)
      .flatMap { case (c, t) => qv.indices.map(p => (c, p, qv(p) * t / qq)) }
      .toDF("centroid_id", "pos", "cv")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val ivf = spark.read.parquet(s"$dir/embeddings_ivf")
    assert(ivf.select("centroid_id").distinct().count() == 2)
    val spark1 = Index.searchIvf(spark, dir, qv, nprobe = 1, k = 4).collect()
      .map(r => (r.get(0).toString, r.getDouble(1))).toSeq
    val bucket0 = ivf.filter("centroid_id = 0").select("id").collect().map(_.get(0).toString).toSet
    assert(spark1.nonEmpty && spark1.forall(r => bucket0(r._1)), spark1)
    val warm = graft.serve.WarmIndex.load(spark, dir, provider)
      .search(query, 4, nprobe = 1).map(r => (r._1, r._2))
    assert(warm == spark1)
  }

  test("warm tier: concurrent mixed requests answer as the same requests sent serially") {
    val wh = Files.createTempDirectory("graft-serve-concurrent").toString
    val provider = new HashEmbedder(16)
    Index.build((1 to 60).map(i => (s"concurrent passage $i on area ${i % 9} and theme ${i % 4}",
      s"r${i % 5}/p$i.md")).toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val dir = Index.locate(wh, "main").get
    Index.buildIvf(spark, dir, numClusters = 4)
    Index.buildPq(spark, dir, m = 4, k = 4)
    val hot = new SearchServer(spark, wh, "main", provider, warm = true)
    hot.start()
    try {
      val bodies = for (q <- Seq("area 3 theme", "passage 17", "concurrent", "theme 2 area 5");
                        extra <- Seq("", ""","filter":"source^r1"""", ""","hybrid":true""",
                          ""","hybrid":true,"filter":"source^r2"""", ""","ann":true""",
                          ""","ann":true,"nprobe":2,"filter":"source^r3""""))
        yield s"""{"query":"$q","top_k":5$extra}"""
      val serial = bodies.map(b => b -> results(hot.boundPort, b)).toMap
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val calls = (1 to 8).map { t =>
          val order = new scala.util.Random(t).shuffle(bodies)
          val call: java.util.concurrent.Callable[Seq[(String, String)]] =
            () => order.map(b => b -> results(hot.boundPort, b))
          call
        }
        import scala.jdk.CollectionConverters._
        pool.invokeAll(calls.asJava).asScala.flatMap(_.get).foreach { case (b, r) =>
          assert(r == serial(b), s"concurrent answer diverged for $b")
        }
      } finally pool.shutdown()
    } finally hot.stop()
  }

  test("warm tier: refuses an over-budget index loudly") {
    val wh = Files.createTempDirectory("graft-serve-warmcap").toString
    val provider = new HashEmbedder(8)
    Index.build(Seq(("tiny doc one", "a.md"), ("tiny doc two", "b.md"))
      .toDF("text", "source"), s"$wh/main", provider, strategy = "simple")
    val e = intercept[IllegalArgumentException] {
      graft.serve.WarmIndex.load(spark, Index.locate(wh, "main").get,
        provider, maxVectors = 1)
    }
    assert(e.getMessage.contains("driver-RAM-bounded"), e.getMessage)
  }
}

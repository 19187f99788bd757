package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.embedding.EmbeddingProvider
import graft.pipeline.Index
import graft.util.Json

/** Thin HTTP front end over the query layer — the reference's `serve`
  * surface (`src/cli/serve.rs:90-96,222-311`) re-expressed as a handler
  * holding one long-lived SparkSession:
  *
  *   POST /search   {"query": "...", "top_k": 5, "filter": "...",
  *                   "hybrid": true, "hybrid_alpha": 0.7}
  *                  or, on the PQ tier, {"query": "...", "ann": true,
  *                   "nprobe": 4, "rerank": 50}; field checks in
  *                  [[SearchRequest]], a request error is a 400
  *   GET  /health   {"status":"ok"}
  *   GET  /info     index meta JSON
  *   GET  /indexes  names under the warehouse root
  *
  * Uses the JDK's built-in HttpServer — no extra dependencies; the data
  * plane stays entirely in Spark (cached tables + per-request plans).
  */
final class SearchServer(spark: SparkSession, warehouse: String, indexName: String,
                         provider: EmbeddingProvider, port: Int = 0,
                         warm: Boolean = false) {

  // The JDK server writes status+headers and body as separate TCP
  // segments; with Nagle on, segment 2 waits for the client's delayed
  // ACK (~40 ms) — a flat per-request floor that buries the warm tier's
  // sub-ms search cost. TCP_NODELAY on accepted sockets is only
  // reachable via this system property, which the JDK reads ONCE at
  // ServerConfig class-initialization (the first HttpServer created in
  // the process). Cli.main sets it at process entry where that order
  // is guaranteed; this set covers library embedders — but it is a
  // no-op if the host application already created any HttpServer, and
  // it affects every server this JVM creates afterwards (documented
  // caveat; acceptable because the flag only disables Nagle).
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val indexDir = Index.locate(warehouse, indexName)
    .getOrElse(throw new IllegalArgumentException(s"no index '$indexName' in $warehouse"))

  // Warm tier (opt-in): the index layout loaded into driver arrays so
  // requests run zero Spark jobs — the per-request latency answer to
  // the reference's in-process walk (see [[WarmIndex]]; staleness and
  // reload policy in [[Router]]). The initial load fails loudly (index
  // too big for the driver-RAM bound, no persisted embeddings) at
  // CONSTRUCTION, not first request.
  private val router = new Router(spark, provider, warm)
  if (warm) router.preload(indexDir)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, Json.write(Map("error" -> msg)))

  server.createContext("/health", (ex: HttpExchange) =>
    respond(ex, 200, """{"status":"ok"}"""))

  server.createContext("/info", (ex: HttpExchange) =>
    respond(ex, 200, Index.readMeta(indexDir).toJson))

  server.createContext("/indexes", (ex: HttpExchange) =>
    respond(ex, 200, Json.write(Index.listIndexes(warehouse)
      .map { case (n, m) => Map("name" -> n, "passage_count" -> m.passageCount) })))

  server.createContext("/search", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") error(ex, 405, "POST only")
    else try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val parsed =
        try SearchRequest.parse(Json.parseObject(body))
        catch { case e: Exception => Left(s"bad request body: ${e.getMessage}") }
      parsed match {
        case Left(msg) => error(ex, 400, msg)
        case Right(req) =>
          try {
            val t0 = System.nanoTime()
            val (rows, tier) = router.search(indexDir, req)
            val tookMs = (System.nanoTime() - t0) / 1e6
            // scores print through Double.toString, not Json.write (which
            // writes whole doubles as integers)
            val results = rows.map { case (id, score, text, source) =>
              s"""{"id":${Json.write(id)},"score":$score,""" +
                s""""text":${Json.write(text)},"source":${Json.write(source)}}"""
            }.mkString("[", ",", "]")
            // nprobe only prunes on the warm tier for PLAIN requests
            // (the ANN path honors it on both tiers); a Spark-path
            // response to a request that asked for it says so instead
            // of silently serving exact results under a pruning knob
            val note =
              if (tier == "spark" && req.nprobe.isDefined && !req.ann)
                s""","note":"nprobe_ignored"""" else ""
            respond(ex, 200,
              s"""{"results":$results,"took_ms":$tookMs,"tier":"$tier"$note}""")
          } catch {
            case e: Exception => error(ex, 500, String.valueOf(e.getMessage))
          }
      }
    } finally {
      // Request boundary: drain the dedup deferred-release registry so a
      // long-lived server never pins a request's corpus-scale cache
      // blocks past its response (DfCache.holdCached holds one live
      // intermediate per callsite by design between calls).
      graft.operators.Dedup.releaseCaches()
    }
  })

  // Concurrency: the JDK HttpServer with no executor runs every handler
  // on its single dispatcher thread — requests would serialize exactly
  // like the reference's RwLock'd searcher (src/cli/serve.rs:82-87).
  // WarmIndex is an immutable snapshot (per-request scratch only) and
  // Spark schedules concurrent actions from multiple threads, so both
  // tiers are safe to serve in parallel; a cached pool of daemon
  // threads lets warm-tier throughput scale with client concurrency.
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-serve-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })
  server.setExecutor(pool)

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

package graft.serve

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.embedding.EmbeddingProvider
import graft.pipeline.Index
import graft.util.Json

/** MCP (Model Context Protocol) server over stdio — the reference's
  * `leann mcp` surface (`src/cli/mcp.rs:79-316`) re-expressed over the
  * Spark query layer. Newline-delimited JSON-RPC 2.0 on stdin/stdout
  * (logs go to stderr; stdout carries only protocol frames):
  *
  *   - `initialize`      → capabilities.tools + serverInfo + instructions
  *   - `tools/list`      → `search` and `list_indexes` with JSON schemas
  *                         (`mcp.rs:42-75`)
  *   - `tools/call`      → markdown-formatted results, mirroring the
  *                         reference's output shape (`mcp.rs:200-227`):
  *                         `### Result i (score: x.xxxx)` + source + text
  *   - notifications     → consumed, no response
  *   - unknown methods   → JSON-RPC -32601; parse failures → -32700
  *
  * Tool errors are NOT protocol errors: like the reference, they come
  * back as a successful `tools/call` with `isError: true` and the
  * message as text content (`mcp.rs:108-133`).
  */
final class McpServer(spark: SparkSession, warehouse: String,
                      defaultIndex: Option[String],
                      provider: EmbeddingProvider,
                      warm: Boolean = false) {

  // Warm tier (opt-in, the SearchServer stance): one driver-resident
  // layout per index, loaded on FIRST use (MCP requests name their
  // index per call, unlike the single-index HTTP server). A failed load
  // keeps that index on the Spark path until it changes on disk — a
  // routing decision surfaced on stderr, never a protocol error (see
  // [[Router]]).
  private val router = new Router(spark, provider, warm)

  /** Protocol revisions whose initialize/tools surface we implement;
    * an unknown requested version gets our latest supported one back
    * (per spec — never echo a version we don't actually speak). */
  private val supportedVersions = Set("2024-11-05", "2025-03-26", "2025-06-18")
  private val latestVersion = supportedVersions.max

  /** Serve until EOF on `in` — one JSON-RPC message per line. */
  def serve(in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    val writer = new PrintWriter(out, true)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) handleLine(line).foreach(writer.println)
      line = reader.readLine()
    }
  }

  /** Handle one JSON-RPC frame; None for notifications (no response). */
  def handleLine(line: String): Option[String] = {
    val parsed =
      try Right(Json.parseObject(line))
      catch { case e: Exception => Left(e.getMessage) }
    parsed match {
      case Left(msg) =>
        Some(error(null, -32700, s"Parse error: $msg"))
      case Right(req) =>
        val id = req.getOrElse("id", null)
        val method = req.get("method").map(String.valueOf).getOrElse("")
        val params = req.get("params") match {
          case Some(m: Map[String, Any] @unchecked) => m
          case _ => Map.empty[String, Any]
        }
        if (method.startsWith("notifications/")) None
        else method match {
          case "initialize" => Some(result(id, initializeResult(params)))
          case "ping" => Some(result(id, Map.empty[String, Any]))
          case "tools/list" => Some(result(id, Map("tools" -> toolList)))
          case "tools/call" => Some(result(id, callTool(params)))
          case other => Some(error(id, -32601, s"Method not found: $other"))
        }
    }
  }

  private def result(id: Any, res: Any): String =
    Json.write(Map("jsonrpc" -> "2.0", "id" -> id, "result" -> res))

  private def error(id: Any, code: Int, message: String): String =
    Json.write(Map("jsonrpc" -> "2.0", "id" -> id,
      "error" -> Map("code" -> code, "message" -> message)))

  private def initializeResult(params: Map[String, Any]): Map[String, Any] = Map(
    "protocolVersion" -> params.get("protocolVersion").map(String.valueOf)
      .filter(supportedVersions.contains).getOrElse(latestVersion),
    "capabilities" -> Map("tools" -> Map.empty[String, Any]),
    "serverInfo" -> Map(
      "name" -> "graft-mcp",
      "title" -> "Graft MCP Server",
      "version" -> "0.1.0"),
    "instructions" -> ("Graft vector database MCP server. Use 'search' to find " +
      "relevant documents and 'list_indexes' to see available indexes."))

  /** The `search` tool's argument schema; also the keys
    * [[doSearch]] passes to the request parser. */
  private val searchProperties: Map[String, Any] = Map(
    "query" -> Map("type" -> "string", "description" -> "The search query text"),
    "index" -> Map("type" -> "string", "description" -> "Name of the index to search"),
    "top_k" -> Map("type" -> "integer", "description" -> "Number of results to return", "default" -> 5L),
    "filter" -> Map("type" -> "string", "description" -> "Metadata filter expression"),
    "hybrid" -> Map("type" -> "boolean", "description" -> "Enable hybrid vector + BM25 search", "default" -> false))

  /** Tool descriptors with input schemas, mirroring `SearchInput` /
    * `ListIndexesInput` (`mcp.rs:42-75`). */
  private def toolList: List[Map[String, Any]] = List(
    Map(
      "name" -> "search",
      "description" -> ("Search for documents in the graft vector database using " +
        "semantic similarity. Returns relevant passages with scores and source metadata."),
      "inputSchema" -> Map(
        "type" -> "object",
        "properties" -> searchProperties,
        "required" -> List("query"))),
    Map(
      "name" -> "list_indexes",
      "description" -> "List all available graft indexes under the warehouse root.",
      "inputSchema" -> Map(
        "type" -> "object",
        "properties" -> Map.empty[String, Any])))

  private def callTool(params: Map[String, Any]): Map[String, Any] = {
    val name = params.get("name").map(String.valueOf).getOrElse("")
    val args = params.get("arguments") match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => Map.empty[String, Any]
    }
    try name match {
      case "search" =>
        try textContent(doSearch(args), isError = false)
        catch { case e: Exception =>
          textContent(s"Search error: ${e.getMessage}", isError = true) }
      case "list_indexes" =>
        try textContent(doListIndexes(), isError = false)
        catch { case e: Exception =>
          textContent(s"Error listing indexes: ${e.getMessage}", isError = true) }
      case other =>
        textContent(s"Unknown tool: $other", isError = true)
    } finally {
      // Tool-call boundary: drain the dedup deferred-release registry —
      // same contract as SearchServer's per-request drain, so a
      // long-lived MCP session never pins one call's corpus-scale cache
      // blocks into the next.
      graft.operators.Dedup.releaseCaches()
    }
  }

  private def textContent(text: String, isError: Boolean): Map[String, Any] =
    Map("content" -> List(Map("type" -> "text", "text" -> text)),
      "isError" -> isError)

  /** `search` tool: resolve index, run the full read path, format as the
    * reference's markdown (`mcp.rs:200-227`). */
  private def doSearch(args: Map[String, Any]): String = {
    // the HTTP-only fields (ann, nprobe, rerank, hybrid_alpha) are not
    // in the schema and keep their defaults here
    val req = SearchRequest.parse(args.filter { case (k, _) => searchProperties.contains(k) })
      .fold(msg => throw new IllegalArgumentException(msg), identity)
    val indexName = req.index.orElse(defaultIndex)
      .getOrElse(throw new IllegalArgumentException(
        "No index specified. Use --index or provide 'index' in the request."))
    val dir = Index.locate(warehouse, indexName).getOrElse(
      throw new IllegalArgumentException(s"no index '$indexName' in $warehouse"))
    val (rows, _) = router.search(dir, req)

    val b = new StringBuilder
    b ++= s"## Search Results for \"${req.query}\"\n\n"
    b ++= s"Found ${rows.length} results in index '$indexName'.\n\n"
    rows.zipWithIndex.foreach { case ((_, score, text, source), i) =>
      b ++= f"### Result ${i + 1} (score: $score%.4f)\n\n"
      b ++= s"**Source:** `$source`\n\n"
      b ++= text
      b ++= "\n\n---\n\n"
    }
    b.result()
  }

  private def doListIndexes(): String = {
    val idx = Index.listIndexes(warehouse)
    if (idx.isEmpty)
      s"No indexes found. Use `graft.Cli build --docs <dir> --index <name>` to create one."
    else
      "## Available Indexes\n\n" +
        idx.map { case (n, m) => s"- $n (${m.passageCount} passages)\n" }.mkString
  }
}

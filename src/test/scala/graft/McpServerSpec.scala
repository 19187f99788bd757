package graft

import java.nio.file.Files

import graft.embedding.HashEmbedder
import graft.pipeline.Index
import graft.serve.McpServer
import graft.util.Json

class McpServerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft-mcp").toString
    val docs = Seq(
      ("spark shuffles data between stages", "a.md"),
      ("parquet is a columnar file format", "b.md"),
      ("the quick brown fox", "c.md")).toDF("text", "source")
    Index.build(docs, s"$w/notes", new HashEmbedder(16), strategy = "simple")
    w
  }

  private lazy val srv =
    new McpServer(spark, warehouse, Some("notes"), new HashEmbedder(16))

  private def call(line: String): Map[String, Any] =
    Json.parseObject(srv.handleLine(line).get)

  test("initialize advertises tools capability and echoes protocol version") {
    val resp = call("""{"jsonrpc":"2.0","id":1,"method":"initialize",""" +
      """"params":{"protocolVersion":"2025-03-26","capabilities":{}}}""")
    assert(resp("id") == 1L)
    val res = resp("result").asInstanceOf[Map[String, Any]]
    assert(res("protocolVersion") == "2025-03-26")
    assert(res("capabilities").asInstanceOf[Map[String, Any]].contains("tools"))
    assert(res("serverInfo").asInstanceOf[Map[String, Any]]("name") == "graft-mcp")
  }

  test("initialize answers an unknown protocol version with our latest") {
    val resp = call("""{"jsonrpc":"2.0","id":9,"method":"initialize",""" +
      """"params":{"protocolVersion":"2099-01-01","capabilities":{}}}""")
    val res = resp("result").asInstanceOf[Map[String, Any]]
    assert(res("protocolVersion") == "2025-06-18")
  }

  test("notifications get no response") {
    assert(srv.handleLine(
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
  }

  test("tools/list returns search and list_indexes with schemas") {
    val resp = call("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
    val tools = resp("result").asInstanceOf[Map[String, Any]]("tools")
      .asInstanceOf[List[Map[String, Any]]]
    assert(tools.map(_("name")).toSet == Set("search", "list_indexes"))
    val search = tools.find(_("name") == "search").get
    val schema = search("inputSchema").asInstanceOf[Map[String, Any]]
    assert(schema("required") == List("query"))
    assert(schema("properties").asInstanceOf[Map[String, Any]]
      .keySet == Set("query", "index", "top_k", "filter", "hybrid"))
  }

  test("tools/call search returns reference-shaped markdown") {
    val resp = call("""{"jsonrpc":"2.0","id":3,"method":"tools/call",""" +
      """"params":{"name":"search","arguments":{"query":"columnar parquet","top_k":2}}}""")
    val res = resp("result").asInstanceOf[Map[String, Any]]
    assert(res("isError") == false)
    val text = res("content").asInstanceOf[List[Map[String, Any]]].head("text")
      .asInstanceOf[String]
    assert(text.startsWith("## Search Results for \"columnar parquet\""))
    assert(text.contains("Found 2 results in index 'notes'"))
    assert(text.contains("### Result 1 (score:"))
    assert(text.contains("**Source:** `"))
  }

  test("warm MCP server returns byte-identical search markdown (plain + hybrid)") {
    val hot = new McpServer(spark, warehouse, Some("notes"),
      new HashEmbedder(16), warm = true)
    def text(s: McpServer, args: String): String =
      Json.parseObject(s.handleLine(
          """{"jsonrpc":"2.0","id":9,"method":"tools/call",""" +
            s""""params":{"name":"search","arguments":$args}}""").get)("result")
        .asInstanceOf[Map[String, Any]]("content")
        .asInstanceOf[List[Map[String, Any]]].head("text").asInstanceOf[String]
    for (args <- Seq(
        """{"query":"columnar parquet","top_k":2}""",
        """{"query":"spark shuffle","top_k":3,"hybrid":true}""")) {
      assert(text(hot, args) == text(srv, args),
        s"warm MCP output diverged for $args")
    }
    // filtered requests are warm-served (in-process DSL evaluation
    // over the resident metadata) and still byte-identical
    for (fargs <- Seq(
        """{"query":"spark","top_k":3,"filter":"source^a"}""",
        """{"query":"spark","top_k":3,"hybrid":true,"filter":"source^a OR source^b"}""",
        """{"query":"fox","top_k":2,"filter":"chunk_type=simple"}"""))
      assert(text(hot, fargs) == text(srv, fargs),
        s"warm MCP filtered output diverged for $fargs")
  }

  test("warm MCP cache reloads an index that changed on disk (per-index staleness)") {
    val w = Files.createTempDirectory("graft-mcp-stale").toString
    Index.build(Seq(("delta document about streams", "d.md"))
      .toDF("text", "source"), s"$w/live", new HashEmbedder(16),
      strategy = "simple")
    val hot = new McpServer(spark, w, Some("live"), new HashEmbedder(16),
      warm = true)
    def text(args: String): String =
      Json.parseObject(hot.handleLine(
          """{"jsonrpc":"2.0","id":11,"method":"tools/call",""" +
            s""""params":{"name":"search","arguments":$args}}""").get)("result")
        .asInstanceOf[Map[String, Any]]("content")
        .asInstanceOf[List[Map[String, Any]]].head("text").asInstanceOf[String]
    val before = text("""{"query":"epsilon appended","top_k":3}""")
    assert(!before.contains("e.md"), before)
    Index.update(Seq(("epsilon appended passage", "e.md"))
      .toDF("text", "source"), Index.locate(w, "live").get,
      new HashEmbedder(16), strategy = "simple")
    val after = text("""{"query":"epsilon appended","top_k":3}""")
    assert(after.contains("e.md"),
      s"warm MCP cache served a stale snapshot after an on-disk update: $after")
  }

  test("search arguments go through the shared request parser") {
    def res(args: String): Map[String, Any] =
      call("""{"jsonrpc":"2.0","id":12,"method":"tools/call",""" +
        s""""params":{"name":"search","arguments":$args}}""")("result")
        .asInstanceOf[Map[String, Any]]
    def text(r: Map[String, Any]): String =
      r("content").asInstanceOf[List[Map[String, Any]]].head("text").asInstanceOf[String]
    for (bad <- Seq("""{"query":"spark","top_k":0}""", """{"query":"spark","top_k":"2"}""",
        """{"query":7}""")) {
      val r = res(bad)
      assert(r("isError") == true && text(r).startsWith("Search error:"), s"$bad -> $r")
    }
    // keys outside the tool schema never reach the parser: an HTTP-only
    // count of 0 is ignored, not refused, and the result is unchanged
    val plain = res("""{"query":"spark","top_k":2}""")
    val extra = res("""{"query":"spark","top_k":2,"rerank":0,"ann":true}""")
    assert(plain("isError") == false && text(extra) == text(plain))
  }

  test("tools/call search honors a metadata filter") {
    val resp = call("""{"jsonrpc":"2.0","id":4,"method":"tools/call",""" +
      """"params":{"name":"search","arguments":{"query":"spark","top_k":3,""" +
      """"filter":"source^a"}}}""")
    val text = resp("result").asInstanceOf[Map[String, Any]]("content")
      .asInstanceOf[List[Map[String, Any]]].head("text").asInstanceOf[String]
    assert(text.contains("`a.md"))
    assert(!text.contains("`b.md"))
  }

  test("tool errors come back as isError content, not protocol errors") {
    val resp = call("""{"jsonrpc":"2.0","id":5,"method":"tools/call",""" +
      """"params":{"name":"search","arguments":{"query":"x","index":"nope"}}}""")
    val res = resp("result").asInstanceOf[Map[String, Any]]
    assert(res("isError") == true)
    val text = res("content").asInstanceOf[List[Map[String, Any]]].head("text")
      .asInstanceOf[String]
    assert(text.startsWith("Search error:"))
  }

  test("tools/call list_indexes lists the warehouse") {
    val resp = call("""{"jsonrpc":"2.0","id":6,"method":"tools/call",""" +
      """"params":{"name":"list_indexes","arguments":{}}}""")
    val text = resp("result").asInstanceOf[Map[String, Any]]("content")
      .asInstanceOf[List[Map[String, Any]]].head("text").asInstanceOf[String]
    assert(text.contains("## Available Indexes") && text.contains("- notes"))
  }

  test("tools/call boundary drains the dedup deferred-release registry") {
    // Same contract as SearchServer: a long-lived MCP session must not
    // pin one tool call's corpus-scale cached intermediates into the
    // next — including when the tool itself errors.
    def seed(): Unit = {
      val docs = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd")).toDF("doc_id", "text")
      graft.operators.Dedup.minhashDedup(docs, "doc_id", "text", 3, 8, 2, 0.9).count()
      assert(graft.operators.Dedup.heldCount > 0, "seed should populate the registry")
    }
    seed()
    call("""{"jsonrpc":"2.0","id":20,"method":"tools/call",""" +
      """"params":{"name":"list_indexes","arguments":{}}}""")
    assert(graft.operators.Dedup.heldCount == 0,
      "a completed tools/call must drain the dedup cache registry")
    seed()
    call("""{"jsonrpc":"2.0","id":21,"method":"tools/call",""" +
      """"params":{"name":"search","arguments":{}}}""") // missing query -> tool error
    assert(graft.operators.Dedup.heldCount == 0,
      "the drain must run when the tool call errors too")
  }

  test("unknown method is a -32601 error; bad JSON is -32700") {
    val e1 = call("""{"jsonrpc":"2.0","id":7,"method":"prompts/list"}""")
    assert(e1("error").asInstanceOf[Map[String, Any]]("code") == -32601L)
    val e2 = call("""{nope""")
    assert(e2("error").asInstanceOf[Map[String, Any]]("code") == -32700L)
    assert(e2("id") == null)
  }

  test("end-to-end over streams: newline-delimited frames") {
    val in = new java.io.ByteArrayInputStream(
      ("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""" + "\n" +
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""" + "\n" +
        """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""" + "\n")
        .getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    srv.serve(in, out)
    val lines = out.toString("UTF-8").trim.split("\n")
    assert(lines.length == 2) // notification produced no frame
    assert(Json.parseObject(lines(0))("id") == 1L)
    assert(Json.parseObject(lines(1))("id") == 2L)
  }
}

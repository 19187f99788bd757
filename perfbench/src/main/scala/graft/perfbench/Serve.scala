package graft.perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.embedding.{EmbeddingProvider, HashEmbedder}
import graft.pipeline.Index
import graft.serve.{SearchServer, WarmIndex}

/** `serve`: one warm SearchServer over an index built at set-up, driven
  * by [[LoadGen]] in its own JVM. An iteration runs, over `seconds`:
  *
  *   1. open loop (60%): the seeded Poisson stream, latency from due time;
  *   2. closed loop (40%): `cpus` connections, back to back, in
  *      [[ClosedParts]] equal parts; the CPU cost per response is the
  *      median over the parts, counted on Java threads only, because the
  *      JIT compiler is still at work here and its bursts (0 to 0.45 s
  *      of compiling in 0.8 s) would set the figure;
  *
  * and in a traced run also
  *
  *   3. writes beside reads: the open loop continues while Index.update
  *      appends a batch to the served index in this JVM, until a second
  *      after the update commits; the server's fingerprint probe
  *      reloads its warm snapshot in that second.
  *
  * Phase 3 runs only when traced because the update and the post-update
  * answers would add a third to every run's time; its latency is a
  * per-layer figure. It runs in a run's last iteration only, so every
  * iteration starts from the served index's set-up state.
  *
  * Every response is checked against answers computed in-process by a
  * WarmIndex over the same index, and phase-3 responses also against
  * answers over the updated index. That WarmIndex is checked in turn
  * against Index.search on the generator's parity set: a request with
  * each repeated filter, and per query length a plain request and one
  * with a never-seen filter. A traced run finally runs the ingest path once
  * ([[IngestPass]]). */
final class ServeWorkload(spark: SparkSession, input: String, work: String, cpus: Int)
    extends Workload {
  private val provider: EmbeddingProvider = new HashEmbedder(64)
  private val pristine = s"$work/pristine"
  private val warehouse = s"$work/wh"
  private val served = s"$warehouse/main"
  private val open = s"$input/open.tsv"
  private val closed = s"$input/closed.tsv"
  private val warmup = s"$input/warmup.tsv"
  private val batchDocs = spark.read.parquet(s"$input/update.parquet").cache()
  private val UpdateAtMs = 200.0
  private val UpdateWindowMs = 1000.0
  private val ClosedParts = 8
  private val ingest = new IngestPass(spark, input, work)

  // body -> ranked "id|score" list, before and after the phase-3 update
  // (the warm-up iteration's own responses are not counted)
  private val expected = mutable.Map.empty[String, String]
  private val expectedAfter = mutable.Map.empty[String, String]
  private var parityChecked = 0
  private var parityFailed = 0
  private val loadS = mutable.ArrayBuffer.empty[Double]
  private var server: SearchServer = _
  private var loadgen: Process = _
  private var updated = false
  private var lgIn: PrintWriter = _
  private var lgOut: BufferedReader = _

  private def canon(rows: Seq[(String, Double, String, String)]): String =
    rows.map { case (id, score, _, _) => s"$id|$score" }.mkString(";")

  private def answer(wi: WarmIndex, r: Request): Seq[(String, Double, String, String)] =
    r.kind match {
      case "ann" => wi.searchAnn(r.query, 5, 4, 50, r.filter)
      case "hybrid" => wi.searchHybrid(r.query, 5, 0.7, Int.MaxValue, r.filter)
      case _ => wi.search(r.query, 5, Int.MaxValue, r.filter)
    }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def timedLoad(dir: String, tr: Tracer): WarmIndex = {
    val (wi, s) = Stats.time(tr.span("serve.WarmIndex.load")(WarmIndex.load(spark, dir, provider)))
    loadS += s
    wi
  }

  private def streams: Seq[IndexedSeq[Request]] = Seq(open, closed, warmup).map(Request.readAll)

  def setup(): Unit = {
    val corpus = spark.read.parquet(s"$input/corpus.parquet")
    Index.build(corpus, pristine, provider)
    Index.buildIvf(spark, pristine, 8)
    Index.buildPq(spark, pristine, 2, 16)
    Main.log("index built")
    val distinct = streams.flatten.groupBy(_.body).map(_._2.head).toSeq
    val ref = timedLoad(pristine, new Tracer(false))
    distinct.foreach(r => expected(r.body) = canon(answer(ref, r)))
    Main.log(s"expected answers for ${distinct.size} requests")
    // ServerSpec's parity: the warm answers equal Index.search rows.
    // The Spark-path reads run on `cpus` threads; each is a few jobs.
    val parity = Request.readAll(s"$input/parity.tsv")
    val pool = Executors.newFixedThreadPool(cpus)
    try {
      val reads = parity.map { r =>
        val call: Callable[String] = () => canon(Index.search(spark, pristine, r.query, provider,
          topK = 5, filterStr = r.filter).collect().map(x => (x.getString(0), x.getDouble(1), "", "")).toSeq)
        call
      }
      pool.invokeAll(reads.asJava).asScala.zip(parity).foreach { case (f, r) =>
        parityChecked += 1
        if (f.get != canon(answer(ref, r))) {
          parityFailed += 1
          Main.log(s"parity mismatch: ${r.body}")
        }
      }
    } finally pool.shutdown()
    Main.log(s"parity checked on ${parity.size} requests")
    copyTree(pristine, served)
    server = new SearchServer(spark, warehouse, "main", provider, port = 0, warm = true)
    server.start()
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    loadgen = new ProcessBuilder(java, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      "graft.perfbench.LoadGen", server.boundPort.toString, cpus.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    lgIn = new PrintWriter(loadgen.getOutputStream, true)
    lgOut = new BufferedReader(new InputStreamReader(loadgen.getInputStream, StandardCharsets.UTF_8))
    Main.log("server and load generator up")
    // warm-up iteration over its own stream, long enough for the JIT to
    // settle on the request path (shorter ones left phase 2's CPU cost
    // varying by a quarter between runs of one seed)
    iteration(warmup, warmup, 8.0, writes = false, new Tracer(false))
  }

  private final case class Resp(idx: Int, due: Double, sent: Double, done: Double,
                                status: Int, tier: String, canon: String)

  private def readResps(path: String): Seq[Resp] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      Resp(f(0).toInt, f(1).toDouble, f(2).toDouble, f(3).toDouble, f(4).toInt, f(5), f(6))
    }.toSeq

  /** Send a command to the load generator (fields tab-separated, so
    * paths may hold spaces); [[awaitDone]] returns its start (epoch ms). */
  private def command(fields: String*): Unit = lgIn.println(fields.mkString("\t"))
  private def awaitDone(): Long = {
    val l = lgOut.readLine()
    require(l != null && l.startsWith("done "), s"load generator failed: $l")
    l.stripPrefix("done ").toLong
  }

  /** One closed-loop part of phase 2: its responses and the CPU seconds
    * this JVM's Java threads spent while it ran. */
  private final case class Part(resps: Seq[Resp], cpuS: Double)

  private final case class Iter(p1: Seq[Resp], p2: Seq[Part], p3: Seq[Resp],
                                partMs: Double, heapMb: Double, commitMs: Double,
                                updateStartMs: Double,
                                reqs: Map[Int, Request], reqs2: Map[Int, Request],
                                failed: Int, attempted: Int)

  /** Run phases 1 and 2, and phase 3 when `writes`. */
  private def iteration(openFile: String, closedFile: String, seconds: Double,
                        writes: Boolean, tr: Tracer): Iter = {
    Main.resetCaches(spark)
    // phase 3 runs only in a run's last iteration, so every iteration
    // starts from the served index's set-up state
    require(!updated, "the served index was updated by an earlier iteration")
    val d1 = seconds * 600
    val d2 = seconds * 400
    val reqs = Request.readAll(openFile).map(r => r.idx -> r).toMap
    val reqs2 = Request.readAll(closedFile).map(r => r.idx -> r).toMap
    tr.span("serve.phase1") {
      command("open", openFile, "0", d1.toString, s"$work/p1.tsv")
      awaitDone()
    }
    val partMs = d2 / ClosedParts
    val p2 = tr.span("serve.phase2") {
      (0 until ClosedParts).map { k =>
        val out = s"$work/p2_$k.tsv"
        val cpu0 = Stats.threadCpu
        command("closed", closedFile, partMs.toString, out)
        awaitDone()
        val cpu = Stats.threadCpuSince(cpu0)
        val part = Part(readResps(out), cpu)
        Main.log(f"phase 2 part $k: ${part.resps.size} responses, $cpu%.3f thread cpu s")
        part
      }
    }
    // the traced heap is taken here, before phase 3's update and the
    // ingest pass, so it compares with the untraced heap on equal work
    val heapMb = if (writes) { Main.resetCaches(spark); Main.liveHeapMb() } else 0.0
    var updStart = 0L
    var commit = 0L
    var start3 = 0L
    if (writes) {
      updated = true
      start3 = tr.span("serve.phase3") {
        // the open loop runs until UpdateWindowMs after the update commits
        val stop = Paths.get(s"$work/p3.stop")
        command("open", openFile, d1.toString, Double.MaxValue.toString, s"$work/p3.tsv",
          stop.toString)
        Thread.sleep(UpdateAtMs.toLong)
        updStart = System.currentTimeMillis()
        tr.span("pipeline.Index.update")(Index.update(batchDocs, served, provider))
        commit = System.currentTimeMillis()
        Thread.sleep(UpdateWindowMs.toLong)
        Files.createFile(stop)
        awaitDone()
      }
      // answers over the updated index, for the requests that may see it
      val after = WarmIndex.load(spark, served, provider)
      Request.readAll(openFile).foreach(r =>
        expectedAfter.getOrElseUpdate(r.body, canon(answer(after, r))))
    }
    val p1 = readResps(s"$work/p1.tsv")
    val p3 = if (writes) readResps(s"$work/p3.tsv") else Nil
    val updateStartMs = (updStart - start3).toDouble
    val commitMs = (commit - start3).toDouble
    def ok(r: Resp, req: Request, allowAfter: Boolean): Boolean =
      r.status == 200 && (r.canon == expected(req.body) ||
        (allowAfter && expectedAfter.get(req.body).contains(r.canon)))
    val bad =
      p1.count(r => !ok(r, reqs(r.idx), allowAfter = false)) +
      p2.map(_.resps.count(r => !ok(r, reqs2(r.idx), allowAfter = false))).sum +
      p3.count(r => !ok(r, reqs(r.idx), allowAfter = r.done >= updateStartMs))
    Iter(p1, p2, p3, partMs, heapMb, commitMs, updateStartMs, reqs, reqs2, bad,
      p1.size + p2.map(_.resps.size).sum + p3.size)
  }

  def measure(seconds: Double, tr: Tracer): Measured = {
    tr.iter += 1
    val it = iteration(open, closed, seconds, writes = tr.enabled, tr)
    val lat1 = it.p1.map(r => r.done - r.due)
    // phase 2, per 100 responses: the median over the closed-loop parts
    val per100 = (x: Double, p: Part) => x * 100 / math.max(1, p.resps.count(_.status == 200))
    val e2e = Map(
      "pass_s" -> Stats.median(it.p2.map(p => per100(it.partMs / 1000.0, p))),
      "pass_cpu_s" -> Stats.median(it.p2.map(p => per100(p.cpuS, p))),
      "query_p50_ms" -> Stats.median(lat1),
      "query_p90_ms" -> Stats.pct(lat1, 0.9))
    if (!tr.enabled) Measured(e2e, Map.empty, it.attempted + parityChecked, it.failed + parityFailed)
    else {
      val serveLayers = layerValues(it, lat1, tr)
      val (ingestLayers, ingestAttempted, ingestFailed) = tr.span("ingest.pass")(ingest.run(tr))
      Measured(e2e + ("heap_live_mb" -> it.heapMb), serveLayers ++ ingestLayers,
        it.attempted + ingestAttempted, it.failed + ingestFailed)
    }
  }

  /** Per-layer values: the in-process costs of the same requests on a
    * freshly loaded WarmIndex, HTTP overhead, tier share, generator lag. */
  private def layerValues(it: Iter, lat1: Seq[Double], tr: Tracer): Map[String, Double] = {
    val ok2 = it.p2.map(_.resps.count(r =>
      r.status == 200 && r.canon == expected(it.reqs2(r.idx).body))).sum
    val after = it.p3.filter(r => r.due >= it.commitMs && r.due < it.commitMs + UpdateWindowMs)
      .map(r => r.done - r.due)
    val wi = timedLoad(served, tr)
    val template = Index.readMeta(served).queryPromptTemplate
    val inProc = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val perReq = it.p1.map { r =>
      val req = it.reqs(r.idx)
      val key = req.kind match {
        case "plain" => "serve.WarmIndex.search_ms"
        case "filtered" => "serve.WarmIndex.search_filtered_ms"
        case "hybrid" => "serve.WarmIndex.searchHybrid_ms"
        case _ => "serve.WarmIndex.searchAnn_ms"
      }
      val (_, s) = Stats.time(tr.span(key.stripSuffix("_ms"))(answer(wi, req)))
      inProc.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += s * 1000
      s * 1000
    }
    val embed = it.p1.map { r =>
      val q = it.reqs(r.idx).query
      Stats.time(tr.span("embedding.HashEmbedder.embedWithTemplate")(
        provider.embedWithTemplate(Seq(q), template)))._2 * 1000
    }
    val fps = (0 until 200).map(_ =>
      Stats.time(tr.span("serve.WarmIndex.fingerprint")(WarmIndex.fingerprint(served)))._2 * 1000)
    val all = it.p1 ++ it.p2.flatMap(_.resps) ++ it.p3
    val ok200 = all.filter(_.status == 200)
    val late = it.p1.map(r => r.sent - r.due)
    inProc.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ Map(
      "search_p50_ms" -> Stats.median(lat1),
      "search_p99_ms" -> Stats.pct(lat1, 0.99),
      "search_qps" -> ok2 / (it.partMs * it.p2.size / 1000.0),
      "search_p99_update_ms" -> Stats.pct(after, 0.99),
      "serve.WarmIndex.fingerprint_ms" -> Stats.median(fps),
      "serve.WarmIndex.load_s" -> Stats.median(loadS.toSeq),
      "embedding.HashEmbedder.embedWithTemplate_ms" -> Stats.median(embed),
      "serve.SearchServer.http_overhead_ms" ->
        (Stats.median(it.p1.map(r => r.done - r.sent)) - Stats.median(perReq)),
      "serve.warm_share" -> ok200.count(_.tier == "warm").toDouble / math.max(1, ok200.size),
      "loadgen.late_ms" -> Stats.pct(late, 0.99))
  }

  override def checks: Map[String, String] =
    Map("index_dirs" -> (pristine +: ingest.dirs.toSeq).mkString(","))

  override def close(): Unit = {
    if (loadgen != null) {
      command("quit")
      if (!loadgen.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
        loadgen.destroyForcibly()
        loadgen.waitFor()
      }
    }
    if (server != null) server.stop()
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload produced. `e2e` holds the
  * end-to-end metrics every workload reports (plus `query_p50_ms` and
  * `query_p90_ms`, which are per-layer, and, from a traced phase that
  * does work its untraced phase does not, `heap_live_mb` taken before
  * that work); `layers` the per-layer values that only a traced phase
  * fills in. */
final case class Measured(e2e: Map[String, Double], layers: Map[String, Double],
                          attempted: Int, failed: Int)

/** A workload: `setup` builds its fixtures and runs one untimed
  * warm-up iteration; `measure` runs timed iterations for `seconds`. */
trait Workload {
  def setup(): Unit
  def measure(seconds: Double, tr: Tracer): Measured
  /** Outputs run.py checks after the JVM exits, as name -> paths. */
  def checks: Map[String, String] = Map.empty
  def close(): Unit = ()
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM (driver and local executors) has used. Unlike
    * wall time it leaves out the time the host did not run us. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU nanoseconds of each live Java thread. GC and JIT compiler
    * threads are not Java threads, so they are not counted. */
  def threadCpu: Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  /** CPU seconds the live Java threads spent since `before`; a thread
    * started since counts from zero. */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}

/** Benchmark JVM entry point; `run.py` launches it. Arguments:
  * `<workload> <inputDir> <workDir> <seconds> <trace 0|1> <cpus> <resultFile>`. */
object Main {
  /** Iteration boundary: drop cached frames and held dedup caches, as
    * graft.Bench does between queries and the server does per request. */
  def resetCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.Dedup.releaseCaches()
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1fs $msg")

  /** Used heap after full GCs, repeated until the figure settles (weak
    * references cleared by one collection are freed by the next). */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { mem.gc(); Thread.sleep(50); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = collect()
    var n = 2
    while (n < 6 && math.abs(cur - prev) > 0.5) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secondsS, traceS, cpusS, resultFile) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "analytics" => new AnalyticsWorkload(spark, input, work)
      case "serve" => new ServeWorkload(spark, input, work, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      log("session ready")
      w.setup()
      resetCaches(spark)
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
      log("set-up done")
      val untraced = w.measure(seconds, new Tracer(false))
      log("measured")
      resetCaches(spark)
      val heap = liveHeapMb()
      val metrics = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS, "heap_live_mb" -> heap)
      metrics ++= untraced.e2e
      var attempted = untraced.attempted
      var failed = untraced.failed
      if (trace) {
        val listener = new WorkListener
        spark.sparkContext.addSparkListener(listener)
        val tr = new Tracer(true)
        val traced = w.measure(seconds, tr)
        resetCaches(spark)
        // a workload whose traced phase does extra work takes its heap
        // before that work
        val tracedHeap = traced.e2e.getOrElse("heap_live_mb", liveHeapMb())
        listener.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        attempted += traced.attempted
        failed += traced.failed
        metrics ++= layerMetrics(tr, listener, traced.layers)
        metrics("util.DfCache.heldCount") = graft.util.DfCache.heldCount.toDouble
        val tracedE2e = traced.e2e + ("heap_live_mb" -> tracedHeap)
        metrics("query_p50_ms") = traced.e2e("query_p50_ms")
        metrics("query_p90_ms") = traced.e2e("query_p90_ms")
        for (k <- Seq("heap_live_mb", "pass_s", "pass_cpu_s", "query_p50_ms")) {
          val base = if (k == "heap_live_mb") heap else untraced.e2e(k)
          metrics(s"trace.overhead.$k") = if (base > 0) tracedE2e(k) / base - 1.0 else 0.0
        }
        writeTrace(s"$work/trace.jsonl", tr)
      }
      val json = new StringBuilder("{\"metrics\":{")
      json ++= metrics.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
      json ++= s"""},"attempted":$attempted,"failed":$failed,"checks":{"""
      json ++= w.checks.map { case (k, v) => s""""$k":"${esc(v)}"""" }.mkString(",")
      json ++= "}}"
      Files.write(Paths.get(resultFile), json.toString.getBytes(StandardCharsets.UTF_8))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** The per-layer metrics of a traced phase: five values per Spark span
    * name (summed over the phase's iterations, then divided by their
    * count), plus the workload's own layer values. */
  private def layerMetrics(tr: Tracer, listener: WorkListener,
                           layers: Map[String, Double]): Map[String, Double] = {
    val spans = tr.spans
    val work = listener.attribute(spans)
    val iters = math.max(1, spans.map(_.iter).distinct.size)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (name <- SparkSpans.names) {
      val mine = spans.filter(_.name == name)
      val ws = mine.flatMap(s => work.get(s.id))
      out(s"$name.wall_s") = mine.map(_.wallS).sum / iters
      out(s"$name.jobs") = ws.map(_.jobs).sum.toDouble / iters
      out(s"$name.task_busy_s") = ws.map(_.taskBusyMs).sum / 1000.0 / iters
      out(s"$name.sched_wait_s") = ws.map(_.schedWaitMs).sum / 1000.0 / iters
      out(s"$name.shuffle_mb") = ws.map(_.shuffleWriteBytes).sum / 1048576.0 / iters
    }
    out("spark.spill_mb") = listener.spillBytes / 1048576.0
    out("spark.failed_tasks") = listener.failedTasks.toDouble
    out ++= layers
    out.toMap
  }

  private def writeTrace(path: String, tr: Tracer): Unit = {
    val self = tr.selfTimes
    val lines = tr.spans.map { s =>
      s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},"iter":${s.iter},""" +
        s""""start_ms":${s.startMs},"wall_s":${num(s.wallS)},"self_s":${num(self(s.id))}}"""
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c => c.toString
  }
}

/** The Spark spans every traced run reports, whichever workload ran;
  * a workload that does not call a layer reports zeros for it. */
object SparkSpans {
  val ingest: Seq[String] = Seq(
    "pipeline.Index.build", "pipeline.Index.chunkDocs", "pipeline.Index.embedChunks",
    "pipeline.Index.buildBm25Stats", "pipeline.Index.buildIvf", "pipeline.Index.buildPq",
    "pipeline.Index.update", "pipeline.Index.search", "pipeline.Index.searchAnn")
  val analytics: Seq[String] = Seq(
    "operators.Dedup.jaccardPairs", "operators.Dedup.containmentPairs",
    "operators.Dedup.minhashDedup", "operators.Dedup.winnowPairs",
    "operators.Graph.pageRankWatched",
    "operators.Cluster.kmeansAssignWatched", "operators.Graph.kCore")
  val names: Seq[String] = ingest ++ analytics
}

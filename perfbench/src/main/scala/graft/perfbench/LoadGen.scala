package graft.perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** The `serve` load generator: a separate JVM with at most `conns`
  * worker threads, hence at most `conns` open connections. The
  * benchmark JVM drives it over stdin, one command a line, fields
  * separated by tabs:
  *
  *   open <requests.tsv> <fromMs> <toMs> <out.tsv> [<stopFile>]
  *       open loop: each request whose due time lies in [fromMs, toMs)
  *       is handed to a worker at its due time (re-based to the
  *       command's start), whether or not earlier ones completed; it
  *       stops early once `stopFile` exists;
  *   closed <requests.tsv> <durationMs> <out.tsv>
  *       closed loop: each worker sends the next request of the stream
  *       as soon as its previous one completes, for durationMs;
  *   quit
  *
  * and it answers `done <epochMs of the command's start>` when all
  * responses are in. Each response becomes one line of out.tsv:
  * request index, due, send and done times (ms from the start), HTTP
  * status, tier, and the ranked `id|score` list. */
object LoadGen {
  private val IdScore = "\"id\":\"((?:[^\"\\\\]|\\\\.)*)\",\"score\":([^,]+),".r
  private val Tier = "\"tier\":\"(\\w+)\"".r

  def canon(body: String): String =
    IdScore.findAllMatchIn(body).map(m => s"${m.group(1)}|${m.group(2)}").mkString(";")

  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val conns = args(1).toInt
    val url = URI.create(s"http://127.0.0.1:$port/search")
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    val out = new PrintWriter(System.out, true)

    def send(r: Request): (Int, String) = {
      val req = HttpRequest.newBuilder(url)
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      try {
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }
    }

    def line(r: Request, due: Double, sent: Long, done: Long, t0: Long,
             status: Int, body: String): String = {
      val tier = Tier.findFirstMatchIn(body).map(_.group(1)).getOrElse("-")
      f"${r.idx}\t$due%.3f\t${(sent - t0) / 1e6}%.3f\t${(done - t0) / 1e6}%.3f\t$status\t$tier\t${canon(body)}"
    }

    var running = true
    while (running) {
      val cmd = Option(in.readLine()).map(_.split("\t")).getOrElse(Array("quit"))
      cmd(0) match {
        case "open" =>
          val reqs = Request.readAll(cmd(1))
          val from = cmd(2).toDouble
          val to = cmd(3).toDouble
          val stop = cmd.lift(5).map(Paths.get(_))
          val mine = reqs.filter(r => r.dueMs >= from && r.dueMs < to)
          val lines = new Array[String](mine.length)
          val pool = Executors.newFixedThreadPool(conns)
          val epoch = System.currentTimeMillis()
          val t0 = System.nanoTime()
          mine.indices.iterator.takeWhile(_ => !stop.exists(Files.exists(_))).foreach { i =>
            val r = mine(i)
            val due = r.dueMs - from
            val at = t0 + (due * 1e6).toLong
            var now = System.nanoTime()
            while (now < at) { LockSupport.parkNanos(at - now); now = System.nanoTime() }
            pool.execute { () =>
              val sent = System.nanoTime()
              val (status, body) = send(r)
              lines(i) = line(r, due, sent, System.nanoTime(), t0, status, body)
            }
          }
          pool.shutdown()
          pool.awaitTermination(120, TimeUnit.SECONDS)
          Files.write(Paths.get(cmd(4)),
            (lines.filter(_ != null).mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
          out.println(s"done $epoch")
        case "closed" =>
          val reqs = Request.readAll(cmd(1))
          val durNs = (cmd(2).toDouble * 1e6).toLong
          val next = new AtomicInteger(0)
          val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
          val pool = Executors.newFixedThreadPool(conns)
          val epoch = System.currentTimeMillis()
          val t0 = System.nanoTime()
          (0 until conns).foreach { _ =>
            pool.execute { () =>
              while (System.nanoTime() - t0 < durNs) {
                val r = reqs(next.getAndIncrement() % reqs.length)
                val sent = System.nanoTime()
                val (status, body) = send(r)
                lines.add(line(r, (sent - t0) / 1e6, sent, System.nanoTime(), t0, status, body))
              }
            }
          }
          pool.shutdown()
          pool.awaitTermination(120, TimeUnit.SECONDS)
          Files.write(Paths.get(cmd(3)),
            (lines.toArray.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
          out.println(s"done $epoch")
        case _ =>
          running = false
      }
    }
  }
}

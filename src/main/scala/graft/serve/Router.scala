package graft.serve

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.embedding.EmbeddingProvider
import graft.pipeline.Index

/** One search request, parsed once from a JSON object — the HTTP body,
  * or an MCP `search` call's `arguments` restricted to the keys its tool
  * schema declares. `hybrid_alpha` is the reference's field name
  * (`src/cli/serve.rs:232-233`); `alpha` is accepted as an alias, with
  * `hybrid_alpha` winning when both are present. `index` names the
  * index for front ends that serve more than one. */
private[serve] final case class SearchRequest(
    query: String, index: Option[String], topK: Int, filter: Option[String],
    hybrid: Boolean, alpha: Double, ann: Boolean,
    nprobe: Option[Int], rerank: Option[Int])

private[serve] object SearchRequest {

  /** Left(message) for a request error: a missing or mistyped field, a
    * count below 1, or `ann` with `hybrid`. A JSON null reads as absent. */
  def parse(fields: Map[String, Any]): Either[String, SearchRequest] = {
    def field[T](k: String, what: String)(pick: PartialFunction[Any, T]): Option[T] =
      fields.get(k).filter(_ != null).map(v => pick.applyOrElse(v, (_: Any) =>
        throw new IllegalArgumentException(s"$k must be $what")))
    def count(k: String): Option[Int] = field(k, "an integer >= 1") {
      case n: Long if n >= 1 => math.min(n, Int.MaxValue.toLong).toInt
      case d: Double if d >= 1 && d.isWhole => math.min(d, Int.MaxValue.toDouble).toInt
    }
    def str(k: String) = field(k, "a string") { case s: String => s }
    def bool(k: String) = field(k, "a boolean") { case b: Boolean => b }
    def num(k: String) = field(k, "a number") { case n: Long => n.toDouble; case d: Double => d }
    try {
      val req = SearchRequest(
        str("query").getOrElse(throw new IllegalArgumentException("missing query")),
        str("index"), count("top_k").getOrElse(5), str("filter"),
        bool("hybrid").getOrElse(false),
        num("hybrid_alpha").orElse(num("alpha")).getOrElse(0.7),
        bool("ann").getOrElse(false), count("nprobe"), count("rerank"))
      // ANN has no hybrid arm on either tier: the combination is a
      // request error, not a silent drop of one flag
      if (req.ann && req.hybrid) Left("ann has no hybrid tier") else Right(req)
    } catch { case e: IllegalArgumentException => Left(e.getMessage) }
  }
}

/** The serving decision shared by [[SearchServer]] and [[McpServer]]:
  * which warm snapshot is current for an index directory, and whether a
  * request runs on it or on the Spark path.
  *
  * Staleness contract: a [[WarmIndex]] is an immutable snapshot, but the
  * index DIRECTORY can move under a long-lived server (`Cli update`:
  * Index.update, then maintainAnnTiers). Every request probes the directory fingerprint (a stat
  * walk, microseconds) and RELOADS on drift. A failed load (over the RAM
  * budget, no persisted embeddings, a table mid-write) is cached against
  * its fingerprint — that request and later ones with the same
  * fingerprint go to the Spark path, loud on stderr, never stale — and
  * retried on the next drift, so an index that heals returns to the warm
  * tier. With `warm` off every request goes to the Spark path. */
private[serve] final class Router(spark: SparkSession, provider: EmbeddingProvider,
                                  warm: Boolean) {

  private val snapshots = new ConcurrentHashMap[String, (Long, Option[WarmIndex])]()

  /** Load `dir` now and let a failure propagate: a front end that serves
    * one fixed index fails at construction, not at the first request. */
  def preload(dir: String): Unit = {
    val wi = WarmIndex.load(spark, dir, provider)
    snapshots.put(dir, (wi.fingerprint, Some(wi)))
  }

  private def snapshot(dir: String): Option[WarmIndex] = if (!warm) None else {
    val fp = WarmIndex.fingerprint(dir)
    val hit = snapshots.get(dir)
    if (hit != null && hit._1 == fp) hit._2
    else synchronized {
      // re-check under the lock: another request may have reloaded
      val cur = snapshots.get(dir)
      if (cur != null && cur._1 == fp) cur._2
      else {
        if (cur != null) WarmIndex.log(dir, "changed on disk, reloading")
        val loaded =
          try Some(WarmIndex.load(spark, dir, provider))
          catch { case NonFatal(e) =>
            WarmIndex.log(dir, s"stays on the Spark path: ${e.getMessage}")
            None
          }
        snapshots.put(dir, (fp, loaded))
        loaded
      }
    }
  }

  /** Ranked (id, score, text, source) rows and the tier that served
    * them, "warm" or "spark". Plain, filtered and hybrid requests run
    * warm when resident (hybrid needs the bm25 tables), ANN when the PQ
    * tier is; the results equal the Spark path's (ServerSpec). */
  def search(dir: String, r: SearchRequest): (Seq[(String, Double, String, String)], String) = {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(x => (x.getString(0), x.getDouble(1), x.getString(2), x.getString(3)))
    val nprobeAnn = r.nprobe.getOrElse(4)
    val rerank = r.rerank.getOrElse(50)
    snapshot(dir) match {
      case Some(wi) if r.ann && wi.hasPq =>
        (wi.searchAnn(r.query, r.topK, nprobeAnn, rerank, r.filter), "warm")
      case _ if r.ann =>
        (rows(Index.searchAnn(spark, dir, r.query, provider, topK = r.topK,
          nprobe = nprobeAnn, rerank = rerank, filterStr = r.filter)), "spark")
      case Some(wi) if !r.hybrid || wi.hasBm25 =>
        val nprobe = r.nprobe.getOrElse(Int.MaxValue)
        (if (r.hybrid) wi.searchHybrid(r.query, r.topK, r.alpha, nprobe, r.filter)
          else wi.search(r.query, r.topK, nprobe, r.filter), "warm")
      case _ =>
        (rows(Index.search(spark, dir, r.query, provider, topK = r.topK,
          filterStr = r.filter, hybrid = r.hybrid, alpha = r.alpha)), "spark")
    }
  }
}

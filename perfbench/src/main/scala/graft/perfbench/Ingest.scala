package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.embedding.HashEmbedder
import graft.filter.MetadataFilterDsl
import graft.pipeline.Index

/** One read of the `ingest` client or one `serve` request, as the
  * generator wrote it: `kind` is plain, filtered, hybrid or ann. */
final case class Request(idx: Int, dueMs: Double, kind: String, query: String,
                         filter: Option[String], body: String)

object Request {
  def readAll(path: String): IndexedSeq[Request] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().map { line =>
      val f = line.split("\t", -1)
      Request(f(0).toInt, f(1).toDouble, f(2), f(3), Option(f(4)).filter(_.nonEmpty), f(5))
    }.toIndexedSeq
}

/** The ingest path, run once in a traced `serve` run: build into a
  * fresh directory, IVF + PQ, update with a batch that re-delivers part
  * of the corpus, then one client reading the updated index on the
  * Spark path. build's stages are also timed as separate calls, each
  * forced inside its span, so their sum can be set against build. */
final class IngestPass(spark: SparkSession, input: String, work: String) {
  private val provider = new HashEmbedder(64)
  private val IvfClusters = 8
  private val PqM = 2
  private val PqK = 16
  val dirs = mutable.ArrayBuffer.empty[String]

  /** Returns (layer values, operations attempted, operations failed). */
  def run(tr: Tracer): (Map[String, Double], Int, Int) = {
    val corpus = spark.read.parquet(s"$input/corpus.parquet")
    val batch = spark.read.parquet(s"$input/ingest_update.parquet")
    val reads = Request.readAll(s"$input/reads.tsv")
    val nDocs = corpus.count()
    val nBatch = batch.count()
    val dir = s"$work/ingest_${dirs.size}"
    dirs += dir
    var failed = 0
    Main.resetCaches(spark)
    val (_, build) = Stats.time(tr.span("pipeline.Index.build")(Index.build(corpus, dir, provider)))
    val (_, ivf) = Stats.time(tr.span("pipeline.Index.buildIvf")(Index.buildIvf(spark, dir, IvfClusters)))
    val (_, pq) = Stats.time(tr.span("pipeline.Index.buildPq")(Index.buildPq(spark, dir, PqM, PqK)))
    val (_, update) = Stats.time(tr.span("pipeline.Index.update")(Index.update(batch, dir, provider)))
    val lat = reads.map { r =>
      val (rows, s) = Stats.time {
        if (r.kind == "ann")
          tr.span("pipeline.Index.searchAnn")(Index.searchAnn(spark, dir, r.query, provider,
            topK = 5).collect())
        else
          tr.span("pipeline.Index.search")(Index.search(spark, dir, r.query, provider,
            topK = 5, filterStr = r.filter, hybrid = r.kind == "hybrid").collect())
      }
      if (!readOk(dir, r, rows.map(x => (x.getString(0), x.getDouble(1))).toSeq)) failed += 1
      s * 1000
    }
    Main.resetCaches(spark)
    val (_, parts) = Stats.time {
      tr.span("pipeline.Index.build.parts") {
        val chunks = tr.span("pipeline.Index.chunkDocs") {
          val c = Index.chunkDocs(corpus, "text", "source").persist()
          c.count()
          c
        }
        tr.span("pipeline.Index.embedChunks")(Index.embedChunks(chunks, provider).count())
        tr.span("pipeline.Index.buildBm25Stats")(
          Index.buildBm25Stats(spark, s"$dir.parts", Some(chunks.toDF())))
        chunks.unpersist()
      }
    }
    val layers = Map(
      "build_docs_per_s" -> nDocs / build,
      "ann_build_s" -> (ivf + pq),
      "update_docs_per_s" -> nBatch / update,
      "spark_search_p50_ms" -> Stats.median(lat),
      "spark_search_p90_ms" -> Stats.pct(lat, 0.9),
      "pipeline.Index.build.parts_over_build" -> parts / build)
    (layers, 4 + reads.size, failed)
  }

  /** A read is correct when it returns 1..5 rows in (score desc, id asc)
    * order and a filtered read returns only passages the filter admits. */
  private def readOk(dir: String, r: Request, rows: Seq[(String, Double)]): Boolean = {
    val ordered = rows.zip(rows.drop(1)).forall { case ((ia, a), (ib, b)) =>
      a > b || (a == b && ia < ib)
    }
    val admitted = r.filter.forall { f =>
      val flat = spark.read.parquet(s"$dir/passages").select(col("id"), col("metadata.*"))
      val ok = flat.filter(MetadataFilterDsl.toColumn(f, flat).get).select("id")
        .collect().map(_.getString(0)).toSet
      rows.forall(x => ok.contains(x._1))
    }
    rows.nonEmpty && rows.size <= 5 && ordered && admitted
  }
}

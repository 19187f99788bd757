package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, desc}

import graft.{EntryFixtures, SparkEntry, Tables}
import graft.operators.{Cluster, Dedup, Graph}

/** `analytics`: seven SparkEntry rows as separate jobs. Each row is the
  * operator call with the row's exact arguments followed by the row's
  * ordering and limit, so the row's DuckDB oracle checks the output and
  * the loop operators' round counts stay visible. */
final class AnalyticsWorkload(spark: SparkSession, input: String, work: String)
    extends Workload {

  private final case class Row(name: String, span: String, loop: Boolean,
                               run: () => (DataFrame, Int))

  private def docs = Tables.documents(spark, input)
  private def edges = EntryFixtures.relEdges(spark, input)

  private val rows: Seq[Row] = Seq(
    Row("dedup_jaccard", "operators.Dedup.jaccardPairs", loop = false, () =>
      (Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJ = 0.5, maxShingleDf = 20)
        .orderBy("id_a", "id_b"), 0)),
    Row("dedup_containment", "operators.Dedup.containmentPairs", loop = false, () =>
      (Dedup.containmentPairs(docs, "doc_id", "text", n = 3, minC = 0.8, maxShingleDf = 20)
        .orderBy("id_a", "id_b"), 0)),
    Row("dedup_minhash", "operators.Dedup.minhashDedup", loop = false, () =>
      (Dedup.minhashDedup(docs, "doc_id", "text", n = 3, numHashes = 8, bandSize = 2, minJ = 0.3)
        .orderBy("id_a", "id_b"), 0)),
    Row("dedup_winnow", "operators.Dedup.winnowPairs", loop = false, () =>
      (Dedup.winnowPairs(docs, "doc_id", "text", k = 3, w = 4, minShared = 2, maxFpDf = 20)
        .orderBy(desc("shared"), col("id_a"), col("id_b")).limit(100), 0)),
    Row("graph_pagerank_watched", "operators.Graph.pageRankWatched", loop = true, () => {
      val (df, rounds) = Graph.pageRankWatched(edges, damping = 0.5, maxIters = 10,
        tol = 0.0, quantBits = 26)
      (df.orderBy("id"), rounds)
    }),
    Row("cluster_kmeans_watched", "operators.Cluster.kmeansAssignWatched", loop = true, () => {
      val (df, rounds) = Cluster.kmeansAssignWatched(Tables.embeddings(spark, input),
        "vec_id", "embedding", k = 4, maxIters = 25, tol = 0.0)
      (df.orderBy("id"), rounds)
    }),
    Row("graph_kcore", "operators.Graph.kCore", loop = true, () => {
      val (df, rounds) = Graph.kCore(edges.filter((col("src") + col("dst")) % 4 === 0),
        k = 3, maxIters = 8)
      (df.orderBy("id"), rounds)
    }))

  require(rows.forall(r => SparkEntry.queries.contains(r.name) && SparkEntry.oracleSql.contains(r.name)),
    "a benchmarked row is missing from SparkEntry")

  /** Row counts of the checked outputs: every timed job must match. */
  private val expectedCount = mutable.Map.empty[String, Long]

  def setup(): Unit = {
    // the graph_build_rel fixture, persisted under this run's tmpdir
    EntryFixtures.buildRelEdges(spark, input).count()
    // warm-up pass; its outputs are the ones checked against the oracles
    rows.foreach { r =>
      Main.resetCaches(spark)
      val out = s"$work/out/${r.name}"
      r.run()._1.coalesce(1).write.parquet(out)
      expectedCount(r.name) = spark.read.parquet(out).count()
    }
    val sql = rows.map(r => s""""${r.name}":"${Main.esc(SparkEntry.oracleSql(r.name))}"""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      sql.mkString("{", ",", "}").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def measure(seconds: Double, tr: Tracer): Measured = {
    val passes = mutable.ArrayBuffer.empty[(Double, Map[String, (Double, Int)])]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes until `seconds` have elapsed
    while (elapsed < seconds) {
      tr.iter += 1
      val cpu0 = Stats.cpuS
      val (times, wall) = Stats.time {
        tr.span("analytics.pass") {
          rows.map { r =>
            Main.resetCaches(spark)
            val ((n, rounds), s) = Stats.time(tr.span(r.span) {
              val (df, rounds) = r.run()
              (df.count(), rounds)
            })
            attempted += 1
            if (n != expectedCount(r.name)) failed += 1
            Main.log(f"${r.name} $s%.2fs rounds=$rounds")
            r.name -> (s, rounds)
          }.toMap
        }
      }
      passCpu += Stats.cpuS - cpu0
      passes += ((wall, times))
    }
    val jobsMs = passes.flatMap(_._2.values.map(_._1 * 1000)).toSeq
    def family(loop: Boolean): Double =
      Stats.median(passes.map(p => rows.filter(_.loop == loop).map(r => p._2(r.name)._1).sum).toSeq)
    val e2e = Map(
      "pass_s" -> Stats.median(passes.map(_._1).toSeq),
      "pass_cpu_s" -> Stats.median(passCpu.toSeq),
      "query_p50_ms" -> Stats.median(jobsMs),
      "query_p90_ms" -> Stats.pct(jobsMs, 0.9))
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val loops = rows.filter(_.loop).flatMap { r =>
          val rounds = Stats.median(passes.map(_._2(r.name)._2.toDouble).toSeq)
          val wall = Stats.median(passes.map(_._2(r.name)._1).toSeq)
          Seq(s"${r.span}.rounds" -> rounds,
            s"${r.span}.s_per_round" -> (if (rounds > 0) wall / rounds else 0.0))
        }
        (loops ++ Seq("dedup_s" -> family(false), "loops_s" -> family(true))).toMap
      }
    Measured(e2e, layers, attempted, failed)
  }

  override def checks: Map[String, String] =
    Map("outputs" -> s"$work/out", "rows" -> rows.map(_.name).mkString(","))
}

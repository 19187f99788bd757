package graft

import graft.operators.{Graph, Stop}

/** `analyze`'s flag table: every flag an op would silently ignore is
  * refused with a message, and every combination the end-to-end drive
  * passes is accepted. */
class CliAnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def flagError(args: String*): Option[String] = {
    val (_, flags) = Cli.parse(args)
    Cli.analyzeFlagError(flags("op"), flags)
  }

  test("every ignored flag is refused with its message") {
    val refused = Seq(
      Seq("--op", "kmeans", "--k", "3") -> "--k sets the kNN-graph degree",
      Seq("--op", "kmeans", "--init", "p", "--clusters", "4") ->
        "--clusters is ignored by --op kmeans with --init",
      Seq("--op", "kmeans", "--init", "p", "--clusters", "4", "--tol", "0") ->
        "--clusters is ignored by --op kmeans with --init",
      Seq("--op", "knn", "--edges", "e") -> "--edges applies to",
      Seq("--op", "kmeans", "--edges", "e") -> "--edges applies to",
      Seq("--op", "pca", "--edges", "e") -> "--edges applies to",
      Seq("--op", "triangles", "--init", "p") -> "--init applies to",
      Seq("--op", "kcore", "--init", "p") -> "--init applies to",
      Seq("--op", "pca", "--init", "p") -> "--init applies to",
      Seq("--op", "ppr", "--weighted") -> "--weighted applies to",
      Seq("--op", "spread", "--weighted") -> "--weighted applies to",
      Seq("--op", "kmeans", "--weighted") -> "--weighted applies to",
      Seq("--op", "triangles", "--tol", "0") -> "--tol applies to",
      Seq("--op", "kcore", "--tol", "0") -> "--tol applies to",
      Seq("--op", "components", "--tol", "0") -> "--tol applies to",
      Seq("--op", "degrees", "--tol", "0") -> "--tol applies to",
      Seq("--op", "modularity", "--tol", "0") -> "--tol applies to",
      Seq("--op", "knn", "--tol", "0") -> "--tol applies to",
      Seq("--op", "pca", "--tol", "0") -> "--tol applies to",
      Seq("--op", "triangles", "--iters", "3") -> "--iters applies to",
      Seq("--op", "components", "--iters", "3") -> "--iters applies to",
      Seq("--op", "degrees", "--iters", "3") -> "--iters applies to",
      Seq("--op", "modularity", "--iters", "3") -> "--iters applies to",
      Seq("--op", "knn", "--iters", "3") -> "--iters applies to",
      Seq("--op", "pca", "--iters", "3") -> "--iters applies to",
      Seq("--op", "pagerank", "--seeds", "s") -> "--seeds applies to",
      Seq("--op", "communities", "--seeds", "s") -> "--seeds applies to",
      Seq("--op", "communities", "--labels", "l") -> "--labels applies to",
      Seq("--op", "components", "--min-degree", "3") -> "--min-degree applies to",
      Seq("--op", "degrees", "--max-degree", "4") -> "--max-degree applies to",
      Seq("--op", "kcore", "--max-degree", "4") -> "--max-degree applies to",
      Seq("--op", "pca", "--clusters", "4") -> "--clusters applies to",
      Seq("--op", "pagerank", "--edges", "e", "--k", "3") -> "--k configures the kNN build",
      Seq("--op", "triangles", "--edges", "e", "--lsh") -> "--lsh configures the kNN build",
      Seq("--op", "kcore", "--edges", "e", "--bits", "12") -> "--bits configures the kNN build",
      Seq("--op", "ppr", "--edges", "e", "--tables", "2") -> "--tables configures the kNN build",
      Seq("--op", "communities", "--edges", "e", "--block-col", "c") ->
        "--block-col configures the kNN build")
    for ((args, msg) <- refused) {
      val err = flagError(args: _*)
      assert(err.exists(_.startsWith(msg)), s"${args.mkString(" ")}: $err")
      assert(err.exists(e => e.contains(args(1))), s"message must name the op: $err")
    }
    assert(flagError("--op", "ppr", "--weighted").contains(
      "--weighted applies to --op communities|pagerank, not --op ppr"))
  }

  test("every combination the end-to-end drive passes is accepted") {
    val accepted = Seq(
      Seq("--embeddings", "e", "--out", "o", "--op", "pagerank", "--k", "3"),
      Seq("--embeddings", "e", "--out", "o", "--op", "pca"),
      Seq("--embeddings", "e", "--out", "o", "--op", "knn", "--k", "3"),
      Seq("--edges", "g", "--out", "o", "--op", "pagerank"),
      Seq("--edges", "g", "--out", "o", "--op", "pagerank", "--tol", "0.0", "--iters", "60"),
      Seq("--embeddings", "e", "--out", "o", "--op", "pagerank", "--k", "3", "--survivors-of", "s"),
      Seq("--edges", "g", "--out", "o", "--op", "pagerank", "--survivors-of", "s"),
      Seq("--embeddings", "e", "--out", "o", "--op", "knn", "--k", "3", "--lsh", "--bits", "auto"),
      Seq("--edges", "g", "--out", "o", "--op", "pagerank", "--tol", "1e-6", "--iters", "60",
        "--init", "p"),
      Seq("--embeddings", "e", "--out", "o", "--op", "knn", "--k", "1"),
      Seq("--edges", "g", "--out", "o", "--op", "ppr", "--seeds", "s"),
      Seq("--edges", "g", "--out", "o", "--op", "ppr", "--seeds", "s", "--tol", "1e-6",
        "--iters", "60"),
      Seq("--edges", "g", "--out", "o", "--op", "ppr", "--seeds", "s", "--tol", "1e-6",
        "--iters", "60", "--init", "p"),
      Seq("--edges", "g", "--out", "o", "--op", "triangles", "--max-degree", "4"),
      Seq("--edges", "g", "--out", "o", "--op", "communities", "--iters", "4"),
      Seq("--edges", "g", "--out", "o", "--op", "communities", "--tol", "0", "--iters", "40"),
      Seq("--edges", "g", "--out", "o", "--op", "kcore", "--min-degree", "3"),
      Seq("--edges", "g", "--out", "o", "--op", "modularity", "--labels", "l"),
      Seq("--edges", "g", "--out", "o", "--op", "communities", "--tol", "0", "--iters", "40",
        "--init", "p"),
      Seq("--edges", "g", "--out", "o", "--op", "communities", "--weighted", "--iters", "4"),
      Seq("--edges", "g", "--out", "o", "--op", "pagerank", "--weighted"),
      Seq("--edges", "g", "--out", "o", "--op", "components"),
      Seq("--edges", "g", "--out", "o", "--op", "components", "--init", "p"),
      Seq("--embeddings", "e", "--out", "o", "--op", "kmeans", "--clusters", "4", "--iters", "2"),
      Seq("--embeddings", "e", "--out", "o", "--op", "kmeans", "--init", "p", "--iters", "1"),
      Seq("--embeddings", "e", "--out", "o", "--op", "kmeans", "--clusters", "4", "--tol", "0.0",
        "--iters", "40"),
      Seq("--embeddings", "e", "--out", "o", "--op", "kmeans", "--tol", "0.0", "--iters", "40",
        "--init", "p"))
    for (args <- accepted)
      assert(flagError(args: _*).isEmpty, args.mkString(" "))
  }

  test("the graph entries refuse a warm start on the fixed-round tier") {
    // `analyze --init` without `--tol` reaches these requires
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq((1L, 0)).toDF("id", "label")
    val prior = Seq((1L, 0.5, 1L, 0)).toDF("id", "rank", "label", "score")
    val entries = Seq[() => Any](
      () => Graph.pageRank(edges, Stop.Rounds(3), init = Some(prior)),
      () => Graph.personalizedPageRank(edges, seeds, Stop.Rounds(3), init = Some(prior)),
      () => Graph.labelPropagation(edges, Stop.Rounds(3), init = Some(prior)),
      () => Graph.labelSpread(edges, seeds, Stop.Rounds(3), init = Some(prior)))
    for (entry <- entries) {
      val (_, jobs) = jobsOf {
        val e = intercept[IllegalArgumentException](entry())
        assert(e.getMessage.contains("the fixed-round tier always starts cold"))
      }
      assert(jobs == 0, s"refused before any job, ran $jobs")
    }
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.MetadataFilterDsl
import graft.operators.{BM25, Dedup, Expansion, Graph, Knn, Stop}

/** Graph-analytics + clustering rows: kNN graph, PageRank/PPR/LPA/k-core, k-means, PCA.
  *
  * One family slice of the [[SparkEntry]] driver contract (split in
  * r15 so per-round diffs stay reviewable): `queries` entries and
  * their DuckDB `oracle` SQL live side by side; [[SparkEntry]]
  * aggregates the families. Shared fixtures: [[EntryFixtures]];
  * shared oracle CTE builders: [[OracleCtes]]. The determinism
  * rules (DECIMAL money, 6-decimal score rounding before ranking,
  * id tie-breaks, explicit ORDER BY under LIMIT) are documented
  * once on [[SparkEntry]]. */
private[graft] object EntryGraph {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The shared graph FIXTURE as its own row: build + persist the
    // symmetrized kNN edge table the graph_* operator rows consume.
    // Splitting the rows makes the bench measure each operator's
    // iteration cost instead of re-paying the O(n^2) exact fixture
    // build per query (production consumes persisted --edges, the CLI
    // contract); this row REBUILDS unconditionally so its own timing
    // is always the build, and re-registers the cache for the rows
    // after it (bench executes queries in name order: graph_build
    // sorts before every other graph_* row).
    "graph_build" -> ((s, dir) =>
      EntryFixtures.buildGraphEdges(s, dir).orderBy("src", "dst")),

    // PageRank centrality over the symmetrized kNN graph: a node whose
    // similarity neighborhood is dense and well-connected is a
    // template/mirror hub — a curation signal no per-document quality
    // score can see. 5 fixed power-iteration rounds; rank floors onto
    // the 2^-30 binary grid each round and every per-edge rank/outdeg
    // term floors onto the 2^-48 grid before summation, making the
    // contribution sum EXACT in doubles and thus order-independent
    // (engine-portable determinism — see Graph.quant/termQuant).
    "graph_pagerank" -> ((s, dir) => {
      Graph.pageRank(graphEdges(s, dir), Stop.Rounds(5), damping = 0.85)._1
        .orderBy("id")
    }),

    // Personalized PageRank: the walk teleports back to a 10-vector
    // seed set, so mass concentrates in the seeds' similarity
    // neighborhood — retrieval expansion (related documents the
    // retriever missed). Top-50 by rank, id tie-breaks.
    // Convergence-watched PageRank (the 100 TB production mode) over a
    // REAL relational graph: the supplier<->customer bipartite graph
    // from lineitem x orders (customer ids offset by 1e6 to disjoint
    // the key spaces), symmetrized. tol = 0.0 makes the watched loop
    // oracle-checkable at ANY knobs: it stops only at the exact grid
    // fixed point, where stopping is indistinguishable from running
    // the remaining rounds, so a fixed-maxIters DuckDB replay matches
    // whether or not the loop early-stops — including the
    // parity-preserving period-2 cycle stop (on this substrate the
    // quantized dynamics settle into an adjacent-cell 2-cycle around
    // round 31, not a fixed point; the watch catches the exact
    // two-rounds-back revisit and stops only on an even remaining
    // budget, which keeps fixed-round equality unconditional). At this
    // row's 10-round cap neither stop fires yet, so the row benches
    // the per-round watched overhead — the L1-delta and cycle-watch
    // 1-row aggregates; genuine early-stop behavior is spec-pinned in
    // GraphSpec on converging AND cycling fixtures.
    "graph_pagerank_watched" -> ((s, dir) => {
      // consumes the graph_build_rel fixture (r15 split): iteration
      // cost only, the build is the fixture row's own measurement
      Graph.pageRankWatched(relEdges(s, dir), damping = 0.5, maxIters = 10,
        tol = 0.0, quantBits = 26)._1.orderBy("id")
    }),

    // The relational-graph FIXTURE row (r15): builds + re-persists
    // (as parquet — the `--edges` contract; see EntryFixtures) the
    // symmetrized supplier<->customer edge set the watched relational
    // rows consume (the r13 graph_build precedent — split fixture from
    // operator so each bench row measures its own cost; together the
    // two watched rows re-paid this join on every run, 16% of suite
    // wall). Output is the per-node degree table — a compact
    // full-build witness the oracle replays exactly.
    "graph_build_rel" -> ((s, dir) => {
      buildRelEdges(s, dir)
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
        .orderBy("id")
    }),

    // k-CORE under the hash gate: iterative peel over a sparsified
    // supplier<->customer graph ((src+dst) % 4 keeps ~1/4 of the
    // pairs, enough to make real peeling happen — half the sf0.001
    // nodes drop). The oracle unrolls a FIXED 8 peel rounds; rounds
    // past the settle point are identity on the settled edge set
    // (peeling is monotone), so the replay is valid at any cap >= the
    // measured depth (2 at every SF) — and if the Spark side ever
    // outlived its own cap it would THROW, failing the gate loudly
    // rather than hash-mismatching.
    "graph_kcore" -> ((s, dir) => {
      // consumes the graph_build_rel fixture (r15): the (src+dst)%4
      // sparsifier is symmetric, so filtering the symmetrized fixture
      // equals the old filter-then-symmetrize inline build exactly —
      // the row now measures the peel, not a third copy of the join
      graft.operators.Graph.kCore(
          relEdges(s, dir).filter((col("src") + col("dst")) % 4 === 0),
          k = 3, maxIters = 8)._1
        .orderBy("id")
    }),

    "graph_ppr" -> ((s, dir) => {
      val seeds = Tables.embeddings(s, dir)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("id"))
      Graph.personalizedPageRank(graphEdges(s, dir), seeds, Stop.Rounds(5))._1
        .orderBy(desc("rank"), col("id")).limit(50)
    }),

    // The WATCHED personalized PageRank under the hash gate (r14 —
    // completes the watched family's oracle coverage; it was the one
    // spec-only member). Same relational supplier<->customer graph as
    // graph_pagerank_watched (scale-honest: no n² fixture), seeds =
    // every 50th node id drawn from the edge set itself so seed
    // membership is guaranteed at any SF. tol = 0 makes the watched
    // loop oracle-checkable at ANY knobs: it stops only at the exact
    // grid fixed point (or the even-remainder 2-cycle revisit, which
    // returns the bit-identical full-run state), where extra replay
    // rounds change nothing — so the 6-round recursive CTE is the
    // exact answer whether Spark stopped at round 4 or ran the cap.
    "graph_ppr_watched" -> ((s, dir) => {
      // consumes the graph_build_rel fixture (r15 split) — same
      // edges, only persistence moved; oracle unchanged
      val edges = relEdges(s, dir)
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 50 === 0)
      // cap 6 (not 10): the replay is exact at ANY cap — if Spark
      // stops early (fixed point / even-remainder cycle) the extra CTE
      // rounds are no-ops, if it runs the cap both sides computed the
      // same 6 rounds — so the cheaper cap buys suite time for free
      Graph.personalizedPageRank(edges, seeds, Stop.Converge(6, tol = 0.0),
          damping = 0.5, quantBits = 26)._1
        .orderBy(desc("rank"), col("id")).limit(50)
    }),

    // Per-node triangle counts + local clustering coefficient over the
    // kNN graph — community-density signal (template farms / near-dup
    // neighborhoods show up as high-clustering regions). All-integer
    // wedge-join counting; each triangle counted once at its smallest
    // vertex, credited to all three corners.
    "graph_triangles" -> ((s, dir) => {
      Graph.triangleCounts(graphEdges(s, dir)).orderBy("id")
    }),

    // The degree-capped SAMPLED triangle tier under the oracle gate:
    // the kNN graph's degree is bounded at k x tables = 6, so a cap of
    // 64 keeps every center in the exact (w = 1) branch and the result
    // equals graph_triangles — but the PLAN is the capped one (the
    // per-center rank window, the sampled wedge generation, the weight
    // join), so the hash gate covers the production tier's machinery
    // end to end. The above-cap estimator arm is spec-pinned in
    // GraphSpec (its xxhash64 sampling is not DuckDB-replayable, and
    // doesn't need to be: below-cap exactness is the oracle contract).
    // Degree histogram of the symmetrized kNN graph — the graph-health
    // read that sizes triangleCountsCapped's cap (cap at the histogram
    // knee) and confirms the kNN composition's degree bound holds.
    "graph_degree_profile" -> ((s, dir) => {
      Graph.degreeProfile(graphEdges(s, dir)).orderBy("degree")
    }),

    "graph_triangles_capped" -> ((s, dir) => {
      Graph.triangleCountsCapped(graphEdges(s, dir), maxDegree = 64)
        .orderBy("id")
    }),

    // Unsupervised community detection (synchronous LPA, deterministic
    // max-count/min-label tie rule) on an analytic fixture where the
    // density structure is known: 25 8-clique blocks over the first
    // 200 doc_ids, consecutive blocks joined by ONE bridge edge.
    // Communities must be the BLOCKS — the bridge cannot outvote a
    // clique's internal majority — which is exactly what separates LPA
    // from connected components (CC would merge the whole chain of
    // blocks into one cluster; cf. dedup_components_warm's fixture).
    // 4 rounds: the blocks stabilize at round 2 (traced in the oracle
    // comment), so any fixed count >= 2 replays identically.
    "graph_communities" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      Graph.labelPropagation(
        Graph.symmetrize(cliques.union(bridges), "a", "b"), Stop.Rounds(4))._1
        .orderBy("id")
    }),

    // CONVERGENCE-WATCHED community detection under the hash gate —
    // the same clique-block fixture with an 8-round cap. The watch
    // fires at the fixture's measured fixed point (round <= 4,
    // GraphSpec round-count-invariance arm), and the stop rules make
    // early-stop == the full run, so the 8-round unrolled replay is
    // valid at any knobs — the gate proves the watched machinery, not
    // just that the loop counts (the cluster_kmeans_watched stance).
    "graph_communities_watched" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      Graph.labelPropagation(
        Graph.symmetrize(cliques.union(bridges), "a", "b"), Stop.Converge(8))._1
        .orderBy("id")
    }),

    // Community QUALITY composed under the hash gate: LPA labels on the
    // clique-block fixture scored by Newman modularity — per community
    // internal-edge fraction minus the degree-random expectation, the
    // did-the-split-mean-anything read the communities arm needs to be
    // trustworthy at scale (a near-zero Q says don't weight a mixture
    // by these labels).
    "graph_modularity" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      val sym = Graph.symmetrize(cliques.union(bridges), "a", "b")
      Graph.modularity(sym, Graph.labelPropagation(sym, Stop.Rounds(4))._1)
        .orderBy("label")
    }),

    // WEIGHTED community detection on the same clique-block fixture,
    // with dyadic edge weights ((1 + (a+b)%3)/4 intra, 5/2 on bridges)
    // so every vote sum is exact in doubles on BOTH engines by
    // construction (termQuant is the identity on grid weights — the
    // operator still applies it for arbitrary inputs). The strong
    // bridges make weights MATTER: vote sums, not neighbor counts,
    // decide the tails — whatever partition the dynamics settle on,
    // the oracle replays the identical (max weight-sum, min label)
    // update, so the gate pins the weighted machinery end to end.
    "graph_communities_weighted" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
        .withColumn("w", (lit(1) + (col("a") + col("b")) % 3) * lit(0.25))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"),
          lit(2.5).as("w"))
      Graph.labelPropagation(
        Graph.symmetrizeWeighted(cliques.union(bridges), "a", "b", "w"),
        Stop.Rounds(4), weighted = true)._1
        .orderBy("id")
    }),

    // CONVERGENCE-WATCHED weighted community detection under the hash
    // gate — the graph_communities_watched contract carried to the
    // weighted tier that closed the family asymmetry: same dyadic-
    // weight fixture, 8-round cap. The stop rules (exact fixed point,
    // or an exact period-2 revisit on an even remaining budget) make
    // early-stop == the full run, so the 8-round unrolled weighted
    // replay is valid whatever round the watch fires at.
    "graph_communities_weighted_watched" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
        .withColumn("w", (lit(1) + (col("a") + col("b")) % 3) * lit(0.25))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"),
          lit(2.5).as("w"))
      Graph.labelPropagation(
        Graph.symmetrizeWeighted(cliques.union(bridges), "a", "b", "w"),
        Stop.Converge(8), weighted = true)._1
        .orderBy("id")
    }),

    // CONVERGENCE-WATCHED weighted PageRank under the hash gate: the
    // graph_pagerank_watched discipline (tol=0 L1 watch + period-2
    // cycle watch, early-stop == full run) over the rank*w/outw
    // update on the dyadic-weight fixture, 10-round cap — the oracle
    // unrolls exactly 10 weighted rounds.
    "graph_pagerank_weighted_watched" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
        .withColumn("w", (lit(1) + (col("a") + col("b")) % 3) * lit(0.25))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"),
          lit(2.5).as("w"))
      Graph.pageRank(
        Graph.symmetrizeWeighted(cliques.union(bridges), "a", "b", "w"),
        Stop.Converge(10, tol = 0.0), weighted = true)._1
        .orderBy("id")
    }),

    // WEIGHTED PageRank on the same dyadic-weight fixture: the surfer
    // follows edges in proportion to weight (rank * w / outw terms,
    // 2^-48-floored, 2^-30 state grid — the graph_pagerank discipline
    // with the division's numerator swapped), so the heavy 2.5 bridges
    // concentrate centrality on block tails in a way plain PageRank
    // (which treats all 8 block edges equally) cannot.
    "graph_pagerank_weighted" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val cliques = ids.select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")),
          floor(col("a") / 8) === floor(col("b") / 8) && col("a") < col("b"))
        .withColumn("w", (lit(1) + (col("a") + col("b")) % 3) * lit(0.25))
      val bridges = ids.filter(col("doc_id") % 8 === 7 &&
          col("doc_id") < 199)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"),
          lit(2.5).as("w"))
      Graph.pageRank(
        Graph.symmetrizeWeighted(cliques.union(bridges), "a", "b", "w"),
        Stop.Rounds(5), weighted = true)._1
        .orderBy("id")
    }),

    // Label spreading (Zhou et al. 2004) over the kNN graph: every 5th
    // vector seeds its label, 4 diffusion rounds, per-node argmax with
    // (score desc, label) tie-break — the classifier-bootstrapping step
    // that expands a small labeled set across the similarity structure.
    "graph_label_spread" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val seeds = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("id"), col("label"))
      val spread = Graph.labelSpread(graphEdges(s, dir), seeds,
        Stop.Rounds(4), alpha = 0.85)._1
      val w = Window.partitionBy("id").orderBy(desc("score"), col("label"))
      spread.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("id", "label", "score")
        .orderBy("id")
    }),

    // Deterministic Lloyd k-means — the oracle-grade clustering tier
    // (spark.ml KMeans in ivfAssign stays the production IVF path):
    // init = the 4 lowest-id vectors, 3 fixed rounds, distances and
    // centroid means re-quantized to 6 decimals so another engine
    // replaying the update rule reproduces the clusters bit-for-bit.
    "cluster_kmeans" -> ((s, dir) => {
      graft.operators.Cluster.kmeansAssign(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 4, Stop.Rounds(3))._1
        .orderBy("id")
    }),

    // WARM-START k-means under the hash gate: Spark derives centroids
    // from a prior assignment (kmeansAssign at 3 rounds) and re-assigns
    // with zero further rounds; because centroids-from-assignment IS
    // the next Lloyd update, this must equal a COLD 4-round run — which
    // is exactly what the oracle replays (the cluster_kmeans recursion
    // with one extra round). Passing proves the warm machinery
    // (centroidsOf + the resumed loop) bit-matches the fit path.
    "cluster_kmeans_warm" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val prior = graft.operators.Cluster.kmeansAssign(
        emb, "vec_id", "embedding", k = 4, Stop.Rounds(3))._1
      graft.operators.Cluster.kmeansAssign(
          emb, "vec_id", "embedding", k = 4, Stop.Rounds(0), init = Some(prior))._1
        .orderBy("id")
    }),

    // CONVERGENCE-WATCHED k-means under the hash gate — the watched-
    // family discipline (graph_pagerank_watched) applied to clustering.
    // tol=0 stops only at the exact fixed point of the 6-decimal-
    // quantized update (or an even-remainder period-2 revisit), where
    // stopping is indistinguishable from running the remaining rounds —
    // so the oracle replays a FIXED 25-round recursion and the equality
    // is valid at any knobs. At sf0.01 the watch genuinely fires
    // (measured convergence at round 19 of the 25-round cap); the gate
    // therefore proves the early-stopped run == the full fixed-round
    // run, not just that the loop can count to 25.
    "cluster_kmeans_watched" -> ((s, dir) => {
      graft.operators.Cluster.kmeansAssignWatched(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 4, maxIters = 25, tol = 0.0)._1
        .orderBy("id")
    }),

    // PRODUCTION-tol watched k-means under the hash gate. tol=0 (above)
    // proves early-stop == fixed-round replay, but pays the full 25-round
    // cap wherever the exact fixed point needs more rounds (sf0.1 does);
    // the production stop is the tol-ball: same surviving clusters and
    // every centroid's L2 shift < tol. That stop is NOT cold-equivalent,
    // so the oracle REPLAYS the stop rule itself: the recursive CTE
    // carries each round's previous centroid + previous cluster count
    // and stops generating rounds exactly when the keyset held and
    // max shift < tol — the same decision the driver-side watch takes
    // (measured stop at rounds 14/17/12 for sf0.001/0.01/0.1, all
    // inside the cap; the oracle's recursion depth matches all three).
    // Period-2 cycles need no replay: with the even-remaining rule a
    // cycle-stop state equals the run-out-the-cap state, which is where
    // the tol-less oracle recursion lands.
    "cluster_kmeans_watched_tol" -> ((s, dir) => {
      graft.operators.Cluster.kmeansAssignWatched(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 4, maxIters = 25, tol = 0.01)._1
        .orderBy("id")
    }),

    // Distributed PCA: one-pass d x d centered scatter via the
    // map-side-combined GramAgg aggregator, fixed-round power iteration
    // on the driver (bounded d x d scalar), codegen'd projection.
    // (id, pc1, pc2) = each embedding's top-2 principal coordinates —
    // the rotation that makes int8/PQ compression cheap and the 2-D
    // corpus map for drift inspection.
    "embedding_pca" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.operators.Pca.fit(emb, "embedding",
        numComponents = 2, powerIters = 40)
      graft.operators.Pca.transform(emb, "vec_id", "embedding", model)
        .withColumnRenamed("vec_id", "id")
        .orderBy("id")
    }),

    // Embedding-modality drift: per-slice centroid vs corpus centroid
    // (L2 + cosine). One (slice, dim) aggregate over the exploded
    // vectors; the corpus centroid derives from the slice sums.
    "embedding_drift" -> ((s, dir) => {
      graft.operators.Profile.embeddingDrift(
        Tables.embeddings(s, dir), "label", "embedding")
    }),
  )

  def oracle: Map[String, String] = Map(

    // The persisted graph fixture row: the same kNN window, then the
    // symmetrize union-distinct — the edge table every graph_* oracle
    // re-derives inline.
    "graph_build" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3)
        |SELECT DISTINCT src, dst FROM (
        |  SELECT id AS src, nb AS dst FROM r
        |  UNION ALL
        |  SELECT nb AS src, id AS dst FROM r)
        |ORDER BY src, dst""".stripMargin,

    // PageRank over the symmetrized kNN graph, replayed as a recursive
    // CTE: 5 rounds, rank FLOORED onto the 2^-30 binary grid per round
    // (matching Graph.quant — floor(x * 2^30) / 2^30, no decimal tie
    // rule), each rank/outdeg term floored onto the 2^-48 grid BEFORE
    // the sum (matching Graph.termQuant) so the summation is exact in
    // doubles and immune to either engine's aggregation order, and the
    // teleport spelled (1.0 - 0.85) COMPUTED because 1.0-0.85 != 0.15
    // in doubles. The inner-join GROUP BY form assumes every node has
    // an in-edge — guaranteed here: symmetrization gives each node
    // in-degree >= k.
    "graph_pagerank" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT id AS src, nb AS dst FROM r
        |            UNION ALL SELECT nb, id FROM r)),
        |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |pr(iter, id, rank) AS (
        |  SELECT 0, id, floor((1.0::DOUBLE / (SELECT count(*) FROM nodes))
        |                 * 1073741824.0) / 1073741824.0
        |  FROM nodes
        |  UNION ALL
        |  SELECT p.iter + 1, e2.dst,
        |         floor(((1.0::DOUBLE - 0.85) / (SELECT count(*) FROM nodes)
        |               + 0.85 * (sum(floor(p.rank / d.outdeg * 281474976710656.0) / 281474976710656.0) + 0.0))
        |               * 1073741824.0) / 1073741824.0
        |  FROM pr p
        |  JOIN edges e2 ON e2.src = p.id
        |  JOIN deg d ON d.src = p.id
        |  WHERE p.iter < 5
        |  GROUP BY p.iter, e2.dst
        |)
        |SELECT id, rank FROM pr WHERE iter = 5
        |ORDER BY id""".stripMargin,

    // The watched variant replayed as a FIXED 10-round recursive CTE:
    // valid because the Spark loop's tol = 0.0 stops only at the exact
    // grid fixed point, where the remaining rounds change nothing —
    // early-stopped or not, the round-10 state is identical. Same
    // 2^-26 state grid / 2^-48 term grid discipline as graph_pagerank;
    // the supplier<->customer edge derivation replayed relationally.
    // Unrolled 8-round peel replay over the sparsified graph (see the
    // queries-side comment for why a fixed unroll is valid).
    "graph_kcore" ->
      ("""WITH
        |cs AS (SELECT DISTINCT l.l_suppkey::BIGINT AS src,
        |              (o.o_custkey::BIGINT + 1000000) AS dst
        |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |sp AS (SELECT src, dst FROM cs WHERE (src + dst) % 4 = 0),
        |e0 AS MATERIALIZED (SELECT src AS s, dst AS d FROM sp
        |       UNION ALL SELECT dst, src FROM sp),
        |""".stripMargin + kcoreRounds(8, 3) + """
        |SELECT s AS id, count(*) AS deg FROM e8 GROUP BY s ORDER BY id"""
        .stripMargin),

    // The relational-graph fixture row (r15 split): the same distinct
    // supplier<->customer pair build the watched oracles replay,
    // witnessed by the per-node degree table of the symmetrized edges.
    "graph_build_rel" ->
      """WITH cs AS (SELECT DISTINCT l.l_suppkey::BIGINT AS src,
        |              (o.o_custkey::BIGINT + 1000000) AS dst
        |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs)
        |SELECT src AS id, count(*) AS degree FROM e GROUP BY src
        |ORDER BY id""".stripMargin,

    "graph_pagerank_watched" ->
      """WITH RECURSIVE
        |cs AS (SELECT DISTINCT l.l_suppkey::BIGINT AS src,
        |              (o.o_custkey::BIGINT + 1000000) AS dst
        |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
        |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |pr(iter, id, rank) AS (
        |  SELECT 0, id, floor((1.0::DOUBLE / (SELECT count(*) FROM nodes))
        |                 * 67108864.0) / 67108864.0
        |  FROM nodes
        |  UNION ALL
        |  SELECT p.iter + 1, e2.dst,
        |         floor(((1.0::DOUBLE - 0.5) / (SELECT count(*) FROM nodes)
        |               + 0.5 * (sum(floor(p.rank / d.outdeg * 281474976710656.0) / 281474976710656.0) + 0.0))
        |               * 67108864.0) / 67108864.0
        |  FROM pr p
        |  JOIN edges e2 ON e2.src = p.id
        |  JOIN deg d ON d.src = p.id
        |  WHERE p.iter < 10
        |  GROUP BY p.iter, e2.dst
        |)
        |SELECT id, rank FROM pr WHERE iter = 10
        |ORDER BY id""".stripMargin,

    // Personalized PageRank replayed recursively: sparse rank state
    // seeded at 1/|S|, the clamped seed term re-injected per round via
    // the full-outer (the label-spread pattern), binary-grid
    // requantization, final top-50.
    "graph_ppr" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT id AS src, nb AS dst FROM r
        |            UNION ALL SELECT nb, id FROM r)),
        |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
        |seeds AS (SELECT DISTINCT vec_id AS id FROM embeddings WHERE vec_id % 50 = 0),
        |ns AS (SELECT count(*)::DOUBLE AS n FROM seeds),
        |st(iter, id, rank) AS (
        |  SELECT 0, id,
        |         floor((1.0::DOUBLE / (SELECT n FROM ns)) * 1073741824.0) / 1073741824.0
        |  FROM seeds
        |  UNION ALL
        |  SELECT coalesce(c.iter, (SELECT min(iter) FROM st)) + 1,
        |         coalesce(c.id, s2.id),
        |         floor((0.85 * coalesce(c.contrib, 0.0) + coalesce(s2.sw, 0.0))
        |               * 1073741824.0) / 1073741824.0
        |  FROM (SELECT p2.iter, e2.dst AS id, sum(floor(p2.rank / d.outdeg * 281474976710656.0) / 281474976710656.0) AS contrib
        |        FROM st p2 JOIN edges e2 ON e2.src = p2.id JOIN deg d ON d.src = p2.id
        |        WHERE p2.iter < 5
        |        GROUP BY p2.iter, e2.dst) c
        |  FULL OUTER JOIN (SELECT id, (1.0::DOUBLE - 0.85) / (SELECT n FROM ns) AS sw
        |                   FROM seeds
        |                   WHERE (SELECT min(iter) FROM st) < 5) s2
        |    ON s2.id = c.id
        |)
        |SELECT id, rank FROM st WHERE iter = 5
        |ORDER BY rank DESC, id
        |LIMIT 50""".stripMargin,

    // Watched PPR replay over the relational graph: the graph_ppr CTE
    // shape (sparse state, clamped seed re-injection via full-outer,
    // 2^-48 term grid) at the watched row's knobs — damping 0.5, 2^-26
    // rank grid (67108864), 6 rounds == maxIters. Valid at any knobs:
    // tol = 0 stops only where remaining rounds change nothing.
    "graph_ppr_watched" ->
      """WITH RECURSIVE
        |pairs AS (
        |  SELECT DISTINCT l.l_suppkey::BIGINT AS src,
        |         (o.o_custkey::BIGINT + 1000000) AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT src, dst FROM pairs
        |            UNION ALL SELECT dst, src FROM pairs)),
        |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
        |seeds AS (SELECT DISTINCT src AS id FROM edges WHERE src % 50 = 0),
        |ns AS (SELECT count(*)::DOUBLE AS n FROM seeds),
        |st(iter, id, rank) AS (
        |  SELECT 0, id,
        |         floor((1.0::DOUBLE / (SELECT n FROM ns)) * 67108864.0) / 67108864.0
        |  FROM seeds
        |  UNION ALL
        |  SELECT coalesce(c.iter, (SELECT min(iter) FROM st)) + 1,
        |         coalesce(c.id, s2.id),
        |         floor((0.5 * coalesce(c.contrib, 0.0) + coalesce(s2.sw, 0.0))
        |               * 67108864.0) / 67108864.0
        |  FROM (SELECT p2.iter, e2.dst AS id, sum(floor(p2.rank / d.outdeg * 281474976710656.0) / 281474976710656.0) AS contrib
        |        FROM st p2 JOIN edges e2 ON e2.src = p2.id JOIN deg d ON d.src = p2.id
        |        WHERE p2.iter < 6
        |        GROUP BY p2.iter, e2.dst) c
        |  FULL OUTER JOIN (SELECT id, (1.0::DOUBLE - 0.5) / (SELECT n FROM ns) AS sw
        |                   FROM seeds
        |                   WHERE (SELECT min(iter) FROM st) < 6) s2
        |    ON s2.id = c.id
        |)
        |SELECT id, rank FROM st WHERE iter = 6
        |ORDER BY rank DESC, id
        |LIMIT 50""".stripMargin,

    // Triangle counting replayed relationally: oriented wedge join
    // (a<b<c), each triangle credited to its three corners; integer
    // counts, coefficient rounded at the end only.
    "graph_triangles" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT id AS src, nb AS dst FROM r
        |            UNION ALL SELECT nb, id FROM r)),
        |deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY 1),
        |fwd AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
        |tris AS (
        |  SELECT w.a, w.b, w.c
        |  FROM (SELECT f1.a, f1.b AS b, f2.b AS c
        |        FROM fwd f1 JOIN fwd f2 USING (a) WHERE f1.b < f2.b) w
        |  JOIN fwd f3 ON f3.a = w.b AND f3.b = w.c),
        |tc AS (SELECT id, count(*) AS triangles FROM (
        |         SELECT a AS id FROM tris
        |         UNION ALL SELECT b FROM tris
        |         UNION ALL SELECT c FROM tris) GROUP BY 1)
        |SELECT d.id, d.degree, coalesce(tc.triangles, 0) AS triangles,
        |       CASE WHEN d.degree < 2 THEN 0.0
        |            ELSE round(2.0 * coalesce(tc.triangles, 0)
        |                       / (d.degree * (d.degree - 1)), 6) END AS clustering
        |FROM deg d LEFT JOIN tc USING (id)
        |ORDER BY d.id""".stripMargin,

    // Degree histogram over the same symmetrized kNN edge derivation.
    "graph_degree_profile" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT id AS src, nb AS dst FROM r
        |            UNION ALL SELECT nb, id FROM r)),
        |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
        |SELECT degree, count(*) AS nodes FROM deg GROUP BY 1
        |ORDER BY degree""".stripMargin,

    // Same relational replay as graph_triangles — the capped tier with
    // every center under the cap IS exact counting; `triangles` casts
    // to DOUBLE because the estimator column is a weighted sum.
    "graph_triangles_capped" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT id AS src, nb AS dst FROM r
        |            UNION ALL SELECT nb, id FROM r)),
        |deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY 1),
        |fwd AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
        |tris AS (
        |  SELECT w.a, w.b, w.c
        |  FROM (SELECT f1.a, f1.b AS b, f2.b AS c
        |        FROM fwd f1 JOIN fwd f2 USING (a) WHERE f1.b < f2.b) w
        |  JOIN fwd f3 ON f3.a = w.b AND f3.b = w.c),
        |tc AS (SELECT id, count(*) AS triangles FROM (
        |         SELECT a AS id FROM tris
        |         UNION ALL SELECT b FROM tris
        |         UNION ALL SELECT c FROM tris) GROUP BY 1)
        |SELECT d.id, d.degree, coalesce(tc.triangles, 0)::DOUBLE AS triangles,
        |       CASE WHEN d.degree < 2 THEN 0.0
        |            ELSE round(2.0 * coalesce(tc.triangles, 0)
        |                       / (d.degree * (d.degree - 1)), 6) END AS clustering
        |FROM deg d LEFT JOIN tc USING (id)
        |ORDER BY d.id""".stripMargin,

    // Synchronous LPA replay, 4 chained (count, pick) rounds — all
    // INTEGER arithmetic, so no float parity rules apply. Per round:
    // count neighbor labels per node, then pick (max count, min label)
    // via a row_number window — the same total-order tie rule Spark
    // implements as a struct-min. Fixture trace: round 1 gives every
    // non-min clique member its block minimum (all neighbor labels
    // distinct, min wins) while node 8k briefly adopts its bridge
    // neighbor 8k-1; round 2 the clique majority (count 6-7 vs 1)
    // overwhelms every bridge label and all 25 blocks sit at label 8k,
    // a state that reproduces itself — so the fixed 4-round replay is
    // stable and engine-portable.
    "graph_communities" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1 FROM ids WHERE id % 8 = 7 AND id < 199),
        |e AS (SELECT DISTINCT s, d FROM (
        |        SELECT a AS s, b AS d FROM p UNION ALL SELECT b, a FROM p)),
        |l0 AS (SELECT DISTINCT s AS id, s AS label FROM e),
        |c1 AS (SELECT e.s AS id, n.label AS nl, count(*) AS c
        |       FROM e JOIN l0 n ON n.id = e.d GROUP BY e.s, n.label),
        |l1 AS (SELECT id, nl AS label FROM (
        |         SELECT id, nl,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
        |         FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.s AS id, n.label AS nl, count(*) AS c
        |       FROM e JOIN l1 n ON n.id = e.d GROUP BY e.s, n.label),
        |l2 AS (SELECT id, nl AS label FROM (
        |         SELECT id, nl,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
        |         FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.s AS id, n.label AS nl, count(*) AS c
        |       FROM e JOIN l2 n ON n.id = e.d GROUP BY e.s, n.label),
        |l3 AS (SELECT id, nl AS label FROM (
        |         SELECT id, nl,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
        |         FROM c3) WHERE rn = 1),
        |c4 AS (SELECT e.s AS id, n.label AS nl, count(*) AS c
        |       FROM e JOIN l3 n ON n.id = e.d GROUP BY e.s, n.label),
        |l4 AS (SELECT id, nl AS label FROM (
        |         SELECT id, nl,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
        |         FROM c4) WHERE rn = 1)
        |SELECT id, label FROM l4 ORDER BY id""".stripMargin,

    // Watched-LPA replay: the graph_communities recursion unrolled to
    // the full 8-round cap (lpaRounds) — valid at any knobs because
    // the watch stops only at an exact fixed point or an even-
    // remainder 2-cycle revisit, where the remaining rounds change
    // nothing (Graph.labelPropagation scaladoc).
    // LPA (the graph_communities 4-round replay via lpaRounds) + the
    // modularity aggregates: per community, directed edge-ends and
    // internal ends, Q = internal/rows − (ends/rows)².
    "graph_modularity" ->
      ("""WITH ids AS (
        |  SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1 FROM ids WHERE id % 8 = 7 AND id < 199),
        |e AS (SELECT DISTINCT s, d FROM (
        |        SELECT a AS s, b AS d FROM p UNION ALL SELECT b, a FROM p)),
        |l0 AS (SELECT DISTINCT s AS id, s AS label FROM e),
        |""".stripMargin + lpaRounds(4) + """,
        |st AS (SELECT ls.label AS c_s, ld.label AS c_d
        |       FROM e JOIN l4 ls ON e.s = ls.id JOIN l4 ld ON e.d = ld.id),
        |per AS (SELECT c_s AS label, count(*) AS ends,
        |               sum(CASE WHEN c_s = c_d THEN 1 ELSE 0 END)::BIGINT
        |                 AS internal_ends
        |        FROM st GROUP BY c_s),
        |tot AS (SELECT sum(ends) AS rows2m FROM per)
        |SELECT label, internal_ends, ends,
        |       round(internal_ends / rows2m
        |             - (ends / rows2m) * (ends / rows2m), 6) AS q
        |FROM per, tot ORDER BY label""".stripMargin),

    "graph_communities_watched" ->
      ("""WITH ids AS (
        |  SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1 FROM ids WHERE id % 8 = 7 AND id < 199),
        |e AS (SELECT DISTINCT s, d FROM (
        |        SELECT a AS s, b AS d FROM p UNION ALL SELECT b, a FROM p)),
        |l0 AS (SELECT DISTINCT s AS id, s AS label FROM e),
        |""".stripMargin + lpaRounds(8) +
       "\nSELECT id, label FROM l8 ORDER BY id"),

    // Weighted-PageRank replay: the graph_pagerank recursion with
    // sum(w)-normalized weighted contributions (floor-grid of
    // rank * w / outw per term). The weighted fixture is symmetric, so
    // every node receives mass every round and the GROUP BY dst covers
    // all nodes — the same property the kNN replay relies on.
    "graph_pagerank_weighted" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b,
        |         (1 + (x.id + y.id) % 3) * 0.25::DOUBLE AS w
        |  FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1, 2.5::DOUBLE FROM ids WHERE id % 8 = 7 AND id < 199),
        |edges AS (SELECT src, dst, max(w) AS w FROM (
        |            SELECT a AS src, b AS dst, w FROM p
        |            UNION ALL SELECT b, a, w FROM p) GROUP BY 1, 2),
        |ow AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |pr(iter, id, rank) AS (
        |  SELECT 0, id, floor((1.0::DOUBLE / (SELECT count(*) FROM nodes))
        |                 * 1073741824.0) / 1073741824.0
        |  FROM nodes
        |  UNION ALL
        |  SELECT p.iter + 1, e2.dst,
        |         floor(((1.0::DOUBLE - 0.85) / (SELECT count(*) FROM nodes)
        |               + 0.85 * (sum(floor(p.rank * e2.w / d.outw * 281474976710656.0) / 281474976710656.0) + 0.0))
        |               * 1073741824.0) / 1073741824.0
        |  FROM pr p
        |  JOIN edges e2 ON e2.src = p.id
        |  JOIN ow d ON d.src = p.id
        |  WHERE p.iter < 5
        |  GROUP BY p.iter, e2.dst
        |)
        |SELECT id, rank FROM pr WHERE iter = 5
        |ORDER BY id""".stripMargin,

    // Weighted LPA replay: sum(w) votes instead of count(*), same
    // row_number (wv DESC, nl) pick. The fixture's dyadic weights make
    // every sum exact, so no quantization CTE is needed — engine
    // parity is by construction.
    "graph_communities_weighted" ->
      ("""WITH ids AS (
        |  SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b,
        |         (1 + (x.id + y.id) % 3) * 0.25::DOUBLE AS w
        |  FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1, 2.5::DOUBLE FROM ids WHERE id % 8 = 7 AND id < 199),
        |e AS (SELECT s, d, max(w) AS w FROM (
        |        SELECT a AS s, b AS d, w FROM p
        |        UNION ALL SELECT b, a, w FROM p) GROUP BY 1, 2),
        |l0 AS (SELECT DISTINCT s AS id, s AS label FROM e),
        |""".stripMargin + lpaWeightedRounds(4) +
      "\nSELECT id, label FROM l4 ORDER BY id"),

    // Watched weighted LPA: the graph_communities_watched replay
    // stance over the weighted fixture — the stop rules make the
    // watched run equal the full 8-round unroll at any firing round.
    "graph_communities_weighted_watched" ->
      ("""WITH ids AS (
        |  SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b,
        |         (1 + (x.id + y.id) % 3) * 0.25::DOUBLE AS w
        |  FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1, 2.5::DOUBLE FROM ids WHERE id % 8 = 7 AND id < 199),
        |e AS (SELECT s, d, max(w) AS w FROM (
        |        SELECT a AS s, b AS d, w FROM p
        |        UNION ALL SELECT b, a, w FROM p) GROUP BY 1, 2),
        |l0 AS (SELECT DISTINCT s AS id, s AS label FROM e),
        |""".stripMargin + lpaWeightedRounds(8) +
       "\nSELECT id, label FROM l8 ORDER BY id"),

    // Watched weighted PageRank: the graph_pagerank_weighted recursion
    // run to the watched tier's 10-round cap — early-stop == full run
    // by the tol=0 / period-2 stop rules.
    "graph_pagerank_weighted_watched" ->
      """WITH RECURSIVE
        |ids AS (SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT x.id AS a, y.id AS b,
        |         (1 + (x.id + y.id) % 3) * 0.25::DOUBLE AS w
        |  FROM ids x JOIN ids y
        |    ON x.id // 8 = y.id // 8 AND x.id < y.id
        |  UNION ALL
        |  SELECT id, id + 1, 2.5::DOUBLE FROM ids WHERE id % 8 = 7 AND id < 199),
        |edges AS (SELECT src, dst, max(w) AS w FROM (
        |            SELECT a AS src, b AS dst, w FROM p
        |            UNION ALL SELECT b, a, w FROM p) GROUP BY 1, 2),
        |ow AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |pr(iter, id, rank) AS (
        |  SELECT 0, id, floor((1.0::DOUBLE / (SELECT count(*) FROM nodes))
        |                 * 1073741824.0) / 1073741824.0
        |  FROM nodes
        |  UNION ALL
        |  SELECT p.iter + 1, e2.dst,
        |         floor(((1.0::DOUBLE - 0.85) / (SELECT count(*) FROM nodes)
        |               + 0.85 * (sum(floor(p.rank * e2.w / d.outw * 281474976710656.0) / 281474976710656.0) + 0.0))
        |               * 1073741824.0) / 1073741824.0
        |  FROM pr p
        |  JOIN edges e2 ON e2.src = p.id
        |  JOIN ow d ON d.src = p.id
        |  WHERE p.iter < 10
        |  GROUP BY p.iter, e2.dst
        |)
        |SELECT id, rank FROM pr WHERE iter = 10
        |ORDER BY id""".stripMargin,

    // Label spreading replayed recursively: sparse (id, label, score)
    // state; the FULL OUTER join re-injects the clamped seed term each
    // round (seed weight spelled (1.0 - 0.85) COMPUTED); per-round
    // 2^-30 binary-grid floor with 2^-48-floored summation terms (the
    // graph_pagerank stance); final per-node argmax.
    "graph_label_spread" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb FROM (
        |        SELECT id, nb,
        |               row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |        FROM p) WHERE rnk <= 3),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |            SELECT id AS src, nb AS dst FROM r
        |            UNION ALL SELECT nb, id FROM r)),
        |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
        |seeds AS (SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 5 = 0),
        |st(iter, id, label, score) AS (
        |  SELECT 0, id, label, 1.0::DOUBLE FROM seeds
        |  UNION ALL
        |  SELECT coalesce(c.iter, (SELECT min(iter) FROM st)) + 1,
        |         coalesce(c.id, s.id), coalesce(c.label, s.label),
        |         floor((0.85 * coalesce(c.contrib, 0.0) + coalesce(s.sw, 0.0))
        |               * 1073741824.0) / 1073741824.0
        |  FROM (SELECT p2.iter, e2.dst AS id, p2.label,
        |               sum(floor(p2.score / d.outdeg * 281474976710656.0) / 281474976710656.0) AS contrib
        |        FROM st p2 JOIN edges e2 ON e2.src = p2.id JOIN deg d ON d.src = p2.id
        |        WHERE p2.iter < 4
        |        GROUP BY p2.iter, e2.dst, p2.label) c
        |  FULL OUTER JOIN (SELECT id, label, (1.0::DOUBLE - 0.85) AS sw FROM seeds
        |                   WHERE (SELECT min(iter) FROM st) < 4) s
        |    ON s.id = c.id AND s.label = c.label
        |)
        |SELECT id, label, score FROM (
        |  SELECT id, label, score,
        |         row_number() OVER (PARTITION BY id ORDER BY score DESC, label) AS rn
        |  FROM st WHERE iter = 4)
        |WHERE rn = 1
        |ORDER BY id""".stripMargin,

    // Deterministic Lloyd k-means replayed as a recursive CTE: the same
    // init (4 lowest-id vectors), the same `v.v - 2(v.c) + c.c` rounded
    // distance with (dist, cluster) struct-min tie-breaks, the same
    // 6-decimal centroid re-quantization per round. An empty cluster
    // simply produces no centroid row — both engines drop it.
    "cluster_kmeans" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
        |cent(iter, cluster, c) AS (
        |  SELECT 0, cluster, v FROM init
        |  UNION ALL
        |  SELECT iter + 1, cluster, list(cm ORDER BY pos)
        |  FROM (
        |    SELECT a.iter, a.cluster, p.pos, round(avg(a.v[p.pos]), 6) AS cm
        |    FROM (
        |      SELECT c.iter, e.vec_id, e.v,
        |             min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                    - 2 * list_inner_product(e.v, c.c)
        |                    + list_inner_product(c.c, c.c), 6),
        |                 cl := c.cluster)).cl AS cluster
        |      FROM cent c, e
        |      WHERE c.iter < 3
        |      GROUP BY c.iter, e.vec_id, e.v
        |    ) a, (SELECT unnest(generate_series(1, 64)) AS pos) p
        |    GROUP BY a.iter, a.cluster, p.pos
        |  )
        |  GROUP BY iter, cluster
        |),
        |fin AS (SELECT cluster, c FROM cent WHERE iter = 3)
        |SELECT vec_id AS id, m.cl AS cluster, m.d AS dist
        |FROM (
        |  SELECT e.vec_id,
        |         min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                - 2 * list_inner_product(e.v, fin.c)
        |                + list_inner_product(fin.c, fin.c), 6),
        |             cl := fin.cluster)) AS m
        |  FROM e, fin
        |  GROUP BY e.vec_id)
        |ORDER BY id""".stripMargin,

    // Cold 4-round replay of the warm fixture (see the queries-side
    // comment: warm(A3, 0) == cold(4) because centroids-from-assignment
    // is the Lloyd update).
    "cluster_kmeans_warm" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
        |cent(iter, cluster, c) AS (
        |  SELECT 0, cluster, v FROM init
        |  UNION ALL
        |  SELECT iter + 1, cluster, list(cm ORDER BY pos)
        |  FROM (
        |    SELECT a.iter, a.cluster, p.pos, round(avg(a.v[p.pos]), 6) AS cm
        |    FROM (
        |      SELECT c.iter, e.vec_id, e.v,
        |             min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                    - 2 * list_inner_product(e.v, c.c)
        |                    + list_inner_product(c.c, c.c), 6),
        |                 cl := c.cluster)).cl AS cluster
        |      FROM cent c, e
        |      WHERE c.iter < 4
        |      GROUP BY c.iter, e.vec_id, e.v
        |    ) a, (SELECT unnest(generate_series(1, 64)) AS pos) p
        |    GROUP BY a.iter, a.cluster, p.pos
        |  )
        |  GROUP BY iter, cluster
        |),
        |fin AS (SELECT cluster, c FROM cent WHERE iter = 4)
        |SELECT vec_id AS id, m.cl AS cluster, m.d AS dist
        |FROM (
        |  SELECT e.vec_id,
        |         min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                - 2 * list_inner_product(e.v, fin.c)
        |                + list_inner_product(fin.c, fin.c), 6),
        |             cl := fin.cluster)) AS m
        |  FROM e, fin
        |  GROUP BY e.vec_id)
        |ORDER BY id""".stripMargin,

    // Fixed 25-round replay of the watched run (see the queries-side
    // comment: tol=0 stops only where the remaining rounds change
    // nothing, so watched(<=25) == cold(25) at any data).
    "cluster_kmeans_watched" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
        |cent(iter, cluster, c) AS (
        |  SELECT 0, cluster, v FROM init
        |  UNION ALL
        |  SELECT iter + 1, cluster, list(cm ORDER BY pos)
        |  FROM (
        |    SELECT a.iter, a.cluster, p.pos, round(avg(a.v[p.pos]), 6) AS cm
        |    FROM (
        |      SELECT c.iter, e.vec_id, e.v,
        |             min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                    - 2 * list_inner_product(e.v, c.c)
        |                    + list_inner_product(c.c, c.c), 6),
        |                 cl := c.cluster)).cl AS cluster
        |      FROM cent c, e
        |      WHERE c.iter < 25
        |      GROUP BY c.iter, e.vec_id, e.v
        |    ) a, (SELECT unnest(generate_series(1, 64)) AS pos) p
        |    GROUP BY a.iter, a.cluster, p.pos
        |  )
        |  GROUP BY iter, cluster
        |),
        |fin AS (SELECT cluster, c FROM cent WHERE iter = 25)
        |SELECT vec_id AS id, m.cl AS cluster, m.d AS dist
        |FROM (
        |  SELECT e.vec_id,
        |         min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                - 2 * list_inner_product(e.v, fin.c)
        |                + list_inner_product(fin.c, fin.c), 6),
        |             cl := fin.cluster)) AS m
        |  FROM e, fin
        |  GROUP BY e.vec_id)
        |ORDER BY id""".stripMargin,

    // Tol-stopped replay of the production watched run: the recursion
    // carries (c, pc = previous round's centroid, prev_n = previous
    // round's cluster count) and generates round r+1 only while the
    // watch would not have stopped at round r — keyset held
    // (min(prev_n) = count(*)) AND max per-cluster L2 shift < 0.01.
    // Round 0 seeds prev_n = -1 so the first round always runs (the
    // driver watch checks only AFTER a round). Final centroids = the
    // deepest generated round.
    "cluster_kmeans_watched_tol" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
        |cent(iter, cluster, c, pc, prev_n) AS (
        |  SELECT 0, cluster, v, v, -1 FROM init
        |  UNION ALL
        |  SELECT n.iter, n.cluster, n.c, q.c, (SELECT count(*) FROM cent)::INT
        |  FROM (
        |    SELECT a.iter + 1 AS iter, a.cluster, list(cm ORDER BY pos) AS c
        |    FROM (
        |      SELECT x.iter, x.cluster, p.pos, round(avg(x.v[p.pos]), 6) AS cm
        |      FROM (
        |        SELECT c.iter AS iter, e.vec_id, e.v,
        |               min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                      - 2 * list_inner_product(e.v, c.c)
        |                      + list_inner_product(c.c, c.c), 6),
        |                   cl := c.cluster)).cl AS cluster
        |        FROM cent c, e
        |        WHERE c.iter < 25
        |          AND NOT (
        |            (SELECT min(prev_n) FROM cent) = (SELECT count(*) FROM cent)
        |            AND (SELECT max(sh) FROM (
        |                  SELECT sqrt(sum((q2.c[p2.pos] - q2.pc[p2.pos])
        |                              * (q2.c[p2.pos] - q2.pc[p2.pos]))) AS sh
        |                  FROM cent q2,
        |                       (SELECT unnest(generate_series(1, 64)) AS pos) p2
        |                  GROUP BY q2.cluster)) < 0.01)
        |        GROUP BY c.iter, e.vec_id, e.v
        |      ) x, (SELECT unnest(generate_series(1, 64)) AS pos) p
        |      GROUP BY x.iter, x.cluster, p.pos
        |    ) a
        |    GROUP BY a.iter, a.cluster
        |  ) n JOIN cent q ON q.cluster = n.cluster
        |),
        |fin AS (SELECT cluster, c FROM cent
        |        WHERE iter = (SELECT max(iter) FROM cent))
        |SELECT vec_id AS id, m.cl AS cluster, m.d AS dist
        |FROM (
        |  SELECT e.vec_id,
        |         min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                - 2 * list_inner_product(e.v, fin.c)
        |                + list_inner_product(fin.c, fin.c), 6),
        |             cl := fin.cluster)) AS m
        |  FROM e, fin
        |  GROUP BY e.vec_id)
        |ORDER BY id""".stripMargin,

    // Distributed PCA replayed in SQL: same rounded mean/scatter, the
    // same NORMALIZED 40-round power iteration as a recursive CTE with
    // the same per-round round-to-9-decimals on the normalized vector
    // (matching Pca.powerIterate), end sign-pin + round, deflation
    // re-rounded, then the projection.
    "embedding_pca" ->
      """WITH RECURSIVE
        |pos AS MATERIALIZED (SELECT unnest(generate_series(1, 64)) AS pos),
        |ev AS MATERIALIZED (
        |  SELECT vec_id, p.pos, embedding[p.pos]::DOUBLE AS val
        |  FROM embeddings, pos p),
        |mu AS MATERIALIZED (SELECT pos, round(avg(val), 6) AS m FROM ev GROUP BY 1),
        |cv AS MATERIALIZED (
        |  SELECT ev.vec_id, ev.pos, ev.val - mu.m AS val
        |  FROM ev JOIN mu USING (pos)),
        |g AS MATERIALIZED (
        |  SELECT a.pos AS i, b.pos AS j, round(sum(a.val * b.val), 6) AS gv
        |  FROM cv a JOIN cv b USING (vec_id)
        |  GROUP BY 1, 2),
        |pw1(iter, i, w) AS (
        |  SELECT 0, p.pos, (CASE WHEN p.pos = 1 THEN 1.0 ELSE 0.0 END)::DOUBLE FROM pos p
        |  UNION ALL
        |  SELECT t.iter + 1, t.i,
        |         round(t.gw / sqrt(sum(t.gw * t.gw) OVER (PARTITION BY t.iter)), 9)
        |  FROM (SELECT p.iter, g.i, sum(g.gv * p.w) AS gw
        |        FROM pw1 p JOIN g ON g.j = p.i
        |        WHERE p.iter < 40
        |        GROUP BY p.iter, g.i) t),
        |raw1 AS MATERIALIZED (SELECT i, w FROM pw1 WHERE iter = 40),
        |n1 AS (SELECT sqrt(sum(w*w)) AS n,
        |              min(CASE WHEN abs(w) > 1e-12 THEN i END) AS fi FROM raw1),
        |s1 AS (SELECT CASE WHEN (SELECT r.w FROM raw1 r, n1 WHERE r.i = n1.fi) < 0
        |              THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END AS sgn),
        |e1 AS MATERIALIZED (SELECT raw1.i, round(s1.sgn * raw1.w / n1.n, 6) AS w
        |                    FROM raw1, n1, s1),
        |lam1 AS (SELECT round(sum(a.w * g.gv * b.w), 6) AS l
        |         FROM g JOIN e1 a ON a.i = g.i JOIN e1 b ON b.i = g.j),
        |g2 AS MATERIALIZED (
        |  SELECT g.i, g.j, round(g.gv - lam1.l * a.w * b.w, 6) AS gv
        |  FROM g, lam1, e1 a, e1 b WHERE a.i = g.i AND b.i = g.j),
        |pw2(iter, i, w) AS (
        |  SELECT 0, p.pos, (CASE WHEN p.pos = 1 THEN 1.0 ELSE 0.0 END)::DOUBLE FROM pos p
        |  UNION ALL
        |  SELECT t.iter + 1, t.i,
        |         round(t.gw / sqrt(sum(t.gw * t.gw) OVER (PARTITION BY t.iter)), 9)
        |  FROM (SELECT p.iter, g2.i, sum(g2.gv * p.w) AS gw
        |        FROM pw2 p JOIN g2 ON g2.j = p.i
        |        WHERE p.iter < 40
        |        GROUP BY p.iter, g2.i) t),
        |raw2 AS MATERIALIZED (SELECT i, w FROM pw2 WHERE iter = 40),
        |dp2 AS (SELECT sum(r.w * e1.w) AS dp FROM raw2 r JOIN e1 ON e1.i = r.i),
        |o2 AS MATERIALIZED (SELECT r.i, r.w - dp2.dp * e1.w AS w
        |                    FROM raw2 r JOIN e1 ON e1.i = r.i, dp2),
        |n2 AS (SELECT sqrt(sum(w*w)) AS n,
        |              min(CASE WHEN abs(w) > 1e-12 THEN i END) AS fi FROM o2),
        |s2 AS (SELECT CASE WHEN (SELECT o.w FROM o2 o, n2 WHERE o.i = n2.fi) < 0
        |              THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END AS sgn),
        |e2 AS MATERIALIZED (SELECT o2.i, round(s2.sgn * o2.w / n2.n, 6) AS w
        |                    FROM o2, n2, s2)
        |SELECT cv.vec_id AS id,
        |       round(sum(cv.val * e1.w), 6) AS pc1,
        |       round(sum(cv.val * e2.w), 6) AS pc2
        |FROM cv JOIN e1 ON e1.i = cv.pos JOIN e2 ON e2.i = cv.pos
        |GROUP BY cv.vec_id
        |ORDER BY id""".stripMargin,

    // dim is 1-based here, 0-based in Spark — it's only ever a join
    // key, never output, so the numbering is engine-internal.
    "embedding_drift" ->
      """WITH e AS (
        |  SELECT label AS slice,
        |         unnest(generate_series(1, len(embedding))) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |sd AS (SELECT slice, dim, sum(x) AS s, count(*) AS n FROM e GROUP BY 1, 2),
        |cd AS (SELECT dim, sum(s) / sum(n) AS m_c FROM sd GROUP BY 1)
        |SELECT slice, CAST(max(n) AS BIGINT) AS n_vecs,
        |       round(sqrt(sum((s/n - m_c) * (s/n - m_c))), 6) AS l2_dist,
        |       round(sum((s/n) * m_c) /
        |             (sqrt(sum((s/n) * (s/n))) * sqrt(sum(m_c * m_c))), 6) AS cosine
        |FROM sd JOIN cd USING (dim)
        |GROUP BY slice
        |ORDER BY slice""".stripMargin,
  )
}

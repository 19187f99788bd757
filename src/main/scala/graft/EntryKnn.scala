package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.MetadataFilterDsl
import graft.operators.{BM25, Dedup, Expansion, Graph, Knn, Stop}

/** Vector-search rows: exact/IVF/PQ/Hamming ladders, MMR, batch, retrieval eval.
  *
  * One family slice of the [[SparkEntry]] driver contract (split in
  * r15 so per-round diffs stay reviewable): `queries` entries and
  * their DuckDB `oracle` SQL live side by side; [[SparkEntry]]
  * aggregates the families. Shared fixtures: [[EntryFixtures]];
  * shared oracle CTE builders: [[OracleCtes]]. The determinism
  * rules (DECIMAL money, 6-decimal score rounding before ranking,
  * id tie-breaks, explicit ORDER BY under LIMIT) are documented
  * once on [[SparkEntry]]. */
private[graft] object EntryKnn {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----- similarity search (SURVEY §2.4, J1-J3) -----
    "knn_exact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.exactTopK(emb, Knn.queryVector(emb, 0L), 10)
    }),

    "knn_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Knn.cosineTopK(emb, Knn.queryVector(emb, 0L), 10)
    }),

    "knn_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pred = MetadataFilterDsl
        .toColumn("label not_in [3,4], vec_id>=10", emb).get
      Knn.filteredTopK(emb, Knn.queryVector(emb, 0L), pred, 10)
    }),

    "knn_ivf" -> ((s, dir) => {
      // The persisted-centroid production path: rank the STORED
      // centroids table (nprobe driver-side ints), then scan only the
      // probed partitions of the centroid-partitioned layout —
      // sub-linear in the corpus. Clusters are label-assigned (not
      // KMeans) so the SQL oracle can reproduce the probe set.
      // (Knn.ivfCandidates, which re-derives centroids from the full table,
      // remains the oracle-reproducible formulation only — see its
      // scaladoc.)
      val out = ivfLayoutDir(s, dir)
      val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      graft.pipeline.Index.searchIvf(s, out, qv, nprobe = 4, k = 10, idCol = "vec_id")
    }),

    "knn_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
      Knn.batchTopK(emb, queries, k = 5)
        .orderBy("qid", "rank")
    }),

    "knn_batch_agg" -> ((s, dir) => {
      // Same semantics as knn_batch via the bounded top-k Aggregator
      // (map-side partial aggregation) — both share one oracle.
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
      Knn.batchTopKAgg(emb, queries, k = 5)
        .orderBy("qid", "rank")
    }),

    // Retrieval-quality evaluation (the TREC metrics harness over the
    // retrieval operators' own output): every 20th vector queries the
    // corpus, same-label others are the relevant set, and
    // Eval.retrievalMetrics reads recall/precision/MRR/nDCG@10 per
    // query. Eval-side joins/aggs are all qid-keyed and Q×k-sized.
    "eval_retrieval" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"),
          VectorFunctions.asDouble(col("embedding")).as("qv"))
      val results = Knn.batchTopKAgg(emb, queries, k = 10)
      val qrels = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("ql"))
        .join(emb.select(col("vec_id").as("rel_id"), col("label")),
          col("ql") === col("label"))
        .filter(col("qid") =!= col("rel_id"))
        .select(col("qid"), col("rel_id").as("vec_id"))
      graft.operators.Eval.retrievalMetrics(results, qrels, k = 10,
          docCol = "vec_id")
        .orderBy("qid")
    }),

    // The PRODUCTION retrieval arm through the same metrics harness
    // (r14): the IVF ladder's batched probe-then-scan
    // (Knn.batchIvfTopK over label clusters, nprobe 4 of 8 — the
    // knn_ivf probe discipline) feeds Eval.retrievalMetrics, so
    // recall-vs-truth of the path users actually run at scale is
    // itself a hash-gated number at any SF — not only the exact tier's.
    "eval_retrieval_ivf" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"),
          VectorFunctions.asDouble(col("embedding")).as("qv"))
      val results = Knn.batchIvfTopK(emb, queries, "label",
        nprobe = 4, k = 10)
      val qrels = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("ql"))
        .join(emb.select(col("vec_id").as("rel_id"), col("label")),
          col("ql") === col("label"))
        .filter(col("qid") =!= col("rel_id"))
        .select(col("qid"), col("rel_id").as("vec_id"))
      graft.operators.Eval.retrievalMetrics(results, qrels, k = 10,
          docCol = "vec_id")
        .orderBy("qid")
    }),

    // FIXED-Q retrieval metrics (r15, the r14 BASELINE residual #2):
    // the eval harness's query count grows with the corpus (every 20th
    // vector), which is what makes the family declared-Q×n and
    // sweep-excluded. This arm caps the query set at the 100 LOWEST
    // qualifying ids — identical to eval_retrieval_ivf at sf0.1 (which
    // has exactly 100), a fixed-cost probe harness at any larger SF —
    // so the metrics machinery itself has a sweep-includable row
    // (cost = 100 probes x probed-cluster scans, linear in corpus).
    "eval_retrieval_ivf_q100" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .orderBy("vec_id").limit(100)
        .select(col("vec_id").as("qid"),
          VectorFunctions.asDouble(col("embedding")).as("qv"))
      val results = Knn.batchIvfTopK(emb, queries, "label",
        nprobe = 4, k = 10)
      val qrels = queries.select(col("qid"))
        .join(emb.select(col("vec_id").as("qid"), col("label").as("ql")), "qid")
        .join(emb.select(col("vec_id").as("rel_id"), col("label")),
          col("ql") === col("label"))
        .filter(col("qid") =!= col("rel_id"))
        .select(col("qid"), col("rel_id").as("vec_id"))
      graft.operators.Eval.retrievalMetrics(results, qrels, k = 10,
          docCol = "vec_id")
        .orderBy("qid")
    }),

    // The IVF recall harness over a NATURAL clustering (r15): on the
    // label-blocked arm the IVF recall reads HIGHER than exact because
    // the label IS both the cluster and the relevance definition — a
    // fixture artifact. Here the corpus is blocked on the
    // deterministic k-means assignment (the cluster_kmeans recursion,
    // k = 8, 3 rounds — SQL-replayable), relevance stays label-based,
    // so the recall number reflects what centroid-probing actually
    // loses on the embedding distribution's own structure — the
    // representative production figure (BASELINE recall row).
    "eval_retrieval_ivf_kmeans" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val emb = Tables.embeddings(s, dir)
      val asg = graft.operators.Cluster.kmeansAssign(emb, "vec_id",
          "embedding", k = 8, Stop.Rounds(3))._1
        .select(col("id").as("vec_id"), col("cluster").as("kc"))
      val embC = emb.join(asg, "vec_id")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"),
          VectorFunctions.asDouble(col("embedding")).as("qv"))
      val results = Knn.batchIvfTopK(embC, queries, "kc",
        nprobe = 4, k = 10)
      val qrels = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("ql"))
        .join(emb.select(col("vec_id").as("rel_id"), col("label")),
          col("ql") === col("label"))
        .filter(col("qid") =!= col("rel_id"))
        .select(col("qid"), col("rel_id").as("vec_id"))
      graft.operators.Eval.retrievalMetrics(results, qrels, k = 10,
          docCol = "vec_id")
        .orderBy("qid")
    }),

    "knn_quantized" -> ((s, dir) => {
      import graft.functions.VectorFunctions._
      // Search over int8-quantized vectors: 4x smaller storage, ranked
      // by dequantized inner product. Scale is materialized behind a
      // projection boundary before the per-element lambdas touch it.
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"), dequantizeInt8(col("q")).as("dq"))
      val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding")).as("qv"))
      emb.crossJoin(broadcast(qv))
        .select(col("vec_id"), round(dot(col("dq"), col("qv")), 6).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10)
    }),

    // Product quantization: encode every vector to m=8 codes against
    // k=16 per-subspace centroids, rank by the ADC lookup-table score.
    // Seed codebooks (slices of the 16 lowest-id rows — the ORACLE
    // FORMULATION, Pq.seedCodebooks) let DuckDB rebuild the identical
    // model from the table and check encode + ADC bit-for-bit; the
    // production path trains per-subspace KMeans (Pq.trainCodebooks,
    // pinned by PqSpec) and re-ranks exactly (Index.searchPq).
    "knn_pq" -> ((s, dir) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, dir)
      val cb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)
      val q = emb.filter(col("vec_id") === 7)
        .select(graft.functions.VectorFunctions.asDouble(col("embedding")))
        .head.getSeq[Double](0).toArray
      emb.select(col("vec_id"), Pq.encodeCol(col("embedding"), cb).as("codes"))
        .select(col("vec_id"),
          round(Pq.adcScore(col("codes"), Pq.adcLut(cb, q)), 6).as("adc_score"))
        .orderBy(desc("adc_score"), col("vec_id")).limit(10)
    }),

    // Late-interaction (MaxSim) retrieval: label groups stand in for
    // multi-vector documents, vec_ids 0-2 for the query's token
    // vectors; score = sum over query vectors of the group's best
    // inner product.
    "knn_maxsim" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
      graft.operators.Knn.maxSimTopK(emb, queries, groupCol = "label", k = 5)
    }),

    // MMR diversity re-rank over the exact top-50: distributed fetch,
    // then the inherently-sequential greedy loop on the driver's
    // k-bounded candidate set (the serving-layer scalar). Oracle is a
    // recursive CTE replaying the same greedy selection.
    "knn_mmr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Knn.mmrRerank(emb, graft.operators.Knn.queryVector(emb, 0L),
        k = 10, fetchK = 50, lambda = 0.7)
    }),

    // MMR COMPOSED over the IVF tier (r15): the λ = 0.7 greedy
    // diversity selection fetches its 50 candidates from the nprobe=4
    // probed label clusters (Knn.ivfCandidates — the knn_ivf probe
    // discipline) instead of the exact corpus scan, i.e. the serving
    // path's diversity pass at production candidate cost. The oracle
    // restricts the same probe set (the ivfOracle probed CTE) before
    // replaying the knn_mmr recursive greedy selection.
    "knn_mmr_ivf" -> ((s, dir) => {
      import graft.operators.Knn
      val emb = Tables.embeddings(s, dir)
      val q = Knn.queryVector(emb, 0L)
      Knn.mmrRerank(Knn.ivfCandidates(emb, q, "label", nprobe = 4), q,
        k = 10, fetchK = 50, lambda = 0.7)
    }),

    // The 1-bit tier: axis-sign binary sketches ranked by Hamming
    // similarity (integer xor+popcount over 8 bytes/vector), exact
    // re-rank of the top 50. Completes the compression ladder
    // float -> int8 -> PQ -> binary, all oracle-checked.
    "knn_hamming" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 7)
        .select(graft.functions.VectorFunctions.asDouble(col("embedding")))
        .head.getSeq[Double](0).toArray
      graft.operators.Knn.hammingTopK(emb, q, dims = 64, k = 10, rerank = 50)
    }),

    // The PRODUCTION read path over the persisted 1-bit tier: sketch
    // words stored at build time (8 bytes/vector at 64 dims), so the
    // candidate scan is integer xor+popcount over the binary_sigs
    // table only; floats are touched just for the exact re-rank.
    // knn_hamming above measures sketch-on-the-fly (the build cost);
    // this measures what a query against a standing index pays.
    // Shares knn_hamming's oracle shape (the stored words equal the
    // recomputed ones by construction).
    "knn_hamming_stored" -> ((s, dir) => {
      val out = binaryLayoutDir(s, dir)
      val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      graft.pipeline.Index.searchBinary(s, out, qv,
        dims = 64, k = 10, rerank = 50, idCol = "vec_id")
    }),

    // The PRODUCTION read path over the persisted PQ tier: stored
    // centroids rank the probe set (partition pruning on pq_codes),
    // the ADC pass reads only the codes column, and the float vectors
    // are touched just for the exact re-rank of the rerank=50
    // candidates. knn_pq above measures encode+ADC from scratch (the
    // build cost); this measures what a query actually pays.
    "knn_pq_stored" -> ((s, dir) => {
      val out = pqLayoutDir(s, dir)
      val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 7)
        .select("embedding").head().getSeq[Float](0).toArray
      graft.pipeline.Index.searchPq(s, out, qv,
        nprobe = 4, k = 10, rerank = 50, idCol = "vec_id")
    }),

    "knn_ivf_quantized" -> ((s, dir) => {
      // Composition of the two approximate tiers: centroid-pruned scan
      // (IVF on label clusters, nprobe=4) ranking int8-dequantized
      // vectors — 4x smaller storage AND nprobe/K of the scan. At 100 TB
      // this is the production config: quantized vectors inside
      // partition-pruned cluster files.
      import graft.functions.VectorFunctions._
      val emb = Tables.embeddings(s, dir)
      val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding")).as("qv"))
      val pruned = Knn.ivfCandidates(emb, qv, "label", nprobe = 4)
        .select(col("vec_id"), quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"), dequantizeInt8(col("q")).as("dq"))
      pruned.crossJoin(broadcast(qv))
        .select(col("vec_id"), round(dot(col("dq"), col("qv")), 6).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10)
    }),

    // Hard-negative mining (contrastive training data): for each
    // anchor of a "training batch" (every 20th vector), the 5 most
    // cosine-similar OTHER-label vectors — exact tier as the oracle
    // formulation; the centroid-blocked production tier is pinned in
    // KnnSpec.
    "knn_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Knn.hardNegatives(
          emb.filter(col("vec_id") % 20 === 0), emb,
          "vec_id", "embedding", "label", k = 5)
        .orderBy("id", "rank")
    }),

    // The BLOCK-SCOPED hard-negative tier as its own hash-gated row
    // (r14): production passes a pre-clustering (IVF centroid) as
    // blockCol, so the plan the 100 TB path actually runs — class
    // collapse keyed on (block, label, vector), candidates scoped to
    // the anchor's block — must be oracle-checked, not only
    // measured (BASELINE.md) and spec-pinned. The block is
    // vec_id modulo a CORPUS-SIZED block count (ceil(n/250) — the
    // auto-bits discipline: a FIXED count means block size grows with
    // the corpus and within-block pair mass grows n²; measured 186x at
    // the 100x sweep before this). Integer-exact, so DuckDB replays the
    // identical partition from count(*); the plan shape is
    // byte-for-byte the centroid-blocked one (blockKey stringifies
    // either), and production's analog is scaling the cluster count
    // with the corpus.
    "knn_hard_negatives_blocked" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nb = math.max((emb.count() + 249) / 250, 1L)
      val withBlk = emb.withColumn("blkn", pmod(col("vec_id"), lit(nb)))
      graft.operators.Knn.hardNegatives(
          withBlk.filter(col("vec_id") % 20 === 0), withBlk,
          "vec_id", "embedding", "label", k = 5, blockCol = Some("blkn"))
        .orderBy("id", "rank")
    }),

    // ----- similarity-graph analytics (curation signals) -----
    // Exact cosine kNN graph: the adjacency every graph-level curation
    // signal consumes. All-pairs tier = the oracle formulation; the
    // LSH-blocked production tier is recall-pinned in GraphSpec.
    "knn_graph" -> ((s, dir) => {
      Graph.knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 3)
        .orderBy("id", "rnk")
    }),

    // The production-tier LSH kNN graph as its own oracle-checked query
    // (same knobs GraphSpec measures recall at): multi-table sign-LSH
    // bucket candidates, exact cosine re-rank — the formulation that
    // replaces knn_graph's O(n^2) cross join at 100 TB.
    "knn_graph_lsh" -> ((s, dir) => {
      // bits = 0 -> AUTO-sized from the corpus count (smallest b in
      // [4, 16] with 2^b * 64 >= n — expected bucket occupancy <= 64).
      // The r12 sf1 sweep showed why the knob must scale with the
      // data: pinned bits=4 means pair mass grows n^2/16, and the 10x
      // corpus measured 61x (replicated) / 20x (perturbed). The oracle
      // replays the same integer-exact bit selection, so the hash gate
      // pins the auto path itself, at every SF.
      Graph.knnGraphLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 3, dims = 64, bits = 0, tables = 8)
        .orderBy("id", "rnk")
    }),

    // The block-scoped LSH kNN graph as its own hash-gated row (r14):
    // blockCol is the documented past-16-bits scale path (bucket keys
    // become (block, signature)), previously measured (BASELINE.md)
    // and spec-pinned but not oracle-gated. `label`
    // is a deterministic column of the table, so the oracle replays
    // the same block scoping by adding the label equality to the
    // bucket self-join. Since r15 auto bits size from the LARGEST
    // BLOCK's count (per-block occupancy <= 64 — recall 0.450 vs the
    // global key's 0.312, BASELINE.md r14); the oracle's nb CTE
    // replays the same GROUP BY lbl + max scan.
    "knn_graph_lsh_blocked" -> ((s, dir) => {
      Graph.knnGraphLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 3, dims = 64, bits = 0, tables = 8, blockCol = Some("label"))
        .orderBy("id", "rnk")
    }),
  )

  def oracle: Map[String, String] = Map(

    "knn_exact" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    "knn_cosine" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(list_inner_product(e.embedding::DOUBLE[], q.qv) /
        |             (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |              sqrt(list_inner_product(q.qv, q.qv))), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    "knn_filtered" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |FROM embeddings e, q
        |WHERE (e.label IS NULL OR NOT (e.label::DOUBLE = 3.0 OR e.label::DOUBLE = 4.0))
        |  AND (e.vec_id IS NOT NULL AND e.vec_id::DOUBLE >= 10.0)
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    "knn_ivf" -> ivfOracle,

    "knn_ivf_quantized" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cent AS (
        |  SELECT label AS cluster, i AS pos, avg(embedding[i]::DOUBLE) AS cv
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cs AS (SELECT cluster, round(sum(cv * qv[pos]), 6) AS cscore FROM cent, q GROUP BY cluster),
        |probed AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 4),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE label IN (SELECT cluster FROM probed)),
        |sc AS (SELECT vec_id, v,
        |              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |       FROM e),
        |dq AS (SELECT vec_id,
        |              CASE WHEN scale > 0
        |                   THEN list_transform(v, x -> round(x / scale)::INT * scale)
        |                   ELSE list_transform(v, x -> 0.0) END AS dqv
        |       FROM sc)
        |SELECT d.vec_id, round(list_inner_product(d.dqv, q.qv), 6) AS score
        |FROM dq d, q
        |ORDER BY score DESC, d.vec_id
        |LIMIT 10""".stripMargin,

    "knn_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS id, c.vec_id AS neg_id,
        |         round(list_inner_product(a.v, c.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(c.v, c.v))), 6) AS cosine
        |  FROM e a JOIN e c ON a.label <> c.label
        |  WHERE a.vec_id % 20 = 0),
        |r AS (
        |  SELECT id, neg_id, cosine,
        |         row_number() OVER (PARTITION BY id
        |                            ORDER BY cosine DESC, neg_id) AS rank
        |  FROM s)
        |SELECT id, rank, neg_id, cosine
        |FROM r WHERE rank <= 5
        |ORDER BY id, rank""".stripMargin,

    // The blocked tier: identical to knn_hard_negatives plus the block
    // equality in the candidate join. The block count replays the Spark
    // side's integer-exact ceil(count/250) — bounded block SIZE at any
    // corpus scale, so the row's cost is linear where a fixed count
    // would be quadratic.
    "knn_hard_negatives_blocked" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |nb AS (SELECT greatest((count(*) + 249) // 250, 1) AS b FROM e),
        |s AS (
        |  SELECT a.vec_id AS id, c.vec_id AS neg_id,
        |         round(list_inner_product(a.v, c.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(c.v, c.v))), 6) AS cosine
        |  FROM e a JOIN e c ON a.label <> c.label
        |                   AND a.vec_id % (SELECT b FROM nb) = c.vec_id % (SELECT b FROM nb)
        |  WHERE a.vec_id % 20 = 0),
        |r AS (
        |  SELECT id, neg_id, cosine,
        |         row_number() OVER (PARTITION BY id
        |                            ORDER BY cosine DESC, neg_id) AS rank
        |  FROM s)
        |SELECT id, rank, neg_id, cosine
        |FROM r WHERE rank <= 5
        |ORDER BY id, rank""".stripMargin,

    // Exact cosine kNN graph: same all-pairs scoring, per-node rank by
    // (score desc, nb) — the window formulation IS the oracle for the
    // bounded-aggregator plan (identical output by construction).
    "knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nb,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS score
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT id, nb, score,
        |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk
        |      FROM p)
        |SELECT id, nb, rnk, score FROM r WHERE rnk <= 3
        |ORDER BY id, rnk""".stripMargin,

    // The LSH-blocked kNN graph replayed end to end: splitmix64 plane
    // derivation in HUGEINT mod-2^64 arithmetic (the hashEmbedCtes
    // machinery), per-(table, bit) projections, bucket keys, bucket
    // self-join candidates, exact cosine re-rank. The oracle's plane
    // weights skip the final /2^63 scaling (sign-equivalent: only
    // proj > 0 matters, and the HUGEINT->DOUBLE cast is last-ulp
    // portable where the scaled division is not). The `nb` CTE replays
    // Graph.autoLshBits's integer-exact bit selection (smallest b in
    // [4,16] with 2^b*64 >= n); the `e` CTE mirrors the Spark side's
    // base filter (non-null id/vector, non-zero norm) so the two
    // counts agree BY CONSTRUCTION — a single null or zero vector in
    // the table must not flip the selected bit width between engines.
    //
    // RESIDUAL RISK (documented, accepted): sign-equivalence holds in
    // exact arithmetic only. Spark's dot() sums the 64 products in
    // fixed sequential order; DuckDB's sum() order is unspecified, and
    // the per-term scaling differs — so a projection landing within
    // ~64 ulps of zero (|proj| ~ 1e4 against magnitudes ~1e17, odds
    // ~1e-13 per projection, ~1e-7 per full sf0.1 run) could flip one
    // bucket bit between engines. We accept that over quantizing proj
    // to a coarse grid, which merely relocates the same measure-zero
    // boundary from 0 to the grid edges without shrinking it.
    "knn_graph_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |             AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |nb AS (SELECT coalesce(
        |         (SELECT min(c.b) FROM (SELECT unnest(generate_series(4, 16)) AS b) c
        |          WHERE (1::BIGINT << c.b) * 64 >= (SELECT count(*) FROM e)), 16) AS bits),
        |bt AS (SELECT t.t, b.b, d.d, (1000 + t.t + b.b * 1000003 + d.d)::HUGEINT AS z0
        |       FROM (SELECT unnest(generate_series(0, 7)) AS t) t,
        |            (SELECT unnest(generate_series(0, (SELECT bits - 1 FROM nb))) AS b) b,
        |            (SELECT unnest(generate_series(0, 63)) AS d) d),
        |p0 AS (SELECT t, b, d, (z0 + 11400714819323198485) % 18446744073709551616 AS z FROM bt),
        |p1 AS (SELECT t, b, d, xor(z, z // 1073741824) AS z FROM p0),
        |p2 AS (SELECT t, b, d, (((z) % 4294967296) * 484763065 + ((((z) % 4294967296) * 3210233709 + ((z) // 4294967296) * 484763065) % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p3 AS (SELECT t, b, d, xor(z, z // 134217728) AS z FROM p2),
        |p4 AS (SELECT t, b, d, (((z) % 4294967296) * 321982955 + ((((z) % 4294967296) * 2496678331 + ((z) // 4294967296) * 321982955) % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p3),
        |p5 AS (SELECT t, b, d, xor(z, z // 2147483648) AS z FROM p4),
        |pl AS (SELECT t, b, d,
        |        (CASE WHEN z >= 9223372036854775808 THEN z - 18446744073709551616 ELSE z END)::DOUBLE AS w
        |       FROM p5),
        |ev AS (SELECT vec_id, d.d, v[d.d + 1] AS val
        |       FROM e, (SELECT unnest(generate_series(0, 63)) AS d) d),
        |pj AS (SELECT ev.vec_id, pl.t, pl.b, sum(ev.val * pl.w) AS proj
        |       FROM ev JOIN pl USING (d) GROUP BY 1, 2, 3),
        |ky AS (SELECT vec_id, t,
        |        sum(CASE WHEN proj > 0 THEN (1::BIGINT << b) ELSE 0 END) AS key
        |       FROM pj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id, b.vec_id AS nb
        |         FROM ky a JOIN ky b ON a.t = b.t AND a.key = b.key AND a.vec_id <> b.vec_id),
        |sc AS (SELECT c.id, c.nb,
        |        round(list_inner_product(ea.v, eb.v) /
        |              (sqrt(list_inner_product(ea.v, ea.v)) *
        |               sqrt(list_inner_product(eb.v, eb.v))), 6) AS score
        |       FROM cand c JOIN e ea ON ea.vec_id = c.id JOIN e eb ON eb.vec_id = c.nb),
        |r AS (SELECT id, nb, score,
        |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk FROM sc)
        |SELECT id, nb, rnk, score FROM r WHERE rnk <= 3 ORDER BY id, rnk""".stripMargin,

    // The block-scoped variant: the same splitmix64 plane replay, with
    // the label equality added to the bucket self-join — bucket keys
    // are (block, table, signature) on the Spark side, so the oracle
    // scopes candidates identically. The lbl CTE mirrors
    // Knn.blockKey's null sentinel (chr(0) || 'null') so a null label
    // would form its own block in BOTH engines rather than dropping
    // from one. Auto bits size from the LARGEST block's count (r15
    // default — per-block occupancy <= 64): the mb CTE is the same
    // GROUP BY lbl + max the Spark side computes, integer-exact.
    // r16 escape valve replay: keys compute at the FULL 16 bits (bit b
    // depends only on (seed, b), so a b-bit key is the 16-bit key's low
    // b bits — key % 2^b); the occ CTE measures each block's largest
    // table-0 cell at the base width over DISTINCT vectors (the Spark
    // side's identical-vector class collapse), the bb CTE escalates a
    // hot block's width integer-exactly (smallest base+e <= 16 with
    // occ <= 256 << e), and the candidate join masks each side's key
    // by ITS block's width.
    "knn_graph_lsh_blocked" ->
      """WITH e AS (SELECT vec_id, coalesce(label::VARCHAR, chr(0) || 'null') AS lbl,
        |                  embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |             AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
        |mb AS (SELECT coalesce(max(cnt), 0) AS mx FROM
        |         (SELECT count(*) AS cnt FROM e GROUP BY lbl)),
        |nb AS (SELECT coalesce(
        |         (SELECT min(c.b) FROM (SELECT unnest(generate_series(4, 16)) AS b) c
        |          WHERE (1::BIGINT << c.b) * 64 >= (SELECT mx FROM mb)), 16) AS bits),
        |bt AS (SELECT t.t, b.b, d.d, (1000 + t.t + b.b * 1000003 + d.d)::HUGEINT AS z0
        |       FROM (SELECT unnest(generate_series(0, 7)) AS t) t,
        |            (SELECT unnest(generate_series(0, 15)) AS b) b,
        |            (SELECT unnest(generate_series(0, 63)) AS d) d),
        |p0 AS (SELECT t, b, d, (z0 + 11400714819323198485) % 18446744073709551616 AS z FROM bt),
        |p1 AS (SELECT t, b, d, xor(z, z // 1073741824) AS z FROM p0),
        |p2 AS (SELECT t, b, d, (((z) % 4294967296) * 484763065 + ((((z) % 4294967296) * 3210233709 + ((z) // 4294967296) * 484763065) % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p3 AS (SELECT t, b, d, xor(z, z // 134217728) AS z FROM p2),
        |p4 AS (SELECT t, b, d, (((z) % 4294967296) * 321982955 + ((((z) % 4294967296) * 2496678331 + ((z) // 4294967296) * 321982955) % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p3),
        |p5 AS (SELECT t, b, d, xor(z, z // 2147483648) AS z FROM p4),
        |pl AS (SELECT t, b, d,
        |        (CASE WHEN z >= 9223372036854775808 THEN z - 18446744073709551616 ELSE z END)::DOUBLE AS w
        |       FROM p5),
        |ev AS (SELECT vec_id, d.d, v[d.d + 1] AS val
        |       FROM e, (SELECT unnest(generate_series(0, 63)) AS d) d),
        |pj AS (SELECT ev.vec_id, pl.t, pl.b, sum(ev.val * pl.w) AS proj
        |       FROM ev JOIN pl USING (d) GROUP BY 1, 2, 3),
        |ky AS (SELECT pj.vec_id, e2.lbl, pj.t,
        |        sum(CASE WHEN proj > 0 THEN (1::BIGINT << b) ELSE 0 END) AS key
        |       FROM pj JOIN e e2 ON e2.vec_id = pj.vec_id GROUP BY 1, 2, 3),
        |occ AS (SELECT lbl, max(cnt) AS mx FROM (
        |          SELECT k.lbl, k.key % (1::BIGINT << (SELECT bits FROM nb)) AS mk,
        |                 count(DISTINCT e2.v) AS cnt
        |          FROM ky k JOIN e e2 ON e2.vec_id = k.vec_id
        |          WHERE k.t = 0 GROUP BY 1, 2) GROUP BY lbl),
        |bb AS (SELECT o.lbl, coalesce(
        |         (SELECT min((SELECT bits FROM nb) + c.e)
        |          FROM (SELECT unnest(generate_series(0, 12)) AS e) c
        |          WHERE (SELECT bits FROM nb) + c.e <= 16
        |            AND o.mx <= 256 * (1::BIGINT << c.e)), 16) AS bb
        |       FROM occ o),
        |cand AS (SELECT DISTINCT a.vec_id AS id, b.vec_id AS nb
        |         FROM ky a JOIN ky b ON a.t = b.t AND a.lbl = b.lbl
        |                            AND a.vec_id <> b.vec_id
        |         JOIN bb ON bb.lbl = a.lbl
        |         WHERE a.key % (1::BIGINT << bb.bb) = b.key % (1::BIGINT << bb.bb)),
        |sc AS (SELECT c.id, c.nb,
        |        round(list_inner_product(ea.v, eb.v) /
        |              (sqrt(list_inner_product(ea.v, ea.v)) *
        |               sqrt(list_inner_product(eb.v, eb.v))), 6) AS score
        |       FROM cand c JOIN e ea ON ea.vec_id = c.id JOIN e eb ON eb.vec_id = c.nb),
        |r AS (SELECT id, nb, score,
        |        row_number() OVER (PARTITION BY id ORDER BY score DESC, nb) AS rnk FROM sc)
        |SELECT id, nb, rnk, score FROM r WHERE rnk <= 3 ORDER BY id, rnk""".stripMargin,

    "knn_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |         round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, vec_id, score,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, rank, vec_id, score
        |FROM ranked
        |WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    "knn_batch_agg" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |         round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |  FROM embeddings e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, vec_id, score,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY score DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, rank, vec_id, score
        |FROM ranked
        |WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Replays the batch top-10 (knn_batch_agg's ranking, score rounded
    // to 6 with vec_id tie-break, so ranked lists are engine-identical)
    // then computes the metrics. log2 is spelled ln(2)/ln(x) in both
    // engines; DCG/ideal-DCG ratios round to 6 after the sums.
    "eval_retrieval" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 20 = 0),
        |scored AS (
        |  SELECT q.qid, q.ql, e.vec_id, e.label,
        |         round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |  FROM embeddings e CROSS JOIN q),
        |res AS (
        |  SELECT * FROM (
        |    SELECT qid, ql, vec_id, label,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY score DESC, vec_id) AS rank
        |    FROM scored)
        |  WHERE rank <= 10),
        |nrel AS (
        |  SELECT q.qid, count(*) AS n_rel
        |  FROM q JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.qid
        |  GROUP BY q.qid),
        |hits AS (
        |  SELECT qid, count(*) AS n_hits, min(rank) AS fr,
        |         sum(ln(2.0) / ln(rank + 1.0)) AS dcg
        |  FROM res WHERE label = ql AND vec_id <> qid
        |  GROUP BY qid)
        |SELECT b.qid,
        |       coalesce(n.n_rel, 0) AS n_rel,
        |       coalesce(h.n_hits, 0) AS n_hits,
        |       round(coalesce(h.n_hits, 0) / 10.0, 6) AS precision_k,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.n_hits, 0)::DOUBLE / n.n_rel
        |                  ELSE 0.0 END, 6) AS recall_k,
        |       round(coalesce(1.0 / h.fr, 0.0), 6) AS rr,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.dcg, 0.0) /
        |                       list_sum(list_transform(
        |                         generate_series(1, greatest(least(n.n_rel, 10), 1)),
        |                         i -> ln(2.0) / ln(i + 1.0)))
        |                  ELSE 0.0 END, 6) AS ndcg
        |FROM (SELECT DISTINCT qid FROM scored UNION SELECT qid FROM nrel) b
        |LEFT JOIN nrel n USING (qid)
        |LEFT JOIN hits h USING (qid)
        |ORDER BY qid""".stripMargin,
    // The production-arm metrics (r14): identical harness SQL, with
    // scored restricted to each query's nprobe=4 probed label clusters
    // (the knn_ivf probe replay, batched per qid). recall_k here IS
    // the IVF tier's recall-vs-truth, hash-gated per query.
    "eval_retrieval_ivf" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 20 = 0),
        |cent AS (
        |  SELECT label AS cluster, i AS pos, avg(embedding[i]::DOUBLE) AS cv
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cs AS (SELECT q.qid, cluster, round(sum(cv * qv[pos]), 6) AS cscore
        |       FROM cent, q GROUP BY 1, 2),
        |probed AS (
        |  SELECT qid, cluster FROM (
        |    SELECT qid, cluster,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY cscore DESC, cluster) AS pr
        |    FROM cs)
        |  WHERE pr <= 4),
        |scored AS (
        |  SELECT q.qid, q.ql, e.vec_id, e.label,
        |         round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |  FROM q JOIN probed p ON p.qid = q.qid
        |         JOIN embeddings e ON e.label = p.cluster),
        |res AS (
        |  SELECT * FROM (
        |    SELECT qid, ql, vec_id, label,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY score DESC, vec_id) AS rank
        |    FROM scored)
        |  WHERE rank <= 10),
        |nrel AS (
        |  SELECT q.qid, count(*) AS n_rel
        |  FROM q JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.qid
        |  GROUP BY q.qid),
        |hits AS (
        |  SELECT qid, count(*) AS n_hits, min(rank) AS fr,
        |         sum(ln(2.0) / ln(rank + 1.0)) AS dcg
        |  FROM res WHERE label = ql AND vec_id <> qid
        |  GROUP BY qid)
        |SELECT b.qid,
        |       coalesce(n.n_rel, 0) AS n_rel,
        |       coalesce(h.n_hits, 0) AS n_hits,
        |       round(coalesce(h.n_hits, 0) / 10.0, 6) AS precision_k,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.n_hits, 0)::DOUBLE / n.n_rel
        |                  ELSE 0.0 END, 6) AS recall_k,
        |       round(coalesce(1.0 / h.fr, 0.0), 6) AS rr,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.dcg, 0.0) /
        |                       list_sum(list_transform(
        |                         generate_series(1, greatest(least(n.n_rel, 10), 1)),
        |                         i -> ln(2.0) / ln(i + 1.0)))
        |                  ELSE 0.0 END, 6) AS ndcg
        |FROM (SELECT DISTINCT qid FROM scored UNION SELECT qid FROM nrel) b
        |LEFT JOIN nrel n USING (qid)
        |LEFT JOIN hits h USING (qid)
        |ORDER BY qid""".stripMargin,

    // eval_retrieval_ivf with the query set capped at the 100 lowest
    // qualifying ids (the fixed-Q sweep-includable arm; identical at
    // sf0.1, which has exactly 100 qualifying vectors).
    "eval_retrieval_ivf_q100" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 20 = 0
        |           ORDER BY vec_id LIMIT 100),
        |cent AS (
        |  SELECT label AS cluster, i AS pos, avg(embedding[i]::DOUBLE) AS cv
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cs AS (SELECT q.qid, cluster, round(sum(cv * qv[pos]), 6) AS cscore
        |       FROM cent, q GROUP BY 1, 2),
        |probed AS (
        |  SELECT qid, cluster FROM (
        |    SELECT qid, cluster,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY cscore DESC, cluster) AS pr
        |    FROM cs)
        |  WHERE pr <= 4),
        |scored AS (
        |  SELECT q.qid, q.ql, e.vec_id, e.label,
        |         round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
        |  FROM q JOIN probed p ON p.qid = q.qid
        |         JOIN embeddings e ON e.label = p.cluster),
        |res AS (
        |  SELECT * FROM (
        |    SELECT qid, ql, vec_id, label,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY score DESC, vec_id) AS rank
        |    FROM scored)
        |  WHERE rank <= 10),
        |nrel AS (
        |  SELECT q.qid, count(*) AS n_rel
        |  FROM q JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.qid
        |  GROUP BY q.qid),
        |hits AS (
        |  SELECT qid, count(*) AS n_hits, min(rank) AS fr,
        |         sum(ln(2.0) / ln(rank + 1.0)) AS dcg
        |  FROM res WHERE label = ql AND vec_id <> qid
        |  GROUP BY qid)
        |SELECT b.qid,
        |       coalesce(n.n_rel, 0) AS n_rel,
        |       coalesce(h.n_hits, 0) AS n_hits,
        |       round(coalesce(h.n_hits, 0) / 10.0, 6) AS precision_k,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.n_hits, 0)::DOUBLE / n.n_rel
        |                  ELSE 0.0 END, 6) AS recall_k,
        |       round(coalesce(1.0 / h.fr, 0.0), 6) AS rr,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.dcg, 0.0) /
        |                       list_sum(list_transform(
        |                         generate_series(1, greatest(least(n.n_rel, 10), 1)),
        |                         i -> ln(2.0) / ln(i + 1.0)))
        |                  ELSE 0.0 END, 6) AS ndcg
        |FROM (SELECT DISTINCT qid FROM scored UNION SELECT qid FROM nrel) b
        |LEFT JOIN nrel n USING (qid)
        |LEFT JOIN hits h USING (qid)
        |ORDER BY qid""".stripMargin,

    // eval_retrieval_ivf with the probe blocking swapped from `label`
    // to the cluster_kmeans recursion's assignment (k = 8, 3 rounds):
    // cent0/fin/asg replay the deterministic Lloyd loop, cent averages
    // per ASSIGNED cluster, and the probe/score/metrics tail is the
    // label arm's unchanged. Relevance stays label-based.
    "eval_retrieval_ivf_kmeans" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
        |cent0(iter, cluster, c) AS (
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
        |      FROM cent0 c, e
        |      WHERE c.iter < 3
        |      GROUP BY c.iter, e.vec_id, e.v
        |    ) a, (SELECT unnest(generate_series(1, 64)) AS pos) p
        |    GROUP BY a.iter, a.cluster, p.pos
        |  )
        |  GROUP BY iter, cluster
        |),
        |fin AS (SELECT cluster, c FROM cent0 WHERE iter = 3),
        |asg AS (
        |  SELECT vec_id, m.cl AS kc
        |  FROM (
        |    SELECT e.vec_id,
        |           min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                  - 2 * list_inner_product(e.v, fin.c)
        |                  + list_inner_product(fin.c, fin.c), 6),
        |               cl := fin.cluster)) AS m
        |    FROM e, fin
        |    GROUP BY e.vec_id)),
        |q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM e WHERE vec_id % 20 = 0),
        |cent AS (
        |  SELECT a.kc AS cluster, p.pos, avg(e.v[p.pos]) AS cv
        |  FROM e JOIN asg a USING (vec_id),
        |       (SELECT unnest(generate_series(1, 64)) AS pos) p
        |  GROUP BY 1, 2),
        |cs AS (SELECT q.qid, cluster, round(sum(cv * qv[pos]), 6) AS cscore
        |       FROM cent, q GROUP BY 1, 2),
        |probed AS (
        |  SELECT qid, cluster FROM (
        |    SELECT qid, cluster,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY cscore DESC, cluster) AS pr
        |    FROM cs)
        |  WHERE pr <= 4),
        |scored AS (
        |  SELECT q.qid, q.ql, e.vec_id, e.label,
        |         round(list_inner_product(e.v, q.qv), 6) AS score
        |  FROM q JOIN probed p ON p.qid = q.qid
        |         JOIN asg a ON a.kc = p.cluster
        |         JOIN e ON e.vec_id = a.vec_id),
        |res AS (
        |  SELECT * FROM (
        |    SELECT qid, ql, vec_id, label,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY score DESC, vec_id) AS rank
        |    FROM scored)
        |  WHERE rank <= 10),
        |nrel AS (
        |  SELECT q.qid, count(*) AS n_rel
        |  FROM q JOIN e ON e.label = q.ql AND e.vec_id <> q.qid
        |  GROUP BY q.qid),
        |hits AS (
        |  SELECT qid, count(*) AS n_hits, min(rank) AS fr,
        |         sum(ln(2.0) / ln(rank + 1.0)) AS dcg
        |  FROM res WHERE label = ql AND vec_id <> qid
        |  GROUP BY qid)
        |SELECT b.qid,
        |       coalesce(n.n_rel, 0) AS n_rel,
        |       coalesce(h.n_hits, 0) AS n_hits,
        |       round(coalesce(h.n_hits, 0) / 10.0, 6) AS precision_k,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.n_hits, 0)::DOUBLE / n.n_rel
        |                  ELSE 0.0 END, 6) AS recall_k,
        |       round(coalesce(1.0 / h.fr, 0.0), 6) AS rr,
        |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
        |                  THEN coalesce(h.dcg, 0.0) /
        |                       list_sum(list_transform(
        |                         generate_series(1, greatest(least(n.n_rel, 10), 1)),
        |                         i -> ln(2.0) / ln(i + 1.0)))
        |                  ELSE 0.0 END, 6) AS ndcg
        |FROM (SELECT DISTINCT qid FROM scored UNION SELECT qid FROM nrel) b
        |LEFT JOIN nrel n USING (qid)
        |LEFT JOIN hits h USING (qid)
        |ORDER BY qid""".stripMargin,

    "knn_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |       FROM e),
        |dq AS (SELECT vec_id,
        |              CASE WHEN scale > 0
        |                   THEN list_transform(v, x -> round(x / scale)::INT * scale)
        |                   ELSE list_transform(v, x -> 0.0) END AS dqv
        |       FROM sc),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT d.vec_id, round(list_inner_product(d.dqv, q.qv), 6) AS score
        |FROM dq d, q
        |ORDER BY score DESC, d.vec_id
        |LIMIT 10""".stripMargin,

    // Rebuilds the seed codebooks from the same table (subvector slices
    // of the 16 lowest-vec_id rows), encodes every vector by sequential
    // sum-of-squared-diffs argmin (first-win tie = ORDER BY dist, code),
    // and ADC-scores via the per-subspace q·centroid products — the
    // exact arithmetic PqEncode/adcLut perform. list_inner_product is a
    // sequential double fold, matching the expression's loops.
    "knn_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
        |  FROM e ORDER BY vec_id LIMIT 16),
        |subs AS (SELECT unnest(range(0, 8)) AS m),
        |cb AS (
        |  SELECT subs.m, seeds.code,
        |         list_transform(range(1, 9), j -> seeds.v[subs.m * 8 + j]) AS cent
        |  FROM subs CROSS JOIN seeds),
        |dists AS (
        |  SELECT e.vec_id, cb.m, cb.code,
        |         list_inner_product(
        |           list_transform(range(1, 9), j -> e.v[cb.m * 8 + j] - cb.cent[j]),
        |           list_transform(range(1, 9), j -> e.v[cb.m * 8 + j] - cb.cent[j])) AS dist
        |  FROM e CROSS JOIN cb),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |           row_number() OVER (PARTITION BY vec_id, m
        |                              ORDER BY dist ASC, code ASC) AS rn
        |    FROM dists)
        |  WHERE rn = 1),
        |lut AS (
        |  SELECT cb.m, cb.code,
        |         list_inner_product(
        |           list_transform(range(1, 9), j -> q.qv[cb.m * 8 + j]), cb.cent) AS pdot
        |  FROM cb, q)
        |SELECT c.vec_id, round(sum(l.pdot), 6) AS adc_score
        |FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
        |GROUP BY c.vec_id
        |ORDER BY adc_score DESC, c.vec_id
        |LIMIT 10""".stripMargin,

    "knn_maxsim" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 3),
        |s AS (
        |  SELECT e.label AS grp, q.qid,
        |         max(list_inner_product(e.embedding::DOUBLE[], q.qv)) AS best
        |  FROM embeddings e CROSS JOIN q
        |  GROUP BY 1, 2)
        |SELECT grp, round(sum(best), 6) AS maxsim_score
        |FROM s
        |GROUP BY grp
        |ORDER BY maxsim_score DESC, grp
        |LIMIT 5""".stripMargin,

    // The greedy MMR selection replayed as a recursive CTE. (1.0 - 0.7)
    // stays UNSIMPLIFIED: 1.0-0.7 != 0.3 in doubles, and the Scala side
    // computes (1 - lambda) the same way. Sims round to 6 BEFORE the
    // max, mmr values before the argmax — selection is therefore
    // engine-deterministic with vec_id tie-breaks.
    "knn_mmr" ->
      """WITH RECURSIVE q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id,
        |         round(list_inner_product(embedding::DOUBLE[], q.qv), 6) AS rel,
        |         list_transform(embedding::DOUBLE[],
        |           x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS nv
        |  FROM embeddings, q
        |  ORDER BY rel DESC, vec_id
        |  LIMIT 50),
        |sel(step, ids, picked, score) AS (
        |  SELECT 1, [c.vec_id], c.vec_id, c.rel
        |  FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1) c
        |  UNION ALL
        |  SELECT s.step + 1, list_append(s.ids, n.vec_id), n.vec_id, n.mmr
        |  FROM sel s, LATERAL (
        |    SELECT c.vec_id,
        |           round(0.7 * c.rel - (1.0 - 0.7) * (
        |             SELECT max(round(list_inner_product(c.nv, c2.nv), 6))
        |             FROM cand c2 WHERE list_contains(s.ids, c2.vec_id)), 6) AS mmr
        |    FROM cand c WHERE NOT list_contains(s.ids, c.vec_id)
        |    ORDER BY mmr DESC, c.vec_id LIMIT 1) n
        |  WHERE s.step < 10)
        |SELECT CAST(step AS INT) AS rank, picked AS vec_id, score
        |FROM sel
        |ORDER BY rank""".stripMargin,

    // knn_mmr's recursive greedy replay with the candidate pool
    // restricted to the ivfOracle probe set (label-cluster centroids
    // ranked vs the query, nprobe = 4) — the IVF-tier composition.
    "knn_mmr_ivf" ->
      """WITH RECURSIVE q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cent AS (
        |  SELECT label AS cluster, i AS pos, avg(embedding[i]::DOUBLE) AS cv
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cs AS (SELECT cluster, round(sum(cv * qv[pos]), 6) AS cscore FROM cent, q GROUP BY cluster),
        |probed AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 4),
        |cand AS (
        |  SELECT vec_id,
        |         round(list_inner_product(embedding::DOUBLE[], q.qv), 6) AS rel,
        |         list_transform(embedding::DOUBLE[],
        |           x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS nv
        |  FROM embeddings, q
        |  WHERE label IN (SELECT cluster FROM probed)
        |  ORDER BY rel DESC, vec_id
        |  LIMIT 50),
        |sel(step, ids, picked, score) AS (
        |  SELECT 1, [c.vec_id], c.vec_id, c.rel
        |  FROM (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT 1) c
        |  UNION ALL
        |  SELECT s.step + 1, list_append(s.ids, n.vec_id), n.vec_id, n.mmr
        |  FROM sel s, LATERAL (
        |    SELECT c.vec_id,
        |           round(0.7 * c.rel - (1.0 - 0.7) * (
        |             SELECT max(round(list_inner_product(c.nv, c2.nv), 6))
        |             FROM cand c2 WHERE list_contains(s.ids, c2.vec_id)), 6) AS mmr
        |    FROM cand c WHERE NOT list_contains(s.ids, c.vec_id)
        |    ORDER BY mmr DESC, c.vec_id LIMIT 1) n
        |  WHERE s.step < 10)
        |SELECT CAST(step AS INT) AS rank, picked AS vec_id, score
        |FROM sel
        |ORDER BY rank""".stripMargin,

    // Binary words built with the same 32-bit split as Knn.binaryWord
    // (positive BIGINT range, no signed-shift edge); integer Hamming
    // sims make the candidate cut deterministic without rounding.
    "knn_hamming" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
        |sig AS (
        |  SELECT vec_id,
        |         CAST(list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS w0,
        |         CAST(list_sum(list_transform(range(33, 65),
        |           i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS w1
        |  FROM e),
        |qs AS (
        |  SELECT CAST(list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS qw0,
        |         CAST(list_sum(list_transform(range(33, 65),
        |           i -> CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS qw1
        |  FROM q),
        |cand AS (
        |  SELECT s.vec_id,
        |         64 - (bit_count(xor(s.w0, qs.qw0)) + bit_count(xor(s.w1, qs.qw1))) AS hs
        |  FROM sig s, qs
        |  ORDER BY hs DESC, s.vec_id
        |  LIMIT 50)
        |SELECT e.vec_id, round(list_inner_product(e.v, q.qv), 6) AS score
        |FROM e JOIN cand ON e.vec_id = cand.vec_id, q
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    // Stored 1-bit tier: identical math to knn_hamming (the persisted
    // words equal the recomputed ones by construction), so the oracle
    // recomputes sketches from the float table.
    "knn_hamming_stored" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
        |sig AS (
        |  SELECT vec_id,
        |         CAST(list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS w0,
        |         CAST(list_sum(list_transform(range(33, 65),
        |           i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS w1
        |  FROM e),
        |qs AS (
        |  SELECT CAST(list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS qw0,
        |         CAST(list_sum(list_transform(range(33, 65),
        |           i -> CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS qw1
        |  FROM q),
        |cand AS (
        |  SELECT s.vec_id,
        |         64 - (bit_count(xor(s.w0, qs.qw0)) + bit_count(xor(s.w1, qs.qw1))) AS hs
        |  FROM sig s, qs
        |  ORDER BY hs DESC, s.vec_id
        |  LIMIT 50)
        |SELECT e.vec_id, round(list_inner_product(e.v, q.qv), 6) AS score
        |FROM e JOIN cand ON e.vec_id = cand.vec_id, q
        |ORDER BY score DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    // The stored-tier read path: probe = label-cluster mean ranking
    // (same probe arithmetic as the knn_ivf oracle), ADC restricted to
    // the probed clusters, exact re-rank of the ADC top-50. Mirrors
    // Index.searchPq stage for stage.
    "knn_pq_stored" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
        |cent AS (
        |  SELECT label AS cluster, i AS pos, avg(embedding[i]::DOUBLE) AS cv
        |  FROM embeddings CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cs AS (SELECT cluster, round(sum(cv * qv[pos]), 6) AS cscore FROM cent, q GROUP BY cluster),
        |probed AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 4),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
        |  FROM e ORDER BY vec_id LIMIT 16),
        |subs AS (SELECT unnest(range(0, 8)) AS m),
        |cb AS (
        |  SELECT subs.m, seeds.code,
        |         list_transform(range(1, 9), j -> seeds.v[subs.m * 8 + j]) AS cent
        |  FROM subs CROSS JOIN seeds),
        |pe AS (SELECT * FROM e WHERE label IN (SELECT cluster FROM probed)),
        |dists AS (
        |  SELECT pe.vec_id, cb.m, cb.code,
        |         list_inner_product(
        |           list_transform(range(1, 9), j -> pe.v[cb.m * 8 + j] - cb.cent[j]),
        |           list_transform(range(1, 9), j -> pe.v[cb.m * 8 + j] - cb.cent[j])) AS dist
        |  FROM pe CROSS JOIN cb),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |           row_number() OVER (PARTITION BY vec_id, m
        |                              ORDER BY dist ASC, code ASC) AS rn
        |    FROM dists)
        |  WHERE rn = 1),
        |lut AS (
        |  SELECT cb.m, cb.code,
        |         list_inner_product(
        |           list_transform(range(1, 9), j -> q.qv[cb.m * 8 + j]), cb.cent) AS pdot
        |  FROM cb, q),
        |adc AS (
        |  SELECT c.vec_id, round(sum(l.pdot), 6) AS a
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
        |  GROUP BY c.vec_id),
        |cand AS (SELECT vec_id FROM adc ORDER BY a DESC, vec_id LIMIT 50)
        |SELECT pe.vec_id, round(list_inner_product(pe.v, q.qv), 6) AS score
        |FROM pe JOIN cand ON pe.vec_id = cand.vec_id, q
        |ORDER BY score DESC, pe.vec_id
        |LIMIT 10""".stripMargin,
  )
}

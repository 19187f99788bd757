package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.expressions.RoundHalfUp

/** Exact and pruned top-k similarity search over an embeddings table
  * (`vec_id BIGINT, embedding ARRAY<FLOAT>, label INT`).
  *
  * Re-expresses the reference's search surface — exact brute-force kNN
  * (`src/index/recompute.rs:52-123`, its own ground truth), ANN top-k
  * (`src/backend/hnsw.rs:79-93`) and filtered search
  * (`src/index/searcher.rs:123-210`) — as DataFrame plans:
  *
  *   - Exact: broadcast the (single-row) query vector, score every row,
  *     `TakeOrderedAndProject` does the distributed top-k merge. No
  *     shuffle of the big side; scales linearly with executors.
  *   - Filtered: the predicate lands *before* scoring, so Catalyst pushes
  *     it into the Parquet scan — the reference instead post-filters with
  *     a 5x over-fetch (`src/index/searcher.rs:129-133`).
  *   - IVF (the 100 TB path): cluster embeddings (here: the `label`
  *     column; `IndexBuild` assigns real KMeans centroids), rank cluster
  *     centroids against the query, scan only the top-`nprobe` clusters.
  *     On a partitioned table (`PARTITION BY centroid_id`) the cluster
  *     filter becomes partition pruning: the scan reads nprobe/k of the
  *     data instead of all of it.
  *
  * Scores are rounded to 6 decimals *before* ordering so the selected
  * top-k set is deterministic across engines (ties broken by `vec_id`).
  */
object Knn {
  /** Internal block key from an optional user blocking column. Null
    * block values coalesce into ONE shared sentinel block (the column
    * is cast to string first so the sentinel types against any block
    * column) instead of silently vanishing: every block-scoped
    * operator equi-joins on this key, and SQL null never matches an
    * equi-join, so without the coalesce a row with a missing block
    * would drop from the output with no error. Nulls forming their own
    * block keeps them analyzed — they pair among themselves — which
    * beats a fail-fast require() that would cost a full validation
    * pass per call. The key is internal-only (never projected into
    * results), so the string cast can't leak into schemas. One caveat
    * the cast introduces: float/double block columns stringify -0.0
    * and 0.0 APART (numeric join keys normalized them together) —
    * normalize signed zeros upstream if a float projection is the
    * block. */
  private[operators] def blockKey(blockCol: Option[String]): Column =
    blockCol.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
      .getOrElse(lit("0"))

  /** One-row DataFrame holding the query vector of `vecId`, ready to
    * broadcast into a scoring join. */
  def queryVector(emb: DataFrame, vecId: Long): DataFrame =
    emb.filter(col("vec_id") === vecId)
      .select(asDouble(col("embedding")).as("qv"))

  private def scored(emb: DataFrame, query: DataFrame, score: (Column, Column) => Column): DataFrame =
    emb.crossJoin(broadcast(query))
      .select(col("vec_id"), round6(score(col("embedding"), col("qv"))).as("score"))

  /** Exact top-k by inner product (the reference's metric,
    * `src/backend/hnsw.rs:45`). */
  def exactTopK(emb: DataFrame, query: DataFrame, k: Int): DataFrame =
    scored(emb, query, dot).orderBy(desc("score"), col("vec_id")).limit(k)

  /** Exact top-k by cosine similarity. */
  def cosineTopK(emb: DataFrame, query: DataFrame, k: Int): DataFrame =
    scored(emb, query, cosine).orderBy(desc("score"), col("vec_id")).limit(k)

  /** Exact top-k with a pre-scoring predicate (pushed to the scan). */
  def filteredTopK(emb: DataFrame, query: DataFrame, pred: Column, k: Int): DataFrame =
    exactTopK(emb.filter(pred), query, k)

  /** The probed-cluster SUBSET of `emb`: rank cluster centroids (mean
    * vector per `clusterCol`), keep the best `nprobe`, and semi-join
    * `emb` to those clusters — the candidate frame IVF-tier compositions
    * re-rank instead of the full corpus (e.g. [[mmrRerank]] over the
    * probed partitions, the knn_mmr_ivf row).
    *
    * ==ORACLE FORMULATION ONLY — not a production entry point.==
    * The centroid derivation here (explode → avg per (cluster, pos))
    * re-reads the FULL table per query: O(corpus) work that exists so
    * the DuckDB oracle SQL can reproduce the probe set without array
    * aggregation. Production queries go through the persisted-centroid
    * path — [[graft.pipeline.Index.searchIvf]] (stored `centroids`
    * table + partition-pruned layout scan) — where centroid ranking
    * costs O(K·dims) regardless of corpus size. */
  def ivfCandidates(emb: DataFrame, query: DataFrame, clusterCol: String,
                    nprobe: Int): DataFrame = {
    val centroidScores = centroidsByPos(emb, clusterCol)
      .join(broadcast(query), expr("true"))
      .groupBy(col("cluster"))
      .agg(centroidScore(col("qv")).as("cscore"))
    val probed = centroidScores
      .orderBy(desc("cscore"), col("cluster"))
      .limit(nprobe)
      .select(col("cluster"))
    // At 100 TB the table is partitioned by cluster id: this semi join on
    // nprobe values prunes to nprobe partitions before any vector math.
    emb.join(broadcast(probed), col(clusterCol) === col("cluster"), "left_semi")
  }

  /** A centroid's score against the query vector `qv`, aggregated over
    * its position-wise rows (`pos`, `cv`): round6(Σ cv·qv[pos]). The one
    * ranking definition of every IVF probe — the oracle formulations
    * here and [[graft.pipeline.Index.probeClusters]] over the stored
    * `centroids` table. */
  private[graft] def centroidScore(qv: Column): Column =
    round6(sum(col("cv") * element_at(qv, col("pos") + 1)))

  /** avg embedding value per (cluster, position) — the
    * oracle-replayable centroid derivation both IVF formulations
    * ([[ivfCandidates]], [[batchIvfTopK]]) share; changing its arithmetic in
    * one place keeps the tiers and their DuckDB replays in lockstep. */
  private def centroidsByPos(emb: DataFrame, clusterCol: String): DataFrame =
    emb.select(col(clusterCol).as("cluster"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(avg(col("v")).as("cv"))

  /** Bounded per-query top-k over (qid, id, score) rows — the shared
    * tail of [[batchTopKAgg]] and [[batchIvfTopK]]: map-side partial
    * [[graft.functions.expressions.TopKScored]] aggregation (at most k rows per
    * (task, query) into the exchange), (score desc, id asc) order,
    * 1-based rank. One implementation so the tiers' rounding and
    * tie-break discipline cannot drift. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    // native bounded top-k (r16): see Graph.topKPerNode — no typed
    // AppendColumns boundary over the scored stream, same order/ties.
    scored.groupBy("qid")
      .agg(graft.functions.expressions.TopKScored
        .topk(col("score"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("t.id").as("vec_id"), col("t.score").as("score"))

  /** Batched multi-query search: top-k per query in ONE distributed
    * plan (score join -> window rank within query), instead of the
    * reference's one-query-at-a-time loop. This is the shape for bulk
    * retrieval jobs (building training pairs, re-ranking corpora): with
    * Q queries the scan of the big side is shared, and the only shuffle
    * is the rank partition on query id. */
  def batchTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scoredAll = emb.join(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        round6(dot(col("embedding"), col("qv"))).as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    scoredAll.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "score")
  }

  /** Batched multi-query search via the bounded [[graft.functions.expressions.TopKScored]]
    * aggregator instead of a window: map-side partial top-k bounds the
    * shuffle to k rows per (map task, query) — the formulation that
    * survives a 100x scale-up where the window variant shuffles every
    * scored row. Identical output to [[batchTopK]]. */
  def batchTopKAgg(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      emb.join(broadcast(queries))
        .select(col("qid"),
          col("vec_id").as("id"),
          round6(dot(col("embedding"), col("qv"))).as("score")),
      k)

  /** Batched IVF top-k: the production ANN ladder's probe-then-scan,
    * for a whole query SET in one distributed plan (the shape a
    * retrieval-eval harness feeds [[graft.operators.Eval.retrievalMetrics]]).
    * Centroids derive ONCE from the cluster column (K x dims rows — at
    * 100 TB this is the stored `centroids` table; here the
    * oracle-replayable label-cluster means), each query ranks them
    * driver-free in a tiny Q x K agg, and the corpus is scanned once:
    * every row joins only the queries probing its cluster (broadcast
    * Q x nprobe probe list), scores one dot, and forwards at most k
    * rows per (map task, query) through the bounded [[graft.functions.expressions.TopKScored]]
    * aggregator. On a centroid-partitioned layout the probe join is a
    * partition-pruning semi-join; nothing here shuffles vectors.
    * Rounding/tie-breaks match [[batchTopKAgg]] so the two tiers are
    * directly comparable per query. */
  def batchIvfTopK(emb: DataFrame, queries: DataFrame, clusterCol: String,
                   nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    import spark.implicits._
    val cscore = centroidsByPos(emb, clusterCol).join(broadcast(queries))
      .groupBy(col("qid"), col("cluster"))
      .agg(centroidScore(col("qv")).as("cscore"))
    // Q x K rows: the window is NOT a scale concern here (it ranks
    // centroids, not the corpus)
    val w = Window.partitionBy("qid").orderBy(desc("cscore"), col("cluster"))
    val probes = cscore.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select("qid", "cluster")
      .join(queries, "qid") // (qid, cluster, qv): Q x nprobe, broadcastable
    topKPerQuery(
      emb.join(broadcast(probes), col(clusterCol) === col("cluster"))
        .select(col("qid"), col("vec_id").as("id"),
          round6(dot(col("embedding"), col("qv"))).as("score")),
      k)
  }

  /** Hard-negative mining for contrastive embedding training (the
    * DPR/SBERT data-prep step; Robinson et al. 2021 on why hard
    * negatives matter): for each anchor vector, the `k` most
    * cosine-similar candidates carrying a DIFFERENT label — the
    * "looks the same, isn't" pairs a contrastive loss learns most
    * from. Anchors and candidates are separate frames because the
    * realistic shape mines negatives for a training BATCH against the
    * whole corpus.
    *
    * `blockCol = None` scores every cross-label pair — the exact
    * (oracle) tier, O(|anchors| x |candidates|), fine for batch-sized
    * anchor sets. Production passes the IVF centroid column: hard
    * negatives are by definition NEAR the anchor, so centroid-local
    * search finds them while the join stays co-partitioned on the
    * layout (the semanticDedup stance); recall vs exact is pinned in
    * KnnSpec. Cosines round to 6 before ranking with id tie-breaks,
    * and the per-anchor top-k goes through the bounded [[graft.functions.expressions.TopKScored]]
    * aggregator — map tasks forward at most k pairs per anchor into
    * the exchange, never the scored pair table. */
  def hardNegatives(anchors: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int, blockCol: Option[String] = None): DataFrame = {
    val spark = anchors.sparkSession
    import spark.implicits._
    // per-side norm hoist (the knnGraph stance): sqrt(v.v) is a
    // per-ROW quantity — computing it inside the pair projection would
    // cost three dots per scored pair instead of one; bit-identical
    def prep(df: DataFrame, suffix: String) = {
      val blk = blockKey(blockCol)
      df.select(col(idCol).cast("long").as(s"id$suffix"),
        col(labelCol).as(s"lbl$suffix"),
        asDouble(col(vecCol)).as(s"v$suffix"),
        blk.as("blk"))
        .withColumn(s"n$suffix", l2Norm(col(s"v$suffix")))
    }
    val a = prep(anchors, "_a")
    // Candidate-side identical-vector class collapse (the knnGraphLsh /
    // embeddingLshPairs duplicate-flood posture): a mirrored corpus
    // gives a candidate vector m copies, and scoring raw rows costs
    // every anchor m dot products for the same value. Classes key on
    // (block, label, vector) — one map-side-combined groupBy — so each
    // anchor scores each distinct (label, vector) ONCE; only a class's
    // k smallest member ids can surface in any anchor's top-k (within a
    // class scores tie and the member order falls to id asc), and only
    // an anchor's top-k classes by (cosine desc, rep asc = min member
    // id) can contribute (each class ranked above supplies >= 1 member
    // outranking all of the lower class's members). Expansion is
    // therefore k^2-bounded per anchor; the final bounded top-k
    // reproduces the id-level output exactly.
    val cBase = candidates.select(col(idCol).cast("long").as("id_c"),
      col(labelCol).as("lbl_c"), asDouble(col(vecCol)).as("v_c"),
      blockKey(blockCol).as("blk"))
    val cls = cBase.groupBy("blk", "lbl_c", "v_c")
      .agg(min(col("id_c")).as("rep"))
      .withColumn("n_c", l2Norm(col("v_c")))
    // k smallest member ids per class (constant score -> the
    // (score desc, id asc) order collapses to id asc: an exact bounded
    // smallest-ids aggregator; native TopKScored, r16)
    val smallIds = cBase
      .join(cls.select("blk", "lbl_c", "v_c", "rep"),
        Seq("blk", "lbl_c", "v_c"))
      .groupBy(col("rep"))
      .agg(graft.functions.expressions.TopKScored
        .topk(lit(0.0), col("id_c"), k).as("top"))
      .select(col("rep"), col("top.id").as("ids"))
    val scored = a.join(cls, "blk")
      .filter(col("lbl_a") =!= col("lbl_c"))
      .select(col("id_a"), col("rep"),
        round6(dot(col("v_a"), col("v_c")) /
          (col("n_a") * col("n_c"))).as("cosine"))
    // per-anchor top-k classes, expanded through each class's k
    // smallest ids, then the final bounded member-level top-k
    // (native TopKScored, r16 — same order/ties, no typed boundary)
    val topCls = scored.groupBy(col("id_a"))
      .agg(graft.functions.expressions.TopKScored
        .topk(col("cosine"), col("rep"), k).as("top"))
      .select(col("id_a"), explode(col("top")).as("t"))
      .select(col("id_a"), col("t.id").as("rep"),
        col("t.score").as("cosine"))
    topCls.join(smallIds, Seq("rep"))
      .select(col("id_a"), explode(col("ids")).as("id_c"), col("cosine"))
      .groupBy(col("id_a").as("id"))
      .agg(graft.functions.expressions.TopKScored
        .topk(col("cosine"), col("id_c"), k).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("id"), (col("pos") + 1).as("rank"),
        col("t.id").as("neg_id"), col("t.score").as("cosine"))
  }

  /** ColBERT-style late interaction (Khattab & Zaharia 2020, "ColBERT:
    * Efficient and Effective Passage Search..."): a "document" is a
    * GROUP of vectors (its chunks/tokens), the query is a SET of
    * vectors, and the score is the sum over query vectors of the best
    * similarity inside the group (MaxSim). Both aggregations combine
    * map-side — the shuffles carry one row per (group, qid) then per
    * group, never the scored pairs — and the query set broadcasts, so
    * the corpus-side scan is shuffle-free until the tiny rollup. */
  def maxSimTopK(emb: DataFrame, queries: DataFrame, groupCol: String,
                 k: Int): DataFrame =
    emb.join(broadcast(queries))
      .select(col(groupCol).as("grp"), col("qid"),
        dot(col("embedding"), col("qv")).as("sim"))
      .groupBy("grp", "qid").agg(max("sim").as("best"))
      .groupBy("grp").agg(round6(sum("best")).as("maxsim_score"))
      .orderBy(desc("maxsim_score"), col("grp"))
      .limit(k)

  /** Axis-sign binary sketch of one 32-dim slice of a vector: bit
    * `i - w*32` set when `v[i] > 0`. Words stay in the positive BIGINT
    * range (no 1<<63 signed-shift edge), so the DuckDB oracle builds
    * bit-identical words. */
  private[graft] def binaryWord(v: Column, dims: Int, w: Int): Column =
    ((w * 32) until math.min(dims, (w + 1) * 32))
      .map(i => when(element_at(v, i + 1) > 0, lit(1L << (i - w * 32))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Driver-side twin of [[binaryWord]] for the query vector. */
  private[graft] def packWords(q: Array[Double], dims: Int): Array[Long] =
    Array.tabulate((dims + 31) / 32) { w =>
      ((w * 32) until math.min(dims, (w + 1) * 32))
        .foldLeft(0L)((acc, i) => if (q(i) > 0) acc | (1L << (i - w * 32)) else acc)
    }

  /** The 1-bit storage tier: rank by Hamming similarity of axis-sign
    * binary sketches (`dims - popcount(sig XOR querySig)` — a couple of
    * integer ops over 1/32 of the int8 tier's bytes), then exactly
    * re-rank the top `rerank` candidates. The compression ladder ends
    * here: float (1x) → int8 (4x) → PQ (m bytes) → binary (dims bits);
    * identical to exact search when `rerank` covers the corpus.
    * Candidate ranking is deterministic (integer sims, vec_id
    * tie-break), so the whole query is DuckDB-oracle-checkable. */
  def hammingTopK(emb: DataFrame, q: Array[Double], dims: Int,
                  k: Int, rerank: Int): DataFrame = {
    val words = (dims + 31) / 32
    val qw = packWords(q, dims)
    val v = asDouble(col("embedding"))
    val sim = lit(dims) - (0 until words)
      .map(w => bit_count(binaryWord(v, dims, w).bitwiseXOR(lit(qw(w)))))
      .reduce(_ + _)
    val cand = emb.select(col("vec_id"), sim.as("hs"))
      .orderBy(desc("hs"), col("vec_id")).limit(rerank)
      .select("vec_id")
    emb.join(broadcast(cand), Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        round6(dot(col("embedding"), typedLit(q.toSeq))).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Real IVF build: KMeans over the embedding column assigns a
    * `centroid_id` — at scale this becomes the table's partition column
    * (`.write.partitionBy("centroid_id")`), so `ivfCandidates`' cluster
    * filter prunes partitions instead of scanning 100 TB. Seeded →
    * deterministic. */
  def ivfAssign(emb: DataFrame, vecCol: String, numClusters: Int,
                seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = emb.withColumn("__v", array_to_vector(asDouble(col(vecCol))))
    val model = new KMeans()
      .setK(numClusters).setSeed(seed).setFeaturesCol("__v").setPredictionCol("centroid_id")
      .fit(withVec)
    model.transform(withVec).drop("__v")
  }

  /** Random-hyperplane (sign) LSH bucket key for an embedding column:
    * `bits` pseudo-random hyperplanes derived from a seeded hash, sign
    * bit per plane. Same-bucket vectors are near-duplicate candidates;
    * the hyperplanes are deterministic so bucketing is reproducible
    * across runs and engines. Computed by the single-pass
    * [[graft.functions.expressions.SignLsh64]] expression — the Column
    * formulation (kept in the specs as the parity oracle) builds a bits × dims expression tree that blows past codegen
    * limits at production dims. */
  def signLshKey(vecCol: Column, dims: Int, bits: Int, seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.SignLsh64(
      GraftColumnBridge.expression(asDouble(vecCol)), dims, bits, seed))
  }

  /** Maximal Marginal Relevance diversity re-rank (Carbonell &
    * Goldstein 1998): greedily select `k` of the `fetchK` most relevant
    * candidates, each step maximizing
    * `round(λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), 6)` —
    * relevance traded against redundancy with what is already selected,
    * the standard diversity pass over a RAG candidate list.
    *
    * The candidate fetch is the distributed exact top-`fetchK`
    * (broadcast query, `TakeOrderedAndProject`); the greedy loop runs on
    * the DRIVER over that k-bounded set — the serving-layer scalar, same
    * stance as the nprobe centroid ranking — because each step depends
    * on the previous selection: inherently sequential, O(fetchK·k) dot
    * products, never corpus-scale. Engine-portable determinism: rel and
    * every pairwise sim (inner product of l2-normalized vectors, element
    * order preserved) round to 6 decimals BEFORE comparisons; ties break
    * to the smallest vec_id at every step. λ arithmetic is written
    * `λ·rel − (1−λ)·maxsim` with `1−λ` COMPUTED (not a pre-simplified
    * literal): `1.0-0.7 != 0.3` in doubles, so an oracle spelling `0.3`
    * would drift in the 17th digit and flip 6-decimal roundings.
    *
    * Returns (rank, vec_id, score): rank 1..k in selection order; score
    * is rel for the first pick and the mmr value for the rest.
    */
  def mmrRerank(emb: DataFrame, query: DataFrame, k: Int, fetchK: Int,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && fetchK >= k, s"need fetchK >= k >= 1, got k=$k fetchK=$fetchK")
    // The greedy loop is the documented k-BOUNDED driver scalar: it
    // collects fetchK vectors and runs O(fetchK·k) driver work. Guard
    // the bound so a caller can't silently turn it into a driver-side
    // corpus scan.
    require(fetchK <= 10000,
      s"mmrRerank is a driver-bounded re-rank; fetchK=$fetchK exceeds the " +
      "10000-candidate bound (raise k-bounded retrieval upstream instead)")
    val spark = emb.sparkSession
    import spark.implicits._
    // distributed part: top-fetchK by rel, vectors carried through
    val cands: Array[(Long, Double, Array[Double])] = emb
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        round6(dot(col("embedding"), col("qv"))).as("rel"),
        asDouble(col("embedding")).as("v"))
      .orderBy(desc("rel"), col("vec_id")).limit(fetchK)
      .as[(Long, Double, Seq[Double])].collect()
      .map { case (id, rel, v) => (id, rel, v.toArray) }
    // driver part: greedy MMR over the k-bounded candidates
    val nv = cands.map { case (_, _, v) =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    def sim(a: Int, b: Int): Double = {
      var s = 0.0
      var i = 0
      while (i < nv(a).length) { s += nv(a)(i) * nv(b)(i); i += 1 }
      RoundHalfUp.round(s, 6)
    }
    val n = cands.length
    val maxSimToSel = Array.fill(n)(Double.NegativeInfinity)
    val taken = Array.fill(n)(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    var last = 0 // cands is sorted (rel desc, id asc): first pick is index 0
    taken(0) = true
    out += ((1, cands(0)._1, cands(0)._2))
    for (rank <- 2 to math.min(k, n)) {
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = sim(i, last)
          if (s > maxSimToSel(i)) maxSimToSel(i) = s
        }
        i += 1
      }
      def mmr(i: Int): Double =
        RoundHalfUp.round(lambda * cands(i)._2 - (1.0 - lambda) * maxSimToSel(i), 6)
      val next = (0 until n).filter(!taken(_)).minBy(i => (-mmr(i), cands(i)._1))
      taken(next) = true
      last = next
      out += ((rank, cands(next)._1, mmr(next)))
    }
    out.toSeq.toDF("rank", "vec_id", "score")
  }
}

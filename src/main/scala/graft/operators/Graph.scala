package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions.{asDouble, cosine, dot, round6}
import graft.operators.Ckpt.CkptOps

/** Similarity-graph operators for corpus curation.
  *
  * A near-dup / kNN graph over a training corpus is the substrate for a
  * family of curation signals the flat per-document scores can't see:
  * centrality finds template/boilerplate HUBS (a page whose neighborhood
  * is huge is a mirror or a template, whatever its individual quality
  * score says), and the same graph drives diversity-aware sampling. The
  * reference engine stops at per-pair similarity (its ANN search,
  * `/root/reference/src/backend/hnsw.rs`); these operators take the pair
  * table the dedup tiers already produce and lift it to graph analytics,
  * expressed as iterative DataFrame joins — each round is a shuffle on
  * the edge key, nothing driver-resident, the same execution shape as
  * [[Dedup.connectedComponents]].
  */
object Graph {
  /** Exact k-nearest-neighbor graph over an embedding column: for every
    * vector, the `k` most cosine-similar OTHER vectors, as
    * (id, nb, rnk, score) with score rounded to 6 decimals and ties
    * broken to the smallest neighbor id.
    *
    * This is the all-pairs oracle tier: O(n^2) scored pairs, fine for a
    * fixture or a sampled slice, and the ground truth the blocked
    * variant ([[knnGraphLsh]]) measures recall against. The per-node
    * top-k goes through the bounded [[graft.functions.expressions.TopKScored]]
    * aggregator, so even here the shuffle carries at most k rows per
    * (map task, node), never the n^2 scored-pair table. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    // Norms are per-ROW quantities: compute sqrt(v.v) once per side
    // before the join instead of letting the cosine expand to three
    // dot products per PAIR (3x the flops on an n^2 join). Same
    // arithmetic per score — dot/(na*nb) with na,nb the identical
    // sequential self-dots — so results are bit-identical to the
    // inline-cosine formulation the oracle replays.
    // null and ZERO vectors carry no similarity signal: drop them up
    // front (a null cosine would NPE the typed top-k encoder
    // downstream, and an all-zero embedding yields 0/0 -> NULL cosine
    // with the same NPE — both hazards filtered at the scan)
    val a = emb.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("va"))
      .where(col("id").isNotNull && col("va").isNotNull &&
        dot(col("va"), col("va")) > 0)
      .withColumn("na", sqrt(dot(col("va"), col("va"))))
    val b = emb.select(col(idCol).cast("long").as("nb"),
      asDouble(col(vecCol)).as("vb"))
      .where(col("nb").isNotNull && col("vb").isNotNull &&
        dot(col("vb"), col("vb")) > 0)
      .withColumn("nb_n", sqrt(dot(col("vb"), col("vb"))))
    // Parallelism must scale with the OUTPUT work (n^2 scored pairs),
    // not the input bytes: a small corpus parquet is one file split, and
    // a cross join inherits the stream side's partitioning, so without
    // this the whole n^2 scoring runs in ONE task (measured: 20k
    // vectors = 4e8 pairs pinned to a single core). One n-row hash
    // exchange per side is noise next to the n^2 it parallelizes;
    // repartitioning both sides keeps 32-way parallelism whichever side
    // the planner broadcasts. Same pairs, same scores, and topKPerNode's
    // bounded aggregator is merge-order-independent, so results are
    // unchanged.
    val scored = a.repartition(col("id")).crossJoin(b.repartition(col("nb")))
      .filter(col("id") =!= col("nb"))
      .select(col("id"), col("nb"),
        round6(dot(col("va"), col("vb")) / (col("na") * col("nb_n")))
          .as("score"))
    topKPerNode(scored, k)
  }

  /** LSH-blocked kNN graph — the 100 TB formulation. `tables`
    * independent sign-LSH keys (different seeds) bucket the corpus;
    * within-bucket pairs are the only candidates scored, so the join is
    * an equi-join on the bucket key instead of a cross join: cost is
    * sum of bucket^2 per table, and a vector's candidates live in the
    * same partitions its buckets hash to. Recall vs [[knnGraph]] is
    * measured in GraphSpec at the (bits, tables) knobs — more tables
    * raise recall, more bits shrink buckets; both are restatements of
    * the probe/recall trade every ANN tier in this repo makes.
    *
    * ==Duplicate-flood posture== (the [[Dedup.hammingBandedPairs]]
    * distinct-signature lesson lifted to raw vectors): a mirrored crawl
    * gives a vector m byte-identical copies, and a raw id-level bucket
    * self-join then scores m^2 candidate pairs PER TABLE for that one
    * vector — quadratic in the duplication factor. Here identical
    * vectors collapse to one CLASS (rep = min member id) first; bucket
    * joins, candidate dedup and cosine scoring all run over class reps
    * (one row per distinct vector), and members re-attach through two
    * provably sufficient bounded windows:
    *
    *   1. per class, the top `k+1` neighbor classes by
    *      (score desc, rep asc): any class outside that window cannot
    *      contribute to ANY member's top-k, because each class ranked
    *      above it supplies at least one member that outranks all of
    *      its members under the (score desc, id asc) member order —
    *      the `+1` absorbs the one exceptional case where a member's
    *      OWN class wins its tie-break through the member itself;
    *   2. per class, its `k+1` smallest member ids: within a class all
    *      scores tie, so the member order falls to id asc and only the
    *      smallest ids can surface (`+1` covers a member that is itself
    *      among its class's k smallest and must skip itself).
    *
    * The final [[topKPerNode]] pass then selects exactly the same top-k
    * set as the id-level formulation (same candidate superset, same
    * rounded scores, same tie-breaks) while pair mass stays linear in
    * corpus size: n x (k+1)^2 narrow expansion rows, never
    * (duplication factor)^2. */
  /** Smallest bit width in [4, 16] whose bucket count keeps expected
    * occupancy at or under `target` (64) for an `n`-vector corpus:
    * with FIXED bits, within-bucket pair mass grows n^2/2^bits — 10x
    * data means 100x pairs — so the production default must widen the
    * key with the corpus. Integer-exact on purpose (no log2 floats):
    * the oracle replays the same scan over [4, 16], and a
    * last-ulp log2 disagreement at a power-of-two boundary would flip
    * the whole signature layout between engines. Capped at 16 because
    * past that the recall cost of ever-finer buckets outruns the pair
    * savings — above ~4M vectors, raise `tables` or pre-block by IVF
    * cluster instead (both knobs exist). */
  def autoLshBits(n: Long, target: Long = 64L): Int =
    (4 to 16).find(b => (1L << b) * target >= n).getOrElse(16)

  /** `blockCol` (optional) scopes the whole graph to within-block
    * neighborhoods — bucket keys become (block, signature), so a
    * pre-clustering (e.g. `Cluster.assign`'s centroid id) bounds every
    * bucket by its block's size regardless of corpus scale. This is
    * the documented past-16-bits path: when the auto key is already at
    * its recall-driven cap, block first, then bucket. Same plan shape,
    * one extra narrow key column through the exchanges. Rows whose
    * block value is NULL coalesce into one shared sentinel block
    * ([[Knn.blockKey]]) — they stay in the graph and pair among
    * themselves instead of silently vanishing from the equi-joins.
    *
    * Auto bits (bits <= 0) size from the LARGEST BLOCK's count when
    * blockCol is set — `autoLshBits(maxBlockSize)` — so every block
    * sees at most the same ~64 expected cell occupancy the unblocked
    * auto key targets. Sizing from the GLOBAL count instead (the
    * pre-r15 default) runs occupancy at ~64/B for B same-sized blocks:
    * cheaper, but recall vs the exact graph measured 0.312 against the
    * per-block recipe's 0.450 at +50% cost (BASELINE.md r14) — and the blocked tier is the recommended
    * 100 TB path, so its default buys recall, not the discount.
    * Callers who want the finer key back pass
    * `bits = autoLshBits(globalCount)` explicitly; pinned bits > 0
    * keep their exact layout. Both selections are integer-exact and
    * oracle-replayable (the max-block count is one GROUP BY + max,
    * the same scan DuckDB replays). */
  /** ==Occupancy escape valve (r16)== — blocked-auto only. The
    * per-block recipe keeps EXPECTED occupancy <= 64, but expectation
    * assumes signature-uniform vectors: a clustered block (the very
    * case blocking serves) can pour hundreds of near-identical-sign
    * classes into one cell, and at a pair-output corpus that single
    * hot cell dominates the whole sweep (the r15 watch item: 142.1 s
    * vs the global key's 109.4 s at 100x). So the blocked auto path
    * MEASURES before it buckets: one aggregation over class reps
    * counts each block's largest cell at the base key (table-0 seed),
    * and any block whose max cell exceeds `blockBucketCap` escalates
    * its OWN bit width — the smallest `b0 + e <= 16` with
    * `maxCell <= cap << e` (each extra bit halves expected cell mass;
    * integer-exact, no log2 floats, the [[autoLshBits]] stance) —
    * while quiet blocks keep the recall-friendly base key. Per-block
    * keys cost nothing extra at scoring time: LSH bit i depends only
    * on (seed, i), so a b-bit key IS the low b bits of the 16-bit key
    * (GraphSpec pins the prefix property) and escalated rows just mask
    * a wider key. The selection is replayed verbatim by the oracle's
    * occupancy/bits CTEs, so the hash gate pins the valve itself. */
  def knnGraphLsh(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                  dims: Int, bits: Int = 0, tables: Int = 4,
                  blockCol: Option[String] = None,
                  blockBucketCap: Long = 256L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val blk = Knn.blockKey(blockCol)
    val base = emb.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"), blk.as("blk"))
      .where(col("id").isNotNull && col("v").isNotNull &&
        dot(col("v"), col("v")) > 0) // see knnGraph
    // bits <= 0 = auto: size the bucket key from a corpus count (one
    // cheap action against the n^2/2^bits pair mass it controls) —
    // the max BLOCK count when blocked (per-block occupancy <= 64,
    // the recall-over-cost recipe; scaladoc above), the global count
    // otherwise. Callers who pinned bits keep their exact layout.
    val useBits =
      if (bits > 0) bits
      else if (blockCol.isDefined) {
        // empty corpus: max over zero groups is NULL, not 0
        val mx = base.groupBy("blk").count().agg(max(col("count"))).head()
        autoLshBits(if (mx.isNullAt(0)) 0L else mx.getLong(0))
      }
      else autoLshBits(base.count())
    // Identical-vector class collapse: ONE map-side-combined groupBy on
    // the (block, vector) value (a hot class absorbs in the combiner),
    // one membership join back. These are the only vector-carrying
    // exchanges; everything downstream ships reps, buckets and scores.
    // Identical vectors in DIFFERENT blocks stay separate classes —
    // their neighborhoods differ by construction.
    val classes = base.groupBy("blk", "v")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("cnt"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val members = base.join(classes.select("blk", "v", "rep"), Seq("blk", "v"))
      .select("id", "rep")
    // k+1 smallest member ids per class (window 2 above). A constant
    // score makes the (score desc, id asc) order collapse to id asc —
    // an exact bounded smallest-ids aggregator (native TopKScored, r16).
    val smallIds = members.groupBy(col("rep"))
      .agg(graft.functions.expressions.TopKScored
        .topk(lit(0.0), col("id"), k + 1).as("top"))
      .select(col("rep"), col("top.id").as("ids"))
    // Candidate generation shuffles REP PAIRS ONLY: each bucket join
    // projects (rep, bkt) per side, so the bucket exchanges and the
    // union + dropDuplicates dedup exchange carry 16-byte rows — the
    // Hamming-family exchange discipline — instead of two dims-wide
    // double vectors per candidate (~12 KB at 768 dims). Vectors and
    // norms rejoin AFTER the dedup from the class projection, one
    // class-cardinality pass per side rather than one per surviving
    // candidate per table. Same candidate set, same scores.
    val crep = classes.select(col("rep").as("id"), col("v"), col("n"),
      col("blk"))
    // Occupancy escape valve (scaladoc above): per-block bit widths from
    // the measured largest cell at the base key. ONE job — two map-side-
    // combined aggregations over class-rep rows, escalated blocks
    // collected to the driver (<= numBlocks rows, the nprobe/centroid-
    // matrix bounded-scalar tier; hot blocks are by nature few) — then
    // the escalated widths ride into every table's key expression as a
    // literal blk -> bitmask map, so the valve adds zero joins and zero
    // re-executions to the candidate plan. Blocks at or under the cap
    // keep exactly the base key: a signature-uniform corpus is
    // bit-for-bit the pre-valve plan.
    val escalatedMasks: Map[String, Long] =
      if (bits <= 0 && blockCol.isDefined) {
        crep
          .select(col("blk"),
            Knn.signLshKey(col("v"), dims, useBits, seed = 1000L).as("bkt"))
          .groupBy("blk", "bkt").agg(count(lit(1)).as("cnt"))
          .groupBy("blk").agg(max("cnt").as("occ"))
          .filter(col("occ") > blockBucketCap)
          .collect()
          .map { r =>
            val occ = r.getLong(1)
            // smallest escalation e with occ <= cap * 2^e, capped at 16
            // bits — integer-exact (each extra bit halves expected mass)
            val b = (0 to (16 - useBits))
              .find(e => occ <= blockBucketCap * (1L << e))
              .map(useBits + _).getOrElse(16)
            r.getString(0) -> ((1L << b) - 1L)
          }.toMap
      } else Map.empty
    val candidates = (0 until tables).map { t =>
      // bucket key scoped by block: a block bounds its buckets no
      // matter how large the corpus grows
      val keyed =
        if (escalatedMasks.isEmpty)
          crep.select(col("id"), col("blk"),
            Knn.signLshKey(col("v"), dims, useBits, seed = 1000L + t).as("bkt"))
        else {
          // escalated blocks mask the low bits of the 16-bit key (= the
          // escalated-width key, by the plane-prefix property); cap-
          // abiding blocks evaluate only the base-width expression
          val mask = element_at(typedLit(escalatedMasks), col("blk"))
          crep.select(col("id"), col("blk"),
            when(mask.isNull,
              Knn.signLshKey(col("v"), dims, useBits, seed = 1000L + t))
            .otherwise(Knn.signLshKey(col("v"), dims, 16, seed = 1000L + t)
              .bitwiseAND(mask))
            .as("bkt"))
        }
      keyed.join(keyed.select(col("id").as("nb"), col("blk"), col("bkt")),
          Seq("blk", "bkt"))
        .filter(col("id") =!= col("nb"))
        .select("id", "nb")
    }.reduce(_ union _).dropDuplicates("id", "nb")
    // per-side norm hoist (the knnGraph stance): one dot per scored
    // pair instead of three; bit-identical scores
    val scoredClasses = candidates
      .join(crep.select(col("id"), col("v").as("va"), col("n")
        .as("na")), "id")
      .join(crep.select(col("id").as("nb"), col("v").as("vb"),
        col("n").as("nb_n")), "nb")
      .select(col("id").as("rep_a"), col("nb").as("rep_b"),
        round6(dot(col("va"), col("vb")) / (col("na") * col("nb_n")))
          .as("score"))
    // Members of a multi-member class are mutual neighbors at the
    // self-cosine (identical vectors share every bucket, so the
    // id-level formulation always paired them).
    val intra = classes.filter(col("cnt") >= 2)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        round6(dot(col("v"), col("v")) / (col("n") * col("n")))
          .as("score"))
    // window 1: top-(k+1) neighbor classes per class. The kept id is
    // the neighbor's rep = its min member id, exactly the tie-break the
    // member order needs (native TopKScored, r16).
    val topClasses = scoredClasses.union(intra)
      .groupBy(col("rep_a"))
      .agg(graft.functions.expressions.TopKScored
        .topk(col("score"), col("rep_b"), k + 1).as("top"))
      .select(col("rep_a"), explode(col("top")).as("t"))
      .select(col("rep_a"), col("t.id").as("rep_b"),
        col("t.score").as("score"))
    // expand: every member of A x the k+1 smallest ids of each of A's
    // top classes — narrow (id, nb, score) rows, linear in corpus
    val expanded = members.withColumnRenamed("rep", "rep_a")
      .join(topClasses, Seq("rep_a"))
      .join(smallIds.select(col("rep").as("rep_b"), col("ids")),
        Seq("rep_b"))
      .select(col("id"), explode(col("ids")).as("nb"), col("score"))
      .filter(col("id") =!= col("nb"))
    topKPerNode(expanded, k)
  }

  /** Bounded per-node top-k over a scored (id, nb, score) pair table:
    * (score desc, nb asc) order, rnk 1..k, map-side partial. */
  private def topKPerNode(scored: DataFrame, k: Int): DataFrame =
    // native bounded top-k (r16): the typed Aggregator's groupByKey/
    // mapValues inserted two AppendColumns (full object-encoder passes
    // over every scored pair, breaking codegen before the partial
    // aggregate); TopKScored evaluates straight off the InternalRow.
    // Same (score desc, id asc) order, same map-side k-row bound.
    scored.groupBy("id")
      .agg(graft.functions.expressions.TopKScored
        .topk(col("score"), col("nb"), k).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("id"), col("t.id").as("nb"),
        (col("pos") + 1).as("rnk"), col("t.score").as("score"))

  /** Quantize a score column onto the 2^-bits binary grid (floor).
    *
    * Decimal `round(x, 9)` is NOT engine-portable for graph
    * iterations: `score / outdeg` arithmetic with small integer
    * degrees systematically produces values whose shortest decimal
    * representation ends exactly in ...5 at the rounding digit, where
    * Spark's decimal-string HALF_UP and DuckDB's float-multiply
    * `round()` disagree (observed as a 1e-9 flap on
    * graph_label_spread at sf0.01). Power-of-two scaling is EXACT in
    * IEEE doubles (it only shifts the exponent), so `floor` on the
    * scaled value has no tie rule at all — both engines agree
    * whenever their pre-quantization sums fall in the same 2^-bits
    * cell, and nothing in 1/3-type arithmetic favors binary cell
    * boundaries the way it favors decimal halves. */
  private[operators] def quant(c: Column, bits: Int): Column = {
    val s = math.pow(2, bits)
    floor(c * lit(s)).cast("double") / lit(s)
  }

  /** Quantize a per-edge contribution term onto the 2^-48 grid BEFORE
    * it enters a `sum`, making the aggregation EXACT in IEEE doubles
    * and therefore order-independent: every term becomes an exact
    * multiple of 2^-48 (scaling by a power of two only shifts the
    * exponent; floor and the back-division are exact), and any partial
    * sum of such terms bounded by the total rank/score mass (<= ~1)
    * needs at most 48 + a few mantissa bits — under the 52 doubles
    * carry. Without this, Spark's partition-order-dependent float sum
    * vs DuckDB's own order can differ in the last ulp, and a
    * pre-quantization value landing within that ulp of a 2^-quantBits
    * cell boundary flips the floor — observed as a one-cell graph_ppr
    * flap whose occurrence depended on which OTHER queries ran in the
    * same session. The 2^-48 term grid costs at most indeg * 2^-48 of
    * bias per node per round — 5 orders of magnitude below the
    * 2^-30 state grid. */
  private def termQuant(c: Column): Column = quant(c, 48)

  /** PageRank by power iteration over a directed edge list (src, dst)
    * — undirected graphs pass both directions. Returns ((id, rank) over
    * nodes = distinct(src union dst), rounds run).
    *
    * Engine-portable determinism (the repo-wide oracle stance): ranks
    * quantize onto the 2^-quantBits grid ([[quant]]) after EVERY
    * update, so two engines whose per-node contribution sums differ in
    * the last float bit re-quantize to identical values each round
    * instead of compounding; the teleport term is written
    * `(1 - damping) / n` COMPUTED — not a pre-simplified literal —
    * because `1.0 - 0.85 != 0.15` in doubles (the [[Knn.mmrRerank]]
    * lesson).
    *
    * Dangling nodes (in-edges only) leak rank mass under the naive
    * update; the standard fix redistributes their mass uniformly. That
    * mass is a per-round GLOBAL scalar: each round's job returns it
    * with the round's movement, and the next round receives it as a
    * driver scalar (one double, the nprobe stance).
    *
    * Execution ([[RankKernel]]): one setup job hash-partitions the
    * edges by `src` into cached per-partition primitive arrays and
    * counts the nodes and the dangling ones; each round is then ONE
    * Spark job, one shuffle of at most P² per-partition term arrays
    * (P = `spark.sql.shuffle.partitions`), whose output state is
    * persisted and locally checkpointed so the lineage stays one round
    * deep. The state is one record of primitive arrays per partition,
    * so deserialized storage costs no per-row objects (the r15 heap
    * cliff of a deserialized ROW checkpoint does not arise). The
    * kernel's arithmetic is the DataFrame update's, bit for bit; the
    * specs keep that DataFrame round as its reference. An edge with a
    * null end names no node and is dropped.
    *
    * `weighted` = similarity-WEIGHTED PageRank over a (src, dst, w)
    * edge list: the random surfer follows edges in proportion to their
    * weight (contribution = rank · w / outgoing-weight-sum), so
    * centrality concentrates along STRONG similarity paths — on a kNN
    * graph, a hub of near-duplicates outranks a hub of marginal
    * neighbors that the plain update would score identically. Companion
    * to weighted [[labelPropagation]] on [[symmetrizeWeighted]]
    * substrates. Same grids: every rank·w/outw term floors onto the
    * 2^-48 grid before summation. Self-loops and zero/negative/null-
    * weight edges are dropped ([[weightedEdges]]; they carry no walk
    * mass). Designed for symmetrized weighted graphs, where every node
    * has outgoing weight; an arbitrary directed list with
    * weighted-dangling nodes is REFUSED loudly rather than silently
    * leaking walk mass (the PPR stance) — use the unweighted dangling
    * redistribution for those.
    *
    * `stop`:
    *   - `Stop.Rounds(n)`: fixed rounds (not convergence-tested) keep
    *     the round count — and thus the oracle's recursion depth —
    *     identical across engines; this is the oracle tier for
    *     graph_pagerank itself.
    *   - `Stop.Converge(maxIters, tol)`: the 100 TB production mode —
    *     iterate until the L1 delta `sum(|rank' - rank|)` falls to
    *     `tol` or `maxIters` rounds, whichever first, on the shared
    *     [[FixedPoint]] driver. The delta is part of each round's job
    *     result, at any tol: no probe job, no accumulator, never a
    *     per-node driver loop. `tol = 0.0` runs to the EXACT fixed
    *     point of the quantized update, with the driver's period-2
    *     cycle stop on an even remaining budget (measured on the
    *     1.6k-node supplier-customer graph: delta1 parks at 3 grid
    *     cells from round 31 on while state(r) == state(r-2) exactly);
    *     [[FixedPoint]] states why the result then equals the
    *     `Rounds(maxIters)` run, converged or not — what makes the
    *     watched tier oracle-checkable, weighted or not.
    *
    * `init` (incremental mode): seed from a prior (id, rank) table
    * instead of uniform — the production re-run path when edges change
    * incrementally. New nodes get uniform mass, departed nodes drop,
    * prior rows with a null id, a null rank or a negative rank are
    * ignored, and the seed RENORMALIZES to total mass 1 (one O(1)
    * driver scalar): the update would self-correct mass on its own, but
    * only geometrically, and a grown graph's ~1/n seed-mass excess
    * decaying to tol floors the round count at log(1/(n*tol)) —
    * measured 15 rounds where the perturbation alone needed ~5. The
    * division can shift grid cells by one, so an unchanged graph
    * confirms in at most TWO rounds rather than exactly one; a
    * perturbed graph converges in the rounds the PERTURBATION needs,
    * not the cold-start count. Caveat, inherent to grid dynamics: the
    * quantized map can admit ADJACENT-CELL fixed points, so a warm run
    * may settle within a few 2^-quantBits cells of the cold result
    * rather than bit-identically on it (the unquantized fixed point is
    * unique; grid attractors differ by O(cell)). Warm starts follow a
    * different trajectory, so they exist only on the watched tier
    * (`init` with `Stop.Rounds` is refused): the fixed-round oracle
    * tier always starts cold. */
  def pageRank(edges: DataFrame, stop: Stop, weighted: Boolean = false,
               damping: Double = 0.85, quantBits: Int = 30,
               init: Option[DataFrame] = None): (DataFrame, Int) = {
    requireCold(stop, init)
    RankKernel.pageRank(if (weighted) weightedEdges(edges) else srcDst(edges),
      weighted, stop, damping, quantBits, init)
  }

  /** [[pageRank]] on the watched tier, unweighted. */
  def pageRankWatched(edges: DataFrame, damping: Double = 0.85,
                      maxIters: Int = 50, tol: Double = 0.0,
                      quantBits: Int = 30,
                      init: Option[DataFrame] = None): (DataFrame, Int) =
    pageRank(edges, Stop.Converge(maxIters, tol), damping = damping,
      quantBits = quantBits, init = init)

  // Warm starts exist only on the watched tier (see pageRank).
  private def requireCold(stop: Stop, init: Option[DataFrame]): Unit =
    require(init.isEmpty || stop.watchTol.isDefined,
      "warm start (init) requires Stop.Converge (--tol on the CLI): the " +
        "fixed-round tier always starts cold (it is the oracle tier)")

  /** (src, dst) as longs: the edge list every unweighted loop reads. */
  private def srcDst(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))

  /** (src, dst, w) with self-loops and null, zero or negative weights
    * dropped — they carry no walk mass and no vote. */
  private def weightedEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("double").as("w"))
      .filter(col("src") =!= col("dst") && col("w").isNotNull && col("w") > 0)

  /** Symmetrize a (id, nb) neighbor table into a distinct directed edge
    * list carrying both directions — the adjacency a cosine kNN graph
    * means (similarity is symmetric even when top-k membership isn't). */
  def symmetrize(pairs: DataFrame, aCol: String = "id",
                 bCol: String = "nb"): DataFrame =
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()

  /** Per-node triangle count and local clustering coefficient over an
    * UNDIRECTED graph given as a symmetric directed edge list (both
    * directions present, no self-loops — [[symmetrize]]'s output).
    * Returns (id, degree, triangles, clustering) with clustering =
    * round(2*triangles / (degree*(degree-1)), 6) and 0.0 for degree<2.
    *
    * Triangles are the standard curation signal for community density:
    * a near-dup cluster or template farm shows up as a
    * high-clustering-coefficient neighborhood long before connected
    * components merge it. All-integer counting — no float portability
    * concerns until the final coefficient.
    *
    * Plan shape: count each triangle once at its smallest vertex via
    * the oriented wedge join (a<b<c: edges a-b, a-c checked against
    * b-c), then credit all three corners — three shuffles on edge keys,
    * never a matrix product. Skew: a hub of degree D contributes D^2/2
    * wedges — the standard cost of exact triangle counting; this tier's
    * contract is degree-bounded graphs (the kNN composition bounds
    * degree at k x tables by construction). For arbitrary edge lists
    * with possible crawl-scale hubs use [[triangleCountsCapped]], the
    * sampled unbiased estimator. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      // defensive: a self-loop would count phantom wedges; the contract
      // says none, enforce it rather than trust it
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"))
      // oriented edges a<b ensure each triangle is ONE (a,b,c) wedge hit
      val fwd = e.filter(col("src") < col("dst"))
      val wedges = fwd.select(col("src").as("a"), col("dst").as("b"))
        .join(fwd.select(col("src").as("a"), col("dst").as("c")), "a")
        .filter(col("b") < col("c"))
      val tris = wedges.join(
        fwd.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      val perCorner = tris.select(col("a").as("id"))
        .union(tris.select(col("b").as("id")))
        .union(tris.select(col("c").as("id")))
        .groupBy("id").agg(count(lit(1)).as("triangles"))
      deg.join(perCorner, Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("degree") < 2, lit(0.0)).otherwise(
            round6(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1)))).as("clustering"))
    } finally { e.unpersist(); () }
  }

  /** Degree histogram of a directed edge list: (degree, nodes) rows,
    * one per distinct out-degree. The graph-health profile read before
    * the expensive analytics: a heavy tail here is what says the exact
    * triangle tier would stall on a hub and [[triangleCountsCapped]]'s
    * cap should sit at (say) the knee of this histogram; a near-delta
    * histogram says the graph is degree-bounded (the kNN composition)
    * and the exact tiers are safe. Two map-side-combined aggregations,
    * output cardinality = distinct degrees (tiny at any corpus size). */
  def degreeProfile(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("nodes"))

  /** Newman modularity of a community assignment, per community:
    * Q_c = m_c/m − (d_c/2m)² — the fraction of edges INSIDE community
    * c minus the fraction expected under the degree-preserving random
    * rewiring. Σ Q_c is the standard did-the-communities-mean-anything
    * read over [[labelPropagation]]'s (or any) assignment: ~0 for one
    * blob or a random split, toward 1 for well-separated dense blocks.
    * On the symmetrized directed representation (2m rows): per
    * community, `ends` = directed rows leaving c (= d_c) and
    * `internal_ends` = rows with BOTH endpoints in c (= 2·m_c), so
    * Q_c = internal_ends/rows − (ends/rows)².
    *
    * Plan: two id-keyed joins stamping each edge end with its
    * community, ONE (community)-keyed aggregation (map-side
    * combinable), a broadcast 1-row total — no window, no iteration.
    * `assign` must cover every node in the edge list ((id, label) —
    * exactly what the community/CC ops emit); edges whose endpoint is
    * missing from the assignment are dropped by the inner join, which
    * would silently skew Q, so coverage is the caller's contract (a
    * composed `analyze --op communities` output always satisfies it).
    * Returns (label, internal_ends, ends, q) per community. */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val lab = assign.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    val stamped = e
      .join(lab.select(col("id").as("src"), col("label").as("c_s")), "src")
      .join(lab.select(col("id").as("dst"), col("label").as("c_d")), "dst")
    val per = stamped.groupBy(col("c_s").as("label"))
      .agg(count(lit(1)).as("ends"),
        sum(when(col("c_s") === col("c_d"), 1L).otherwise(0L))
          .as("internal_ends"))
    val total = per.agg(sum("ends").as("rows2m"))
    per.crossJoin(broadcast(total))
      .select(col("label"), col("internal_ends"), col("ends"),
        round6(col("internal_ends") / col("rows2m") -
          (col("ends") / col("rows2m")) * (col("ends") / col("rows2m"))).as("q"))
  }

  /** k-core: the maximal subgraph in which every surviving node keeps
    * degree >= k — computed by the standard iterative peel (drop all
    * nodes under k, recount, repeat). Where [[degreeProfile]] reads the
    * degree DISTRIBUTION, the k-core finds the dense SUBSTRATE: on a
    * near-dup similarity graph the high-k cores are the template/
    * boilerplate families whose members all resemble many others (the
    * curation targets), while sparse chains of borderline matches peel
    * away.
    *
    * Termination is different in kind from the watched family: peeling
    * is MONOTONE (the node set only shrinks), so the fixpoint watch
    * always fires and there is no cycle case — equal edge COUNTS
    * between rounds therefore imply the equal edge SET, and the
    * count that each round's materialization already needs doubles as
    * the convergence probe (zero extra jobs). `maxIters` is a
    * fail-loud guard, not a result knob (the CC-maxIter stance): a
    * pathological chain peels O(n) rounds (a k=2 path loses only its
    * two endpoints per round), and refusing loudly beats returning a
    * partially-peeled set that silently isn't a core. A replay capped
    * at R >= the peel depth is exact for ANY such R — extra rounds are
    * identity on the settled set (what makes the unrolled oracle
    * valid).
    *
    * Scale shape per round: one degree aggregation (map-side
    * combinable) + two id-keyed joins filtering the edge set; edge
    * state is held as SERIALIZED rolling persists (re-anchored by a
    * serialized localCheckpoint every 8 rounds so deep peels keep
    * bounded lineage — see the body comments for the heap and
    * fault-tolerance trades), and the input edge list materializes
    * ONCE up front so an expensive upstream (a kNN build) is never
    * recomputed across rounds. The returned core is node-scale and
    * materialized; the final edge persist is released before return,
    * so a long-lived session never accumulates cached edge tables
    * across kCore calls.
    *
    * Expects the symmetrized directed representation ([[symmetrize]]);
    * returns ((id, deg) of the surviving core with deg counted INSIDE
    * the core, rounds run — the final confirming no-op round
    * included). An empty core (k above the densest node) returns zero
    * rows. */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 100): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    // SERIALIZED rolling persists, not localCheckpoint: the per-round
    // edge state is corpus-scale (29M rows at the 100x sweep), and
    // localCheckpoint materializes each partition as a deserialized
    // in-heap array (~56 B/row object overhead vs ~16 B serialized) —
    // two live generations plus shuffle buffers sat exactly at the
    // 8 GB heap cliff, flaky-OOMing in-suite. MEMORY_AND_DISK_SER is
    // ~3.5x smaller, spills instead of dying, and the peel's <= 8
    // bounded rounds keep the un-truncated lineage shallow (truncation
    // is what localCheckpoint bought the 50-round pagerank loops; this
    // loop doesn't need it). Repartition by src first — the operator
    // must not trust caller partition sizing (a coarse parquet scan
    // hands out tens of millions of rows per split), and round 1's
    // groupBy("src") reuses the hash partitioning. Each round
    // unpersists the previous edge state once the next is counted.
    var e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var nEdges = e.count()
    var rounds = 0
    var stable = nEdges == 0L
    while (!stable) {
      if (rounds >= maxIters) throw new IllegalStateException(
        s"kCore did not settle in $maxIters rounds (edge set still " +
          s"shrinking at $nEdges edges): a long borderline chain peels " +
          "one layer per round — raise maxIters deliberately")
      val alive = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      val peeled = e.join(alive, "src")
        .join(alive.select(col("src").as("dst")), "dst")
        .select("src", "dst")
      // Fault-tolerance trade of the rolling persists: the next round's
      // plan references THIS round's cached frame, whose own plan reaches
      // back through every already-unpersisted generation — on cached-
      // block loss in a cluster the recompute re-executes the whole peel
      // from source instead of failing fast as localCheckpoint would.
      // The shallow-peel case (the <= 8 rounds every measured corpus
      // needs) accepts that for the cheaper persist; a DEEP peel (a long
      // borderline chain) re-anchors with a serialized localCheckpoint
      // every 8 rounds so un-truncated lineage depth stays bounded at 8
      // regardless of how far maxIters was deliberately raised.
      val next =
        if ((rounds + 1) % 8 == 0)
          peeled.ckptSer()
        else peeled.persist(StorageLevel.MEMORY_AND_DISK_SER)
      val n = next.count()
      e.unpersist(blocking = false)
      rounds += 1
      stable = n == nEdges || n == 0L
      e = next
      nEdges = n
    }
    // Materialize the node-scale result and release the final edge
    // state before returning: explicit persists are held by the
    // CacheManager until unpersist/clearCache (unlike localCheckpoint
    // blocks, reclaimed by the ContextCleaner once references drop), so
    // a returned frame depending on the last round's cached edges would
    // pin one corpus-scale table per kCore call in a long-lived session.
    val core = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
      .ckptSer()
    e.unpersist(blocking = false)
    (core, rounds)
  }

  /** [[symmetrize]] with the edge weight carried along: both directions
    * unioned, duplicate (src, dst) rows collapsed to the MAX weight —
    * deterministic whatever the caller's pair table contains (a cosine
    * kNN graph is weight-symmetric, so max is a no-op there). */
  def symmetrizeWeighted(pairs: DataFrame, aCol: String = "id",
                         bCol: String = "nb",
                         wCol: String = "score"): DataFrame =
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"),
        col(wCol).as("w"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"),
        col(wCol).as("w")))
      .groupBy("src", "dst").agg(max("w").as("w"))

  /** Unsupervised community detection by SYNCHRONOUS label propagation
    * (Raghavan et al. 2007) over an undirected (src, dst) edge list:
    * every node starts as its own community, and each round every node
    * simultaneously adopts the most frequent label among its NEIGHBORS
    * (self excluded), ties broken to the SMALLEST label. That tie rule
    * is a total order, so unlike classic LPA's random tie-break and
    * asynchronous sweep — deliberately not ported — the update is a
    * pure function of the graph, exactly replayable by an independent
    * engine (the oracle contract).
    *
    * Complements [[Dedup.connectedComponents]] on the same substrate:
    * CC answers "is there ANY path" (one bridge edge merges two
    * clusters — right for dup closure), LPA answers "where does the
    * DENSITY live" (a single bridge between two dense blocks cannot
    * outvote either block's internal majority, so the blocks keep
    * distinct labels — topic/community discovery for corpus curation,
    * e.g. balancing a training mixture by similarity community rather
    * than by source metadata).
    *
    * Scale shape, on the same [[FixedPoint.run]] round as [[diffuse]]:
    * per round, ONE (node, label)-keyed count aggregation (map-side
    * combinable — hub fan-in is exactly what partial aggregation
    * absorbs) plus a per-node struct-min; label state is one row per
    * node, never nodes x labels; localCheckpoint per round truncates
    * lineage.
    * Expects a symmetrized edge list ([[symmetrize]]) so every node
    * appears as src. Returns ((id, label), rounds run), label = a
    * member id of the community.
    *
    * `weighted` = weight-aware LPA — what a SIMILARITY graph wants:
    * each neighbor's vote counts its edge weight (the kNN cosine), so
    * one 0.98-similar neighbor outvotes three 0.3-similar ones instead
    * of losing 3:1. Same synchronous scaffold and total-order tie rule,
    * with (max weight-sum, then min label) deciding each node. Every
    * weight floors onto the 2^-48 grid BEFORE summation
    * ([[termQuant]]), so per-(node, label) vote sums are EXACT in
    * doubles — order-independent across Spark scheduling and replaying
    * engines — for degree x maxWeight up to ~2^4 at full precision (the
    * kNN composition: degree <= k x tables, cosine <= 1). Ties after
    * exact sums break to the smaller label; no float comparison
    * ambiguity remains. Expects [[symmetrizeWeighted]] edges
    * ((src, dst, w) rows, w > 0 — zero/negative/null-weight edges are
    * dropped up front since they carry no vote).
    *
    * `stop` (at least one round either way):
    *   - `Stop.Rounds(n)`: the oracle tier. Synchronous LPA can 2-cycle
    *     on bipartite-ish structures (the canonical case is a single
    *     undirected edge — the two endpoints swap labels forever), so a
    *     NAIVE fixpoint watch may never fire; bounded rounds keep the
    *     output total.
    *   - `Stop.Converge(maxIters, _)`: the 100 TB community-detection
    *     mode. The [[FixedPoint]] driver's period-2 cycle rule closes
    *     the 2-cycle gap: stop on a true fixed point (zero labels
    *     changed), or on an EXACT revisit of the state two rounds back
    *     when the remaining budget is even — so `Converge(maxIters)`
    *     equals `Rounds(maxIters)` at ANY knobs, weighted or not, the
    *     oracle contract (proof in [[FixedPoint]]). Labels are integers
    *     (and the weighted vote sums exact), so the watch is an exact
    *     changed-label count that rides each round's checkpoint job:
    *     the policy's `tol` is ignored, whatever its value. A node that
    *     loses every vote (possible only on a non-symmetrized input)
    *     counts as changed, so a node-set drift can never masquerade as
    *     convergence.
    *
    * `init` = WARM START (the family's incremental mode, cf.
    * [[pageRank]]/[[Cluster.kmeansAssign]]), watched tier only — the
    * fixed-round oracle tier always starts cold: round 0 labels come
    * from a prior (id, label) assignment instead of each-node-its-own-
    * id; nodes new since the prior run enter as their own label,
    * departed ids drop (inner-joined against the current node set). An
    * unchanged graph confirms its prior communities in 1 round; a
    * perturbed one re-converges in rounds tracking the perturbation,
    * not the cold-start mixing. Not cold-equal by construction (a
    * different round-0 state is a different trajectory) — spec-pinned,
    * not oracled, the [[labelSpread]] `init` stance. */
  def labelPropagation(edges: DataFrame, stop: Stop, weighted: Boolean = false,
                       init: Option[DataFrame] = None): (DataFrame, Int) = {
    requireCold(stop, init)
    require(stop.maxIters >= 1, s"iters must be >= 1, got ${stop.maxIters}")
    val e = (if (weighted) weightedEdges(edges)
      else srcDst(edges).filter(col("src") =!= col("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vote = if (weighted) sum(termQuant(col("w"))) else count(lit(1))
    try {
      val nodes = e.select(col("src").as("id")).distinct()
      val nullL = lit(null).cast("long")
      val base = init match {
        case Some(prior) =>
          // warm start: prior labels where known, own id for new nodes;
          // departed ids drop via the node-set join
          nodes.join(prior.select(col("id").cast("long").as("id"),
              col("label").cast("long").as("pl")), Seq("id"), "left")
            .select(col("id"), coalesce(col("pl"), col("id")).as("label"))
        case None => nodes.withColumn("label", col("id"))
      }
      // Watched state carries (label, p1, p2) — the previous and
      // two-rounds-back labels ride the checkpoint as columns (r17), so
      // the watch is a per-row changed-label term (see FixedPoint). A
      // node that loses every vote keeps its row with a NULL label
      // while p1 or p2 still holds its last label, so its drop counts
      // as a change against both. The voted set only SHRINKS (votes_r
      // ids = {src with a dst labelled in round r-1} ⊆ the ids labelled
      // in round r-1, by induction from labels_0 = ALL srcs — true for
      // arbitrary directed inputs, warm starts included), so no id
      // ever returns, and a row whose label, p1 and p2 are all NULL is
      // dropped.
      val watched = stop.watchTol.isDefined
      val labels0 =
        if (watched) base.select(col("id"), col("label"),
          nullL.as("p1"), nullL.as("p2"))
        else base
      val changed = (prev: String) =>
        when(col("label") <=> col(prev), 0.0).otherwise(1.0)
      val watch =
        Option.when(watched)(FixedPoint.Watch(0.0, changed("p1"), changed("p2")))
      val (labels, rounds) = FixedPoint.run(labels0, stop.maxIters, watch) { labels =>
        val votes = e
          .join(labels.where(col("label").isNotNull)
            .select(col("id").as("dst"), col("label").as("nl")), "dst")
          .groupBy(col("src").as("id"), col("nl"))
          .agg(vote.as("v"))
        // (max vote, then min label) via one struct-min: -v sorts the
        // vote descending, the label ascends on ties — no window, no
        // second shuffle over the votes. On the watched tier the state
        // rows ride the same id-keyed exchange (union fusion, guide
        // §2.4) to carry p1/p2.
        val best = struct((-col("v")).as("nv"), col("nl").as("l"))
        if (watched) {
          val voteRows = votes.select(col("id"), best.as("p"),
            nullL.as("l1"), nullL.as("l2"))
          val stateRows = labels.select(col("id"),
            lit(null).cast(voteRows.schema("p").dataType).as("p"),
            col("label").as("l1"), col("p1").as("l2"))
          voteRows.union(stateRows).groupBy("id")
            .agg(min(col("p")).as("p"), max(col("l1")).as("pl1"),
              max(col("l2")).as("pl2"))
            .filter(col("p").isNotNull || col("pl1").isNotNull ||
              col("pl2").isNotNull)
            .select(col("id"), col("p.l").as("label"),
              col("pl1").as("p1"), col("pl2").as("p2"))
        } else votes.groupBy("id").agg(min(best).as("p"))
          .select(col("id"), col("p.l").as("label"))
      }
      (labels.where(col("label").isNotNull).select(col("id"), col("label")),
        rounds)
    } finally { e.unpersist(); () }
  }

  /** Degree-capped triangle counting — the arbitrary-edge-list tier.
    *
    * Exact [[triangleCounts]] generates C(d, 2) wedges at a center of
    * forward-degree d: one crawl-scale hub (degree 10^5 -> ~10^10
    * wedges) stalls the wedge stage, which is why the kNN-graph
    * composition (degree k-bounded by construction) is the exact
    * tier's contract. This variant caps wedge GENERATION at
    * `maxDegree` sampled forward-neighbors per center and corrects
    * with the standard unbiased estimator: a triangle whose smallest
    * vertex a has forward-degree fd survives sampling with probability
    * C(s, 2)/C(fd, 2) (both of its other corners must be in a's
    * s-neighbor sample), so each FOUND triangle is credited to its
    * three corners with weight w = C(fd, 2)/C(s, 2). Unbiased:
    * E[estimate] = exact count, per corner. Sampling is deterministic
    * (xxhash64-ranked neighbors), so results are reproducible;
    * closing-edge checks run against the FULL edge set — only wedge
    * generation is sampled.
    *
    * Error bound (per center a, t_a = true smallest-vertex triangles
    * at a): the estimate is w times a sum of t_a Bernoulli(1/w)
    * indicators, so under independence Var = t_a * (w - 1) and the
    * relative standard error of a's contribution is sqrt((w - 1)/t_a);
    * the indicators share sampled neighbors, which can inflate that
    * modestly but leaves the scaling — dense neighborhoods (large t_a), which
    * are what triangle analysis is FOR, concentrate fastest; sparse
    * hubs are noisy in relative terms but tiny in absolute ones.
    * Centers at or under the cap have s = fd, w = 1: EXACT, zero
    * variance — the estimator only engages above the cap.
    *
    * Cost: the rank window is one shuffle with O(d) rows per center
    * (linear in the hub degree, vs the exact tier's quadratic wedges);
    * sampled wedge generation is bounded by C(maxDegree, 2) per
    * center. Output matches [[triangleCounts]] but `triangles` is
    * DOUBLE (a weighted estimate; integer-valued when every center is
    * under the cap). */
  def triangleCountsCapped(edges: DataFrame, maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"))
      val fwd = e.filter(col("src") < col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // deterministic per-center neighbor ranking; dst tie-break makes
        // the order total even under (vanishingly unlikely) hash ties
        val ranked = fwd.withColumn("rk", row_number().over(
          Window.partitionBy("src")
            .orderBy(xxhash64(col("src"), col("dst")), col("dst"))))
        val sampled = ranked.filter(col("rk") <= maxDegree)
          .select("src", "dst")
        // per-center correction weight w = C(fd,2)/C(s,2); s = min(fd, cap)
        val weights = fwd.groupBy("src").agg(count(lit(1)).as("fd"))
          .select(col("src").as("a"),
            when(col("fd") <= maxDegree, lit(1.0)).otherwise(
              (col("fd") * (col("fd") - 1)).cast("double") /
                (lit(maxDegree) * lit(maxDegree - 1))).as("w"))
        val wedges = sampled.select(col("src").as("a"), col("dst").as("b"))
          .join(sampled.select(col("src").as("a"), col("dst").as("c")), "a")
          .filter(col("b") < col("c"))
        // closing edges checked against the FULL forward set
        val tris = wedges.join(
            fwd.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
          .join(weights, "a")
        val perCorner = tris.select(col("a").as("id"), col("w"))
          .union(tris.select(col("b").as("id"), col("w")))
          .union(tris.select(col("c").as("id"), col("w")))
          .groupBy("id").agg(sum(col("w")).as("triangles"))
        deg.join(perCorner, Seq("id"), "left")
          .select(col("id"), col("degree"),
            coalesce(col("triangles"), lit(0.0)).as("triangles"),
            when(col("degree") < 2, lit(0.0)).otherwise(
              round6(lit(2.0) * coalesce(col("triangles"), lit(0.0)) /
                (col("degree") * (col("degree") - 1)))).as("clustering"))
      } finally { fwd.unpersist(); () }
    } finally { e.unpersist(); () }
  }

  /** Personalized PageRank: the random walk teleports back to a SEED
    * set instead of everywhere, so rank mass concentrates in the
    * seeds' graph neighborhood — the standard retrieval-expansion
    * primitive (start from the hits a query retrieved, walk the
    * similarity graph, surface related documents the retriever
    * missed). Returns (sparse (id, rank) over nodes the walk reached,
    * rounds run).
    *
    * Update: r'(v) = quant(damping * sum_{u->v} r(u)/outdeg(u)
    * + (1 - damping) * [v in seeds]/|S|) — label spreading with one
    * class, run by the same loop ([[diffuse]]), starting from 1/|S| on
    * each seed. Dangling nodes are rejected up front: in proper PPR
    * their mass returns to the seeds, a variant nothing here needs — a
    * symmetrized similarity graph has none, and silently leaking mass
    * instead would skew every rank.
    *
    * `stop`: `Stop.Rounds(n)` is the fixed-round oracle tier;
    * `Stop.Converge(maxIters, tol)` is the [[pageRank]] watched stance
    * over PPR's SPARSE rank state: iterate until the L1 delta — rows
    * absent from the previous state read as rank 0 — falls to `tol` or
    * `maxIters`; tol = 0 runs to the exact grid fixed point, with the
    * [[FixedPoint]] period-2 cycle stop, so the watched result is
    * always identical to the `Rounds(maxIters)` run.
    *
    * `init` (incremental mode — completes the watched family's
    * daily-increment coverage; reference analog: the incremental
    * `update` CLI, `/root/reference/src/cli/update.rs:58-242`): seed
    * from a prior sparse (id, rank) table instead of the 1/|S| seed
    * mass, with [[pageRank]]'s renormalized-seed discipline adapted to
    * sparse state — prior rows are restricted to the CURRENT node set
    * (a departed node's row would re-inject mass no edge can drain) and
    * the kept mass renormalizes to total 1 (the same O(1) driver
    * scalar; refuses an all-zero/disjoint seed loudly). NEW seeds need
    * no explicit row: the per-round seed term injects their teleport
    * mass from round one, so a changed seed set self-corrects —
    * old-seed mass decays geometrically, new-seed mass builds — in the
    * rounds the CHANGE needs, not the cold-start count. A prior row
    * that no kept row reaches and that is no seed loses its mass in
    * round one, and that loss counts as movement. Warm starts follow a
    * different trajectory, so they exist only on the watched tier; the
    * fixed-round oracle tier always starts cold. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, stop: Stop,
                           damping: Double = 0.85, quantBits: Int = 30,
                           init: Option[DataFrame] = None): (DataFrame, Int) = {
    requireCold(stop, init)
    val e = srcDst(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col("id").cast("long").as("id")).distinct()
      .where(col("id").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      require(nodes.join(e.select(col("src").as("id")), Seq("id"),
          "left_anti").limit(1).count() == 0,
        "personalizedPageRank requires a graph with no dangling nodes " +
          "(symmetrize the edge list)")
      val nSeeds = sd.count().toDouble // documented O(1) driver scalar
      require(nSeeds > 0, "personalizedPageRank needs at least one seed")
      val rank0 = init match {
        case Some(r0) =>
          // sparse warm start (scaladoc above): keep only prior rows
          // whose node still exists, renormalize the kept mass to 1
          val kept = r0.select(col("id").cast("long").as("id"),
              col("rank").cast("double").as("r0"))
            .where(col("id").isNotNull && col("r0").isNotNull &&
              col("r0") >= 0)
            .join(nodes, Seq("id"), "left_semi")
          val t = kept.agg(coalesce(sum(col("r0")), lit(0.0)))
            .head().getDouble(0)
          require(t > 0,
            "personalizedPageRank warm start needs positive total mass " +
              "on the current node set")
          kept.select(col("id"), quant(col("r0") / lit(t), quantBits).as("score"))
            .ckptSer()
        case None => sd.select(col("id"), quant(lit(1.0 / nSeeds), quantBits).as("score"))
      }
      val seedRows = sd.select(col("id"), lit((1.0 - damping) / nSeeds).as("seed"))
      val (rank, rounds) = diffuse(e, Seq("id"), seedRows, rank0, stop, damping, quantBits)
      (rank.withColumnRenamed("score", "rank"), rounds)
    } finally { sd.unpersist(); e.unpersist(); () }
  }

  /** Label spreading over a directed edge list (Zhou et al. 2004,
    * "Learning with Local and Global Consistency", random-walk
    * normalized): a small SEED set of labeled nodes propagates labels
    * across the similarity graph — the classifier-bootstrapping step a
    * curation pipeline uses to expand a few thousand human quality
    * labels to a whole corpus before training a cheap model on the
    * result.
    *
    * State is the SPARSE (id, label, score) table — only labels that
    * have reached a node carry rows, so state is O(reached nodes x
    * nearby labels), never nodes x labels. Each round ([[diffuse]]):
    *
    *   score'(v, l) = quant(alpha * sum_{u->v} score(u, l)/outdeg(u)
    *                        + (1 - alpha) * seed(v, l), quantBits)
    *
    * with seed(v, l) = 1 for v's seed label — seeds keep injecting
    * their identity (the clamping that distinguishes spreading from
    * plain diffusion).
    *
    * Returns ((id, label, score) for every (node, label) the diffusion
    * reached, rounds run); argmax with a smaller-label tie-break gives
    * the prediction (left to the caller/query so the full distribution
    * stays available for confidence thresholds).
    *
    * `stop`: `Stop.Rounds(n)` is the fixed-round oracle tier;
    * `Stop.Converge(maxIters, tol)` is the [[pageRank]] watched stance:
    * iterate until the L1 delta over the sparse (id, label) state falls
    * to `tol` or `maxIters`. The delta is FULL OUTER, with missing
    * scores read as 0 — the state grows as the diffusion reaches new
    * (node, label) cells, and a newly-reached cell IS delta mass, as is
    * a cell that dies. `tol = 0.0` runs to the exact grid fixed point,
    * making the watched result identical to the `Rounds(maxIters)` run
    * whether or not it converges early (the [[FixedPoint]] stop rules).
    *
    * `init` (incremental mode, the [[pageRank]] stance; watched tier
    * only — the fixed-round oracle tier always starts cold): seed the
    * diffusion state from a prior run's (id, label, score) output
    * instead of the bare seed table — the re-spread path after a graph
    * or seed edit. Scores are NOT a distribution, so no
    * renormalization applies; the clamped seed term re-injects
    * unconditionally either way, which is what pulls a stale state
    * toward the new answer. */
  def labelSpread(edges: DataFrame, seeds: DataFrame, stop: Stop,
                  alpha: Double = 0.85, quantBits: Int = 30,
                  init: Option[DataFrame] = None): (DataFrame, Int) = {
    requireCold(stop, init)
    val e = srcDst(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col("id").cast("long").as("id"),
        col("label").cast("int").as("label"))
      .where(col("id").isNotNull && col("label").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val state0 = init match {
        case Some(s0) => s0.select(col("id").cast("long").as("id"),
            col("label").cast("int").as("label"),
            col("score").cast("double").as("score"))
          .where(col("id").isNotNull && col("label").isNotNull &&
            col("score").isNotNull && col("score") >= 0)
          .ckptSer()
        case None => sd.select(col("id"), col("label"), lit(1.0).as("score"))
      }
      val seedRows = sd.select(col("id"), col("label"), lit(1.0 - alpha).as("seed"))
      diffuse(e, Seq("id", "label"), seedRows, state0, stop, alpha, quantBits)
    } finally { sd.unpersist(); e.unpersist(); () }
  }

  /** The seeded-diffusion loop of [[personalizedPageRank]] and
    * [[labelSpread]]: over the sparse state (`keys`, score), where
    * `keys` is "id" followed by any class columns, each round computes
    *
    *   score'(k) = quant(alpha * sum_{u->v} score(u, ..)/outdeg(u)
    *                     + seed(k), quantBits)
    *
    * and returns ((`keys`, score) over the live cells, rounds run).
    * `seedRows` (`keys`, seed) is re-injected every round; `state0`
    * (`keys`, score) is round 0's state.
    *
    * The edge table joined to each source's out-degree is materialized
    * once. It is NOT pre-partitioned by src (r16 tested-and-reverted):
    * hash-clustering the cache by the per-round join key removes the
    * per-round edge exchange from the STATIC plan, but it also removes
    * the query-stage boundary AQE needs to convert each round's join
    * into a broadcast hash join of the (much smaller) state side —
    * measured +30-45% per watched row at sf0.1 (SMJ sort+merge every
    * round instead of a broadcast probe of the in-place cache). With
    * the plain cache AQE picks per round from runtime sizes: broadcast
    * while the state fits, sort-merge with the edge exchange when it
    * doesn't. That result is about AQE's join selection, so it does not
    * carry over to [[pageRank]]'s kernel ([[RankKernel]]), which
    * partitions its edges by src and plans no join at all.
    *
    * Union-fused update (r17, guide §2.4 "two operations keyed the
    * same way can share one exchange"): the contribution aggregate, the
    * seed re-injection and — on the watched tier — the watch-column
    * carry all key on `keys`, so seed and state rows ride the
    * contribution groupBy's exchange. Terms stay on the 2^-48 grid
    * ([[termQuant]]), so the shared sum is exact and order-independent.
    * A cell is live when a contribution or a seed reaches it.
    *
    * The watched state carries (score, p1, p2) per cell, the previous
    * and two-rounds-back scores (see [[FixedPoint]]). A cell that dies
    * stays two more rounds with a NULL score, so the deltas count its
    * mass against p1 and p2 as rows of the round's own frame. On a cold
    * start no cell dies: the live set is N(state) ∪ seeds, which holds
    * state by induction from state_0 = the seeds. A warm state can shed
    * cells for several rounds. */
  private def diffuse(e: DataFrame, keys: Seq[String], seedRows: DataFrame,
                      state0: DataFrame, stop: Stop, alpha: Double,
                      quantBits: Int): (DataFrame, Int) = {
    val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
    val eout = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (k, classes) = (keys.map(col), keys.tail.map(col))
      val nullD = lit(null).cast("double")
      val watch = stop.watchTol.map { tol =>
        val moved = (prev: String) => abs(coalesce(col("score"), lit(0.0)) -
          coalesce(col(prev), lit(0.0)))
        FixedPoint.Watch(tol, moved("p1"), moved("p2"))
      }
      val s0 = if (watch.isEmpty) state0
        else state0.select(k ++ Seq(col("score"), nullD.as("p1"), nullD.as("p2")): _*)
      val (state, rounds) = FixedPoint.run(s0, stop.maxIters, watch) { state =>
        val terms = eout
          .join(state.where(col("score").isNotNull)
            .select(col("id").as("src") +: classes :+ col("score"): _*), "src")
          .select(col("dst").as("id") +: classes :+
            termQuant(col("score") / col("outdeg")).as("c") :+ nullD.as("sd0"): _*)
        val seeds = seedRows.select(k :+ nullD.as("c") :+ col("seed").as("sd0"): _*)
        val live = col("contrib").isNotNull || col("seed").isNotNull
        val score = quant(lit(alpha) * coalesce(col("contrib"), lit(0.0))
          + coalesce(col("seed"), lit(0.0)), quantBits)
        if (watch.isDefined) {
          val stateRows = state.select(k :+ col("score").as("r0") :+ col("p1").as("q1"): _*)
          terms.union(seeds).unionByName(stateRows, allowMissingColumns = true)
            .groupBy(k: _*)
            .agg(sum(col("c")).as("contrib"), max(col("sd0")).as("seed"),
              max(col("r0")).as("pc1"), max(col("q1")).as("pc2"))
            .filter(live || col("pc1").isNotNull || col("pc2").isNotNull)
            .select(k :+ when(live, score).as("score") :+
              col("pc1").as("p1") :+ col("pc2").as("p2"): _*)
        } else terms.union(seeds).groupBy(k: _*)
          .agg(sum(col("c")).as("contrib"), max(col("sd0")).as("seed"))
          .select(k :+ score.as("score"): _*)
      }
      (state.where(col("score").isNotNull).select(k :+ col("score"): _*), rounds)
    } finally { eout.unpersist(); () }
  }
}

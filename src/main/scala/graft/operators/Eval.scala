package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation: the metrics harness that closes the
  * loop on the ANN tiers (IVF / PQ / Hamming / hybrid). The reference
  * validates recall ad hoc in its test suite (`tests/` compares ANN
  * hits against brute force); a data-engine user needs the same
  * measurement as a first-class, corpus-scale operator — run the exact
  * tier once as ground truth, any approximate tier as the candidate,
  * and read recall/MRR/nDCG per query.
  *
  * Inputs are the standard TREC shapes:
  *  - `results`: one row per retrieved candidate, (qid, doc, rank)
  *    with rank 1-based and engine-deterministic (the Knn operators
  *    round scores to 6 decimals and tie-break on id for exactly this
  *    reason);
  *  - `qrels`: binary relevance pairs (qid, doc).
  *
  * Metrics at cutoff k, one row per query in `results`:
  *  - `n_rel` — relevant set size (0 when the query has no qrels);
  *  - `n_hits` — relevant docs retrieved at rank <= k;
  *  - `precision_k` = n_hits / k, `recall_k` = n_hits / n_rel;
  *  - `rr` — reciprocal rank of the first relevant hit (MRR's
  *    per-query term);
  *  - `ndcg` — binary-gain nDCG@k: DCG = Σ 1/log2(rank+1) over
  *    relevant hits, ideal DCG = the same sum over ranks 1..min(n_rel,
  *    k). Log base 2 is computed as ln(2)/ln(rank+1) in BOTH engines
  *    (identical double ops), and every ratio rounds to 6 decimals, so
  *    the operator is DuckDB-oracle-checkable.
  *
  * Scale: eval frames are Q×k and Q×|rel| rows — qid-keyed joins and
  * aggregates with map-side combine throughout, never corpus-scale.
  * Aggregating over a 100 TB corpus happens upstream in the retrieval
  * operators; this pass touches only their outputs.
  */
object Eval {

  private def log2inv(rank: Column): Column =
    lit(math.log(2.0)) / log(rank.cast("double") + 1.0)

  def retrievalMetrics(results: DataFrame, qrels: DataFrame, k: Int,
      qidCol: String = "qid", docCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    val allRes = results.select(col(qidCol).as("qid"), col(docCol).as("doc"),
      col(rankCol).as("rank"))
    val res = allRes.filter(col("rank") <= k)
    val rel = qrels.select(col(qidCol).as("qid"), col(docCol).as("doc"))
      .distinct()
    val relCounts = rel.groupBy("qid").agg(count(lit(1)).as("n_rel"))
    val hits = res.join(rel, Seq("qid", "doc"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_hits"),
        min("rank").as("first_rel_rank"),
        sum(log2inv(col("rank"))).as("dcg"))
    val idealDcg = aggregate(
      sequence(lit(1), greatest(least(col("n_rel"), lit(k)), lit(1))),
      lit(0.0), (acc, i) => acc + log2inv(i))
    // The qid universe is qrels ∪ results BEFORE the rank cutoff: a
    // query that retrieved nothing in the top k (or nothing at all)
    // must score 0, not vanish — deriving the universe from rank≤k
    // rows would bias every macro-average upward.
    allRes.select("qid").union(rel.select("qid")).distinct()
      .join(relCounts, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .select(
        col("qid"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
          .as("precision_k"),
        round(when(coalesce(col("n_rel"), lit(0L)) > 0,
            coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_rel"))
          .otherwise(0.0), 6).as("recall_k"),
        round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 6)
          .as("rr"),
        round(when(coalesce(col("n_rel"), lit(0L)) > 0,
            coalesce(col("dcg"), lit(0.0)) / idealDcg)
          .otherwise(0.0), 6).as("ndcg"))
  }

  /** Pair-set quality of approximate dedup methods against ONE exact
    * ground truth — the dedup ladder's counterpart of
    * [[retrievalMetrics]] (run exact Jaccard once as truth, any
    * banded/fingerprint tier as a candidate, read precision/recall).
    * All inputs are (id_a, id_b) pair frames; orientation and
    * duplicates are normalized before comparison. One summary row per
    * method: (method, n_truth, n_cand, n_hit, precision, recall, f1),
    * ratios rounded to 6 (f1 computed FROM the rounded
    * precision/recall so any md5-capable engine replays it exactly).
    *
    * The normalized truth pair set is computed once and cached
    * (deferred-release registry, drained with `Dedup.releaseCaches()`),
    * and each method's counts come from a single full-outer join — so
    * every input frame's plan (often an expensive dedup operator)
    * executes exactly once, instead of once per count aggregate.
    *
    * Scale: pair frames are report-sized (the corpus-scale work
    * happened in the dedup operator being measured); the joins and
    * count aggregates here touch only those outputs. */
  def pairMetricsMany(truth: DataFrame, methods: Seq[(String, DataFrame)],
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(methods.nonEmpty,
      "pairMetricsMany needs at least one (method, candidates) entry")
    def norm(df: DataFrame): DataFrame = df.select(
      least(col(idA), col(idB)).as("a"),
      greatest(col(idA), col(idB)).as("b")).distinct()
    // Key the cache by the truth plan's semantic hash: two concurrent
    // calls with different truths must not evict each other mid-lineage
    // (same truth still shares one entry, so repeat calls stay cheap).
    val nt = norm(truth)
    val t = graft.util.DfCache.holdCached(
      s"pairMetrics.truth.${nt.queryExecution.analyzed.semanticHash()}", nt)
    methods.map { case (method, candidates) =>
      val joined = norm(candidates).withColumn("in_c", lit(1))
        .join(t.withColumn("in_t", lit(1)), Seq("a", "b"), "full_outer")
      val counts = joined.agg(
        count(col("in_t")).as("n_truth"),
        count(col("in_c")).as("n_cand"),
        count(when(col("in_t").isNotNull && col("in_c").isNotNull, 1)).as("n_hit"))
      val p = round(when(col("n_cand") > 0,
        col("n_hit").cast("double") / col("n_cand")).otherwise(0.0), 6)
      val r = round(when(col("n_truth") > 0,
        col("n_hit").cast("double") / col("n_truth")).otherwise(0.0), 6)
      counts.select(lit(method).as("method"),
          col("n_truth"), col("n_cand"), col("n_hit"),
          p.as("precision"), r.as("recall"))
        .withColumn("f1", round(when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall"))).otherwise(0.0), 6))
    }.reduce(_.union(_))
  }
}

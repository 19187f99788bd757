package graft

import graft.operators.Eval

/** Retrieval-metrics harness: hand-computed values on a tiny run,
  * cutoff semantics, and the degenerate arms (perfect ranking, no
  * relevant docs, no hits). */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private def log2(x: Double) = math.log(x) / math.log(2.0)
  private def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("retrievalMetrics: hand-computed metrics at a cutoff") {
    // q1: relevant {b, d, e}; retrieved a,b,c,d — at k=3 only b@2 counts
    // q2: perfect two-hit ranking → recall 1, rr 1, ndcg 1
    // q3: has results but no qrels → all zeros, n_rel 0
    val results = Seq(
      (1L, "a", 1), (1L, "b", 2), (1L, "c", 3), (1L, "d", 4),
      (2L, "x", 1), (2L, "y", 2),
      (3L, "z", 1)
    ).toDF("qid", "doc_id", "rank")
    val qrels = Seq(
      (1L, "b"), (1L, "d"), (1L, "e"),
      (2L, "x"), (2L, "y")
    ).toDF("qid", "doc_id")

    val out = Eval.retrievalMetrics(results, qrels, k = 3)
      .orderBy("qid")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    val byQ = out.map(r => r._1 -> r).toMap

    // q1: n_rel=3, hits=1 (b at rank 2; d is beyond the cutoff)
    val (_, n1, h1, p1, rec1, rr1, ndcg1) = byQ(1L)
    assert((n1, h1) === ((3L, 1L)))
    assert(p1 === r6(1.0 / 3))
    assert(rec1 === r6(1.0 / 3))
    assert(rr1 === 0.5)
    val idcg1 = (1 to 3).map(i => 1.0 / log2(i + 1.0)).sum
    assert(math.abs(ndcg1 - (1.0 / log2(3.0)) / idcg1) < 2e-6)

    // q2: dcg == ideal dcg → exactly 1.0 after rounding
    val (_, n2, h2, p2, rec2, rr2, ndcg2) = byQ(2L)
    assert((n2, h2) === ((2L, 2L)))
    assert(p2 === r6(2.0 / 3))
    assert((rec2, rr2, ndcg2) === ((1.0, 1.0, 1.0)))

    // q3: no qrels → zeros (not nulls, not missing)
    assert(byQ(3L) === ((3L, 0L, 0L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("retrievalMetrics: relevant docs exist but none retrieved") {
    val results = Seq((1L, "a", 1), (1L, "b", 2)).toDF("qid", "doc_id", "rank")
    val qrels = Seq((1L, "z")).toDF("qid", "doc_id")
    val m = Eval.retrievalMetrics(results, qrels, k = 10)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().head
    assert(m === ((1L, 1L, 0L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("retrievalMetrics: a query beyond the cutoff or with no results scores 0, not missing (r6 ADVICE fix)") {
    // q1 retrieved only past the cutoff; q2 is in qrels with NO result
    // rows at all; q3 is healthy. All three must appear — dropping the
    // zero-scoring queries would bias every macro-average upward.
    val results = Seq((1L, "a", 11), (3L, "x", 1)).toDF("qid", "doc_id", "rank")
    val qrels = Seq((1L, "a"), (2L, "b"), (3L, "x")).toDF("qid", "doc_id")
    val m = Eval.retrievalMetrics(results, qrels, k = 10)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(m.keySet == Set(1L, 2L, 3L))
    assert(m(1L) === ((1L, 1L, 0L, 0.0, 0.0, 0.0, 0.0)))
    assert(m(2L) === ((2L, 1L, 0L, 0.0, 0.0, 0.0, 0.0)))
    assert(m(3L)._7 === 1.0) // the healthy query still scores
  }

  test("pairMetrics: hand-computed precision/recall/F1, orientation + dup normalization") {
    // truth {12, 13, 24}; candidates {12 (reversed), 12 (dup), 24, 35}
    // -> n_cand 3, hits 2: precision 2/3, recall 2/3, f1 = 2pr/(p+r)
    val truth = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("id_a", "id_b")
    val cand = Seq((2L, 1L), (1L, 2L), (2L, 4L), (3L, 5L)).toDF("id_a", "id_b")
    val m = Eval.pairMetricsMany(truth, Seq("mh" -> cand))
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().head
    val p = BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m === (("mh", 3L, 3L, 2L, p, p, p))) // p == r -> f1 == p
    // empty candidate set: all-zero ratios, not NaN/missing
    val z = Eval.pairMetricsMany(truth, Seq("none" -> truth.limit(0)))
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().head
    assert(z === (("none", 3L, 0L, 0L, 0.0, 0.0, 0.0)))
  }

  test("pairMetricsMany: several methods share one cached truth, per-method rows") {
    val truth = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("id_a", "id_b")
    val perfect = truth
    val partial = Seq((2L, 1L), (9L, 8L)).toDF("id_a", "id_b") // 1 hit of 2
    val rows = Eval.pairMetricsMany(truth,
        Seq("perfect" -> perfect, "partial" -> partial))
      .orderBy("method")
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.length == 2)
    assert(rows(0) === (("partial", 3L, 2L, 1L, 0.5,
      BigDecimal(1.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.4)))
    assert(rows(1) === (("perfect", 3L, 3L, 3L, 1.0, 1.0, 1.0)))
    // the shared truth is held in the deferred-release registry and
    // drains with the rest
    assert(graft.operators.Dedup.heldCount > 0)
    graft.operators.Dedup.releaseCaches()
    assert(graft.operators.Dedup.heldCount == 0)
  }

  test("retrievalMetrics: duplicate qrel rows don't inflate n_rel") {
    val results = Seq((1L, "a", 1)).toDF("qid", "doc_id", "rank")
    val qrels = Seq((1L, "a"), (1L, "a"), (1L, "b")).toDF("qid", "doc_id")
    val m = Eval.retrievalMetrics(results, qrels, k = 5)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().head
    assert(m._2 === 2L) // n_rel deduplicated
    assert(m._3 === 1L)
    assert(m._5 === 0.5) // recall 1/2
  }
}

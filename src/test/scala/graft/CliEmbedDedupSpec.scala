package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The embedding arms of `Cli dedup` (--method embed|semantic): this
  * spec calls Cli.dedupSurvivors, the function `Cli.main` runs —
  * LSH-bucketed (or k-means-blocked) cosine pairs, connected
  * components, and a QUALITY-KEYED survivor per near-dup cluster via
  * resolveByQuality — against an in-memory embeddings fixture, without
  * Cli.main's session lifecycle (it stops the shared session). The
  * operator-level cases below pin the pair tiers themselves. A true
  * end-to-end Cli.main run lives in E2eDrive. */
class CliEmbedDedupSpec extends SparkSpec {
  import spark.implicits._

  // Three near-dup families along distinct directions (base + a tiny
  // jitter: cosine ~0.9999) plus two far-apart singletons; quality is
  // anti-correlated with id so the quality-keyed survivor differs from
  // the smallest-id survivor the plain tiers would pick.
  private lazy val emb = Seq(
    (1L, Seq(1.0, 0.0, 0.0, 0.0), 0.1),
    (2L, Seq(1.0, 0.01, 0.0, 0.0), 0.9), // family A: 2 beats 1 on quality
    (3L, Seq(0.0, 1.0, 0.0, 0.0), 0.2),
    (4L, Seq(0.01, 1.0, 0.0, 0.0), 0.8), // family B: 4 beats 3
    (5L, Seq(0.0, 0.0, 1.0, 0.0), 0.5),
    (6L, Seq(0.0, 0.0, 1.0, 0.01), 0.4), // family C: 5 beats 6 (id also smaller)
    (7L, Seq(0.5, 0.5, 0.5, 0.0), 0.3),  // singletons: nothing near
    (8L, Seq(-1.0, 0.3, 0.0, 0.5), 0.6)
  ).toDF("vec_id", "embedding", "quality")

  /** The ids `Cli dedup --docs <emb> --method <method>` keeps. */
  private def survivors(method: String, flags: (String, String)*): Set[Long] =
    Cli.dedupSurvivors(emb, Map("method" -> method) ++ flags)
      .select("vec_id").as[Long].collect().toSet

  test("embed method: LSH pairs + CC + quality-keyed survivors") {
    val kept = survivors("embed", "bits" -> "8", "min-cosine" -> "0.99",
      "quality-col" -> "quality")
    // each family keeps its HIGHEST-QUALITY member, not its smallest id
    assert(kept == Set(2L, 4L, 5L, 7L, 8L), s"got $kept")
  }

  test("embed method without --quality-col falls back to smallest-id survivors") {
    val kept = survivors("embed", "bits" -> "8", "min-cosine" -> "0.99")
    assert(kept == Set(1L, 3L, 5L, 7L, 8L), s"got $kept")
  }

  test("semantic method: k-means blocking + within-cluster pairs + quality survivors") {
    val kept = survivors("semantic", "clusters" -> "4", "iters" -> "5", "tau" -> "0.99",
      "quality-col" -> "quality")
    // k-means blocking may split differently, but near-identical pairs
    // land in one cluster (cosine 0.9999 >> any centroid boundary):
    // every family must collapse to its highest-quality member
    assert(kept.intersect(Set(1L, 2L)) == Set(2L), s"family A: $kept")
    assert(kept.intersect(Set(3L, 4L)) == Set(4L), s"family B: $kept")
    assert(kept.intersect(Set(5L, 6L)) == Set(5L), s"family C: $kept")
    assert(kept.contains(7L) && kept.contains(8L), s"singletons must survive: $kept")
  }

  test("semanticPairs matches semanticDedup's pair semantics") {
    // the pair form and the is_dup form must agree on WHO is a dup
    // under the smallest-id policy: is_dup(x) <=> x appears as the
    // LARGER id of some pair
    val withCl = emb.withColumn("cluster", lit(0)) // one block: all pairs
    val pairs = Dedup.semanticPairs(withCl, "vec_id", "embedding",
      "cluster", tau = 0.99)
    val dupFromPairs = pairs.select(col("id_b").cast("long")).distinct()
      .as[Long].collect().toSet
    val dupFromDedup = Dedup.semanticDedup(withCl, "vec_id", "embedding",
      "cluster", tau = 0.99)
      .filter(col("is_dup")).select(col("id").cast("long"))
      .as[Long].collect().toSet
    assert(dupFromPairs == dupFromDedup)
  }

  test("semantic tiers: null clusters dedup among themselves (sentinel block)") {
    // SQL null never matches an equi-join key: without Knn.blockKey's
    // sentinel coalesce in semanticDedup/semanticPairs, a null-cluster
    // row could never be flagged a dup and emitted no pairs — silently
    // exempt from dedup. Parity: null behaves as one distinct cluster.
    // family A (ids 1,2) keeps a real cluster; families B (3,4) and
    // C (5,6) land WHOLE in the null block so it genuinely dedups
    def cl(v: org.apache.spark.sql.Column) =
      emb.withColumn("cluster", when($"vec_id" <= 2, lit("a")).otherwise(v))
    val dedupNull = Dedup.semanticDedup(cl(lit(null)), "vec_id", "embedding",
        "cluster", tau = 0.99)
      .select(col("id").cast("long"), col("is_dup")).as[(Long, Boolean)]
      .collect().toSet
    val dedupSent = Dedup.semanticDedup(cl(lit("zz")), "vec_id", "embedding",
        "cluster", tau = 0.99)
      .select(col("id").cast("long"), col("is_dup")).as[(Long, Boolean)]
      .collect().toSet
    assert(dedupNull == dedupSent)
    val pairsNull = Dedup.semanticPairs(cl(lit(null)), "vec_id", "embedding",
        "cluster", tau = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    val pairsSent = Dedup.semanticPairs(cl(lit("zz")), "vec_id", "embedding",
        "cluster", tau = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairsNull == pairsSent)
    // non-vacuous: the null block holds families B and C whole, so the
    // sentinel path must surface their pairs and flag their larger ids
    assert(pairsNull.map(p => (p._1, p._2)).contains((3L, 4L)) &&
      dedupNull.contains((4L, true)) && dedupNull.contains((6L, true)),
      s"null-cluster families must dedup: pairs=$pairsNull dedup=$dedupNull")
  }
}

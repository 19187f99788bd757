package graft

import org.apache.spark.sql.{Encoders, functions => F}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => PropTest}

import graft.functions.BoundedIds
import graft.operators.Dedup

/** The size-bounded posting-list aggregator behind the capped
  * inverted-index dedup tier (r8): kept groups (n <= max) must carry
  * COMPLETE, exact lists regardless of how Spark partitions and merges
  * the partial buffers; over-cap groups must keep their exact count
  * (so the filter still sees them) while never carrying more than
  * max+1 ids. */
class BoundedIdsSpec extends SparkSpec {
  import spark.implicits._

  // each iteration runs a Spark aggregation; keep the count Spark-sized
  private def check(p: Prop): Unit = {
    val r = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(r.passed, r.status.toString)
  }

  private def agg(max: Int) = F.udaf(new BoundedIds(max), Encoders.scalaLong)

  test("kept groups carry complete lists; over-cap groups exact counts, bounded lists") {
    val rows = Seq(
      ("small", 1L), ("small", 2L),
      ("atCap", 10L), ("atCap", 11L), ("atCap", 12L),
      ("hot", 20L), ("hot", 21L), ("hot", 22L), ("hot", 23L), ("hot", 24L))
      .toDF("k", "id").repartition(7) // force multi-partition merges
    val got = rows.groupBy("k").agg(agg(3)(col("id")).as("acc"))
      .select(col("k"), col("acc.ids"), col("acc.n"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Long](1).toSet, r.getSeq[Long](1).size, r.getLong(2))).toMap
    assert(got("small") == (Set(1L, 2L), 2, 2L))
    assert(got("atCap") == (Set(10L, 11L, 12L), 3, 3L))
    val (_, hotLen, hotN) = got("hot")
    assert(hotN == 5L, "over-cap group must keep its exact count")
    assert(hotLen <= 4, "over-cap group must not carry more than max+1 ids")
  }

  test("property: completeness of kept groups is partition-invariant") {
    val genCase = for {
      nGroups <- Gen.choose(1, 6)
      rows <- Gen.listOfN(60, for {
        g <- Gen.choose(0, nGroups - 1)
        id <- Gen.choose(0L, 999L)
      } yield (s"g$g", id))
      max <- Gen.choose(1, 30)
      parts <- Gen.choose(1, 8)
    } yield (rows.distinct, max, parts) // distinct (group, id): the operators feed distinct rows
    check(Prop.forAll(genCase) { case (rows, max, parts) =>
      rows.isEmpty || {
        val expect = rows.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
        val got = rows.toDF("k", "id").repartition(parts)
          .groupBy("k").agg(agg(max)(col("id")).as("acc"))
          .select(col("k"), col("acc.ids"), col("acc.n"))
          .collect().map(r =>
            r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
        expect.forall { case (k, ids) =>
          val (gotIds, n) = got(k)
          n == ids.size.toLong &&
            (if (ids.size <= max) gotIds.toSet == ids && gotIds.size == ids.size
             else gotIds.size <= max + 1)
        }
      }
    })
  }

  test("capped jaccardPairs agrees with the uncapped join formulation under a high cap") {
    // With the cap above every shingle's df, the capped (posting-list)
    // and uncapped (self-join) tiers must produce identical pair sets —
    // the two formulations check each other.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(120)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairs(Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, minJ = 0.3, maxShingleDf = 1000000L))
    val uncapped = pairs(Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, minJ = 0.3))
    assert(capped == uncapped)
  }
}

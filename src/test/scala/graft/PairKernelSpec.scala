package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => PropTest}

import graft.operators.{Dedup, PairCountsReference}

/** The capped pair counters' RDD kernel (`PairKernel`, the posting tier
  * of `Dedup.jaccardPairs`, `containmentPairs` and `winnowPairs`)
  * against the DataFrame posting tier it replaced
  * ([[PairCountsReference]]), and its job and cache footprint. */
class PairKernelSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def frame(rows: Seq[(java.lang.Long, String)], parts: Int = 1): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) => Row(id, t) }, parts), schema)

  // rows with the score columns as raw bits, so equal means bit-equal
  private def bits(df: DataFrame): Set[Seq[Any]] = df.collect().map { r =>
    r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }
  }.toSet

  test("null ids drop and repeated ids count once on every tier") {
    val text = "alpha beta gamma delta epsilon"
    val nulls = frame(Seq((1L, text), (null, text), (3L, text + " zeta"),
      (0L, "unrelated words only here now")))
    def jaccard(docs: DataFrame, cap: Long) =
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJ = 0.3, maxShingleDf = cap)
        .select(col("id_a").cast("string"), col("id_b").cast("string"), col("jaccard"))
        .as[(String, String, Double)].collect().toSet
    val strIds = nulls.selectExpr("cast(doc_id as string) as doc_id", "text")
    for ((docs, cap) <- Seq((nulls, 20L), (nulls, 0L), (strIds, 20L)))
      assert(jaccard(docs, cap) == Set(("1", "3", 0.75)), s"cap $cap over ${docs.schema}")

    val repeated = frame(Seq((1L, text), (1L, text), (2L, text)), parts = 2)
    for (cap <- Seq(20L, 0L)) {
      assert(Dedup.jaccardPairs(repeated, "doc_id", "text", n = 3, minJ = 0.3,
        maxShingleDf = cap).as[(Long, Long, Double)].collect().toSeq == Seq((1L, 2L, 1.0)))
      assert(Dedup.containmentPairs(repeated, "doc_id", "text", n = 3, minC = 0.3,
        maxShingleDf = cap).as[(Long, Long, Double, Double)].collect().toSeq ==
        Seq((1L, 2L, 1.0, 1.0)))
    }
    assert(Dedup.minhashDedup(repeated, "doc_id", "text", 3, 8, 2, 0.3)
      .as[(Long, Long, Double)].collect().toSeq == Seq((1L, 2L, 1.0)))
  }

  test("property: kernel == DataFrame posting tier, bit-equal scores") {
    // a small vocabulary so keys collide; the case-mapping characters
    // (dotted capital I, the Kelvin sign, capital sigma) and the
    // one-letter word test the tokenizer against the DataFrame `tokens`
    val words = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "AA", "Bb", "a",
      "İii", "Ka", "ΣΣ", "dd.ee", "ab1")
    val text = Gen.frequency(1 -> Gen.const(null: String),
      6 -> Gen.choose(0, 12).flatMap(Gen.listOfN(_, words)).map(_.mkString(" ")))
    val id = Gen.frequency(1 -> Gen.const(null: java.lang.Long),
      8 -> Gen.choose(-3L, 12L).map(java.lang.Long.valueOf))
    val genCase = for {
      rows <- Gen.choose(0, 16).flatMap(Gen.listOfN(_, Gen.zip(id, text)))
      idType <- Gen.oneOf("long", "int", "short")
      cap <- Gen.choose(1, rows.size + 2)
      parts <- Gen.choose(1, 4)
      n <- Gen.choose(1, 3)
      k <- Gen.choose(1, 3)
      w <- Gen.choose(1, 4)
      minJ <- Gen.oneOf(0.0, 0.3, 0.5)
      minShared <- Gen.choose(1L, 2L)
    } yield (rows, idType, cap, parts, n, k, w, minJ, minShared)
    val r = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAllNoShrink(genCase) { case (rows, idType, cap, parts, n, k, w, minJ, minShared) =>
        val docs = frame(rows, parts)
          .select(col("doc_id").cast(idType).as("doc_id"), col("text"))
        def same(got: DataFrame, want: DataFrame): Prop =
          Prop(got.schema == want.schema && bits(got) == bits(want)) :|
            s"${got.schema} ${bits(got)} vs ${want.schema} ${bits(want)}"
        same(Dedup.jaccardPairs(docs, "doc_id", "text", n, minJ, cap),
          PairCountsReference.jaccardPairs(docs, "doc_id", "text", n, minJ, cap)) &&
        same(Dedup.containmentPairs(docs, "doc_id", "text", n, minJ, cap),
          PairCountsReference.containmentPairs(docs, "doc_id", "text", n, minJ, cap)) &&
        same(Dedup.winnowPairs(docs, "doc_id", "text", k, w, minShared, cap),
          PairCountsReference.winnowPairs(docs, "doc_id", "text", k, w, minShared, cap))
      })
    assert(r.passed, r.status.toString)
  }

  private lazy val sfDocs = Tables.documents(spark, "/root/testdata/sf0.001")
  private def capped: Seq[(String, DataFrame)] = Seq(
    "jaccardPairs" -> Dedup.jaccardPairs(sfDocs, "doc_id", "text",
      n = 3, minJ = 0.5, maxShingleDf = 20),
    "containmentPairs" -> Dedup.containmentPairs(sfDocs, "doc_id", "text",
      n = 3, minC = 0.8, maxShingleDf = 20),
    "winnowPairs" -> Dedup.winnowPairs(sfDocs, "doc_id", "text",
      k = 3, w = 4, minShared = 2, maxFpDf = 20))

  test("a count on a capped pair counter runs at most 2 Spark jobs") {
    capped.foreach { case (op, df) =>
      val (n, jobs) = jobsOf(df.count())
      assert(n > 0, s"$op: the fixture must produce pairs")
      assert(jobs <= 2, s"$op: count ran $jobs jobs")
    }
  }

  test("capped pair counters persist nothing and hold no cache entry") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = Dedup.heldCount
    capped.foreach { case (_, df) => df.count() }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(Dedup.heldCount == held)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Knn, KnnReference}

class KnnSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)

  test("exact top-k: self-match first, k rows, deterministic") {
    val top = Knn.exactTopK(emb, Knn.queryVector(emb, 0L), 5)
      .as[(Long, Double)].collect()
    assert(top.length == 5)
    assert(top.head._1 == 0L) // normalized vectors: self inner product = 1
    assert(top.head._2 == 1.0)
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("ivf with all clusters probed equals exact search") {
    val q = Knn.queryVector(emb, 7L)
    val exact = Knn.exactTopK(emb, q, 10).as[(Long, Double)].collect().toSeq
    val ivf = KnnReference.ivfTopK(emb, q, "label", nprobe = 10, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(ivf == exact)
  }

  test("mmr rerank: lambda=1 is exact order; duplicates get deferred; deterministic") {
    val q = Knn.queryVector(emb, 0L)
    // lambda=1: the diversity term vanishes, selection IS the exact order
    val pure = Knn.exactTopK(emb, q, 10).as[(Long, Double)].collect().map(_._1).toSeq
    val l1 = Knn.mmrRerank(emb, q, k = 10, fetchK = 50, lambda = 1.0)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(l1 == pure)
    // a near-duplicate of the best hit must rank LOWER under mmr than
    // under pure relevance: clone vec 0 as id 9999 with tiny noise
    val v0 = emb.filter($"vec_id" === 0L)
      .select(graft.functions.VectorFunctions.asDouble($"embedding"))
      .head.getSeq[Double](0)
    val clone = Seq((9999L, v0.map(x => (x * 0.999f).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val withClone = emb.select($"vec_id", $"embedding", $"label").union(clone)
    // lambda 0.3 weights diversity enough to punish the ~1.0 sim (at
    // 0.7 the clone's huge relevance gap would still win step 2)
    val mmr = Knn.mmrRerank(withClone, q, k = 10, fetchK = 50, lambda = 0.3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val pureC = Knn.exactTopK(withClone, q, 10).as[(Long, Double)].collect().map(_._1).toSeq
    assert(pureC.take(2).toSet == Set(0L, 9999L)) // relevance alone keeps the dup adjacent
    assert(mmr.head == 0L)
    assert(mmr.indexOf(9999L) != 1, s"mmr should defer the near-duplicate: $mmr")
    // deterministic
    val again = Knn.mmrRerank(withClone, q, k = 10, fetchK = 50, lambda = 0.3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(again == mmr)
  }

  test("mmr rerank guards its driver bound (fetchK <= 10000)") {
    val q = Knn.queryVector(emb, 0L)
    val e = intercept[IllegalArgumentException](
      Knn.mmrRerank(emb, q, k = 10, fetchK = 10001))
    assert(e.getMessage.contains("driver-bounded"))
    // at the bound itself the call is legal
    Knn.mmrRerank(emb, q, k = 1, fetchK = 10000)
    ()
  }

  test("kmeans ivf assignment: deterministic, k clusters, prunable") {
    val assigned = Knn.ivfAssign(emb, "embedding", numClusters = 8)
    val clusters = assigned.select("centroid_id").distinct().as[Int].collect().toSet
    assert(clusters.size <= 8 && clusters.forall(c => c >= 0 && c < 8))
    val again = Knn.ivfAssign(emb, "embedding", numClusters = 8)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    val first = assigned.select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert(first == again)
    // pruned search through the kmeans clusters still returns k rows
    val r = KnnReference.ivfTopK(assigned, Knn.queryVector(emb, 0L), "centroid_id",
      nprobe = 2, k = 5).as[(Long, Double)].collect()
    assert(r.length == 5)
  }

  test("aggregator batch top-k equals window batch top-k; partial agg in plan") {
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
    val win = Knn.batchTopK(emb, queries, 7)
      .orderBy("qid", "rank").collect().toSeq
    val aggDf = Knn.batchTopKAgg(emb, queries, 7)
    val agg = aggDf.orderBy("qid", "rank").collect().toSeq
    assert(agg == win)
    // two-phase aggregation: a partial_ aggregate runs before the shuffle
    val plan = aggDf.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"expected map-side partial agg in:\n$plan")
  }

  test("batchIvfTopK == per-query ivfTopK; probes broadcast, partial agg in plan") {
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("qv"))
    val batchDf = Knn.batchIvfTopK(emb, queries, "label", nprobe = 3, k = 5)
    val batch = batchDf.orderBy("qid", "rank")
      .select("qid", "vec_id", "score").as[(Long, Long, Double)]
      .collect().toSeq
    // the per-query oracle formulation, one qid at a time
    val single = (0L until 4L).flatMap { q =>
      KnnReference.ivfTopK(emb, Knn.queryVector(emb, q), "label", nprobe = 3, k = 5)
        .as[(Long, Double)].collect().toSeq
        .map { case (id, s) => (q, id, s) }
    }
    assert(batch == single,
      s"batched IVF diverged from the per-query formulation")
    // the scale contract: the Q x nprobe probe list broadcasts (the
    // corpus side never shuffles for the probe join) and the final
    // per-query top-k is a two-phase aggregate (map-side partials)
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"expected broadcast probe join in:\n$plan")
    assert(plan.contains("partial_"),
      s"expected map-side partial agg in:\n$plan")
  }

  test("SignLsh64 expression matches the Column formulation bit-for-bit") {
    // Every stored embedding, two plane configs (incl. a bit count past
    // what a sane Column tree would allow at real dims) — keys must be
    // identical, including vectors projecting exactly to 0 on a plane
    // (the zero vector: strict proj > 0 keeps the bit clear).
    import graft.functions.VectorFunctions.asDouble
    val withZero = emb.select(asDouble(col("embedding")).as("v"))
      .union(Seq(Seq.fill(64)(0.0)).toDF("v"))
    for ((bits, seed) <- Seq((12, 42L), (16, 7L))) {
      val got = withZero.select(
        Knn.signLshKey(col("v"), dims = 64, bits = bits, seed = seed).as("k"),
        KnnReference.signLshKeyColumns(col("v"), dims = 64, bits = bits, seed = seed).as("kc"))
        .as[(Long, Long)].collect()
      assert(got.forall { case (k, kc) => k == kc },
        s"bits=$bits seed=$seed diverged")
      assert(got.last._1 == 0L) // zero vector -> no bit set
    }
  }

  test("SignLsh64 fails fast on short vectors (no silent garbage keys)") {
    val short = Seq(Seq.fill(8)(0.5)).toDF("v")
    val e = intercept[Exception] {
      short.select(Knn.signLshKey(col("v"), dims = 64, bits = 8)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("expected >= 64")))
  }

  test("stored binary tier == on-the-fly hammingTopK at the same knobs") {
    import java.nio.file.Files
    import graft.pipeline.Index
    val d = Files.createTempDirectory("graft-binsig").toString + "/idx"
    emb.select(col("vec_id"), col("embedding")).write.parquet(s"$d/embeddings")
    Index.writeBinaryLayout(spark, d, dims = 64, idCol = "vec_id")
    val qf = emb.filter(col("vec_id") === 7L)
      .select("embedding").head.getSeq[Float](0).toArray
    val qd = qf.map(_.toDouble)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // stored sketches must reproduce the on-the-fly tier exactly...
    val stored = rows(Index.searchBinary(spark, d, qf, dims = 64, k = 10,
      rerank = 50, idCol = "vec_id"))
    val fly = rows(Knn.hammingTopK(emb, qd, dims = 64, k = 10, rerank = 50))
    assert(stored == fly)
    // ...and at full rerank the ladder bottoms out at exact search
    val full = rows(Index.searchBinary(spark, d, qf, dims = 64, k = 10,
      rerank = 100000, idCol = "vec_id"))
    val exact = rows(Knn.exactTopK(emb, Knn.queryVector(emb, 7L), 10))
    assert(full == exact)
  }

  test("hamming tier: full rerank is exact; binary candidates carry real recall") {
    val q = emb.filter(col("vec_id") === 7L)
      .select(graft.functions.VectorFunctions.asDouble(col("embedding")))
      .head.getSeq[Double](0).toArray
    val exact = Knn.exactTopK(emb, Knn.queryVector(emb, 7L), 10)
      .as[(Long, Double)].collect().toSeq
    // rerank covering the corpus -> identical to exact search
    val full = Knn.hammingTopK(emb, q, dims = 64, k = 10, rerank = 1000)
      .as[(Long, Double)].collect().toSeq
    assert(full == exact)
    // the 1-bit sketch is informative: the top-50 Hamming candidates
    // must recover a meaningful share of the true top-10
    val got = Knn.hammingTopK(emb, q, dims = 64, k = 10, rerank = 50)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = (exact.map(_._1).toSet intersect got).size / 10.0
    info(f"hamming rerank=50 recall@10 = $recall%.2f")
    assert(recall >= 0.3)
  }

  test("sign-LSH: identical vectors collide; pairs verified by cosine") {
    val dup = emb.limit(3).union(emb.limit(3)) // every vector duplicated
      .withColumn("rid", monotonically_increasing_id())
      .select(col("rid"), col("embedding"))
    val pairs = Dedup.embeddingLshPairs(dup, "rid", "embedding",
      dims = 64, bits = 12, minCosine = 0.999)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 3) // the three duplicate pairs
    assert(pairs.forall(_._3 == 1.0))
  }

  test("hardNegatives: cross-label only, ranked, single-block == exact, centroid recall") {
    val anchors = emb.filter($"vec_id" % 20 === 0)
    val exact = Knn.hardNegatives(anchors, emb, "vec_id", "embedding",
        "label", k = 5)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(exact.nonEmpty)
    // k rows per anchor, rank dense from 1, scores non-increasing
    exact.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.size))
      assert(sorted.map(_._4).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)))
    }
    // negatives genuinely cross-label
    val lbl = emb.select($"vec_id", $"label").as[(Long, String)].collect().toMap
    exact.foreach { case (a, _, n, _) => assert(lbl(a) != lbl(n)) }
    // a constant block column reproduces the exact tier identically
    val oneBlock = Knn.hardNegatives(
        anchors.withColumn("blkc", lit(1)), emb.withColumn("blkc", lit(1)),
        "vec_id", "embedding", "label", k = 5, blockCol = Some("blkc"))
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(oneBlock.toSet == exact.toSet)
    // centroid blocking: meaningful recall of the true hard negatives
    // (random-ish embeddings make this a floor, not a ceiling)
    val assigned = Knn.ivfAssign(emb, "embedding", numClusters = 4, seed = 7L)
    val blocked = Knn.hardNegatives(
        assigned.join(anchors.select("vec_id"), "vec_id"), assigned,
        "vec_id", "embedding", "label", k = 5, blockCol = Some("centroid_id"))
      .as[(Long, Int, Long, Double)].collect().toSeq
    val recall = (blocked.map(r => (r._1, r._3)).toSet
      intersect exact.map(r => (r._1, r._3)).toSet).size.toDouble / exact.size
    info(f"centroid-blocked hard-negative recall = $recall%.2f")
    assert(recall >= 0.2)
  }

  test("hardNegatives null blocks coalesce into one sentinel block (not dropped)") {
    // Parity: a null block value must behave exactly like any other
    // distinct block value (Knn.blockKey's sentinel coalesce), not
    // silently drop its rows from the equi-joins.
    val anchors = emb.filter($"vec_id" % 20 === 0)
    // anchors are multiples of 20, so split blocks on % 40: anchors at
    // 20, 60, 100, ... land in the NULL block and must not vanish
    def blk(v: org.apache.spark.sql.Column) =
      when($"vec_id" % 40 === 0, lit("a")).otherwise(v)
    def run(v: org.apache.spark.sql.Column) = Knn.hardNegatives(
        anchors.withColumn("b2", blk(v)), emb.withColumn("b2", blk(v)),
        "vec_id", "embedding", "label", k = 5, blockCol = Some("b2"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val gotNull = run(lit(null))
    assert(gotNull == run(lit("zz")))
    assert(gotNull.exists(_._1 % 40 != 0),
      "null-block anchors must keep their negatives")
  }
}

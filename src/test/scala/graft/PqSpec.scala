package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Knn, Pq, PqReference}

/** Product quantization: encoder expression parity against the driver
  * reference, ADC scoring parity, the exact-search identity at full
  * nprobe/rerank, recall under real compression, and the KMeans-trained
  * codebooks beating the seed (sample-init) ones on reconstruction. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val seedCb = Pq.seedCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)

  /** A fresh index directory holding `assigned`'s IVF layout and the
    * PQ tier encoded with `cb` — the stored layout [[graft.pipeline.Index.searchPq]]
    * reads. */
  private def storedPq(assigned: DataFrame, cb: Pq.Codebooks): String = {
    import graft.pipeline.Index
    val d = java.nio.file.Files.createTempDirectory("graft-pq-stored").toString + "/idx"
    Index.writeIvfLayout(spark, assigned, d)
    Index.writePqLayout(spark, d, cb, idCol = "vec_id")
    d
  }

  private def vecOf(id: Long): Array[Double] =
    emb.filter(col("vec_id") === id)
      .select(graft.functions.VectorFunctions.asDouble(col("embedding")))
      .head.getSeq[Double](0).toArray

  test("PqEncode matches the driver reference encoder (codegen and interpreted)") {
    val rows = emb.limit(100).select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    for (wholeStage <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val got = emb.limit(100)
          .select(col("vec_id"), Pq.encodeCol(col("embedding"), seedCb).as("codes"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
        for ((id, v) <- rows)
          assert(got(id).toSeq === PqReference.encodeRef(v, seedCb).toSeq,
            s"codes diverge for vec $id (wholeStage=$wholeStage)")
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("adcScore column equals driver-side LUT sum") {
    val q = vecOf(7L)
    val lut = Pq.adcLut(seedCb, q)
    val got = emb.limit(50)
      .select(col("vec_id"), Pq.encodeCol(col("embedding"), seedCb).as("codes"))
      .withColumn("adc", Pq.adcScore(col("codes"), lut))
      .collect()
    for (r <- got) {
      val codes = r.getSeq[Int](1)
      val want = codes.zipWithIndex.map { case (c, mi) => lut(mi)(c) }
        .foldLeft(0.0)(_ + _)
      assert(r.getDouble(2) === want, s"ADC diverges for vec ${r.getLong(0)}")
    }
  }

  test("wrong-dims vector fails fast") {
    val bad = Seq((1L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
    val e = intercept[Exception] {
      bad.select(Pq.encodeCol(col("v"), seedCb)).collect()
    }
    assert(e.getMessage != null)
  }

  test("searchPq at full nprobe + rerank IS exact search") {
    val q = vecOf(7L).map(_.toFloat)
    val assigned = Knn.ivfAssign(emb, "embedding", numClusters = 8, seed = 1L)
    val pq = graft.pipeline.Index.searchPq(spark, storedPq(assigned, seedCb), q,
        nprobe = 8, k = 10, rerank = 1000, idCol = "vec_id")
      .select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Knn.exactTopK(emb, Knn.queryVector(emb, 7L), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pq.toSeq === exact.toSeq)
  }

  test("recall@10 under compression: ADC-only vs rerank, seed vs trained") {
    val queryIds = Seq(3L, 57L, 123L, 250L, 401L)
    val trainedCb = Pq.trainCodebooks(emb, "embedding", m = 8, k = 16, seed = 42L)
    val assigned = Knn.ivfAssign(emb, "embedding", numClusters = 8, seed = 1L)

    val (seedDir, trainedDir) = (storedPq(assigned, seedCb), storedPq(assigned, trainedCb))

    def recall(idx: String, rerank: Int): Double = {
      val per = queryIds.map { qid =>
        val q = vecOf(qid).map(_.toFloat)
        val exact = Knn.exactTopK(emb, Knn.queryVector(emb, qid), 10)
          .select("vec_id").as[Long].collect().toSet
        val got = graft.pipeline.Index.searchPq(spark, idx, q,
            nprobe = 8, k = 10, rerank = rerank, idCol = "vec_id")
          .select("vec_id").as[Long].collect().toSet
        (exact intersect got).size.toDouble / 10
      }
      per.sum / per.size
    }

    // rerank recovers what quantization loses: exact re-rank of the ADC
    // top-100 (of 500) must dominate the raw ADC top-10
    val adcOnlySeed = recall(seedDir, rerank = 10)
    val rerankSeed = recall(seedDir, rerank = 100)
    val rerankTrained = recall(trainedDir, rerank = 100)
    info(f"recall@10 seed/adc-only=$adcOnlySeed%.2f seed/rerank100=$rerankSeed%.2f trained/rerank100=$rerankTrained%.2f")
    assert(rerankSeed >= adcOnlySeed - 1e-9)
    assert(rerankSeed >= 0.5, "rerank=100 of 500 should recover half the true top-10")
    assert(rerankTrained >= rerankSeed - 0.1,
      "KMeans codebooks should not be far below seed codebooks")
  }

  test("persisted PQ tier: buildPq/searchPq prune code partitions and match exact at full knobs") {
    import java.nio.file.Files
    import graft.pipeline.Index
    val d = Files.createTempDirectory("graft-pq").toString + "/idx"
    emb.select(col("vec_id").as("id"), col("embedding"))
      .write.parquet(s"$d/embeddings")
    Index.buildIvf(spark, d, numClusters = 8)
    Index.buildPq(spark, d, m = 8, k = 16)

    // round-trip: the persisted codebooks are the trained ones
    val cb = Index.loadPqCodebooks(spark, d)
    assert(cb.m === 8 && cb.k === 16 && cb.dsub === 8)

    val q = vecOf(7L).map(_.toFloat)
    // full knobs -> identical to exact search over the same rows
    val got = Index.searchPq(spark, d, q, nprobe = 8, k = 10, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Knn.exactTopK(
        spark.read.parquet(s"$d/embeddings_ivf").withColumnRenamed("id", "vec_id"),
        Knn.queryVector(emb, 7L), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === exact.toSeq)

    // restricted nprobe prunes the CODES scan by partition, not just the
    // float scan — the plan must show PartitionFilters on pq_codes
    val restricted = Index.searchPq(spark, d, q, nprobe = 2, k = 10, rerank = 50)
    val plan = restricted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"expected centroid partition pruning in:\n$plan")
    assert(restricted.count() === 10)

    // no-IVF fallback: PQ alone still searches (un-pruned ADC + re-rank)
    val d2 = Files.createTempDirectory("graft-pq-flat").toString + "/idx"
    emb.select(col("vec_id").as("id"), col("embedding"))
      .write.parquet(s"$d2/embeddings")
    Index.buildPq(spark, d2, m = 8, k = 16)
    val flat = Index.searchPq(spark, d2, q, nprobe = 1, k = 10, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(flat.toSeq === exact.toSeq)
  }

  test("buildIvf after a flat buildPq re-encodes the codes: tiers cannot desync") {
    import java.nio.file.Files
    import graft.pipeline.Index
    val d = Files.createTempDirectory("graft-pq-desync").toString + "/idx"
    emb.select(col("vec_id").as("id"), col("embedding"))
      .write.parquet(s"$d/embeddings")
    // PQ first (flat — no IVF layout yet), IVF second
    Index.buildPq(spark, d, m = 8, k = 16)
    assert(!spark.read.parquet(s"$d/pq_codes").columns.contains("centroid_id"))
    Index.buildIvf(spark, d, numClusters = 8)
    // writeIvfLayout re-encoded the tier against the new assignment
    assert(spark.read.parquet(s"$d/pq_codes").columns.contains("centroid_id"))
    assert(spark.read.parquet(s"$d/pq_codes").count() === 500L)
    val q = vecOf(7L).map(_.toFloat)
    val got = Index.searchPq(spark, d, q, nprobe = 8, k = 10, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Knn.exactTopK(emb, Knn.queryVector(emb, 7L), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === exact.toSeq)
  }

  test("appendPq: incremental codes for new vectors, search equals full rebuild") {
    import java.nio.file.Files
    import graft.pipeline.Index
    val d = Files.createTempDirectory("graft-pq-append").toString + "/idx"
    val all = emb.select(col("vec_id").as("id"), col("embedding"))
    // stage 1: index the first 400 vectors only
    all.filter(col("id") < 400).write.parquet(s"$d/embeddings")
    Index.buildIvf(spark, d, numClusters = 8)
    Index.buildPq(spark, d, m = 8, k = 16)
    // stage 2: the remaining 100 arrive; IVF assigns them to existing
    // centroids, appendPq encodes exactly the delta
    all.filter(col("id") >= 400).write.mode("append").parquet(s"$d/embeddings")
    val nIvf = Index.appendIvf(spark, d)
    val nPq = Index.appendPq(spark, d)
    assert(nIvf === 100L && nPq === 100L)
    assert(spark.read.parquet(s"$d/pq_codes").count() === 500L)
    // full-knob search over the incrementally-built tier is exact
    val q = vecOf(7L).map(_.toFloat)
    val got = Index.searchPq(spark, d, q, nprobe = 8, k = 10, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Knn.exactTopK(emb, Knn.queryVector(emb, 7L), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === exact.toSeq)
    // idempotent: nothing new on a second call
    assert(Index.appendPq(spark, d) === 0L)
  }

  test("PqEncode property: random vectors and codebooks, expression == reference") {
    import org.scalacheck.{Gen, Prop, Test => PropTest}
    val genCase = for {
      m <- Gen.choose(1, 4)
      k <- Gen.choose(1, 6)
      dsub <- Gen.choose(1, 5)
      // bounded magnitudes incl. negatives, zeros, and exact ties
      // (duplicate centroids force the first-win argmin to matter)
      cents <- Gen.listOfN(m * k * dsub, Gen.oneOf(Gen.choose(-3, 3).map(_.toDouble),
        Gen.choose(-1000, 1000).map(_ / 250.0)))
      nVecs <- Gen.choose(1, 8)
      vecs <- Gen.listOfN(nVecs * m * dsub, Gen.choose(-1000, 1000).map(_ / 250.0))
    } yield (m, k, dsub, cents, vecs.grouped(m * dsub).toList)

    val prop = Prop.forAll(genCase) { case (m, k, dsub, flat, vecs) =>
      val cb = Pq.Codebooks(m, k, dsub,
        Array.tabulate(m, k)((mi, c) =>
          flat.slice((mi * k + c) * dsub, (mi * k + c) * dsub + dsub).toArray))
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val got = df.select(col("id"), Pq.encodeCol(col("v"), cb).as("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
      vecs.zipWithIndex.forall { case (v, i) =>
        got(i.toLong) == PqReference.encodeRef(v.toArray, cb).toSeq
      }
    }
    val r = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(r.passed, r.status.toString)
  }

  test("trained codebooks reconstruct better than seed codebooks") {
    val trainedCb = Pq.trainCodebooks(emb, "embedding", m = 8, k = 16, seed = 42L)
    val vecs = emb.limit(200)
      .select(graft.functions.VectorFunctions.asDouble(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray)
    def mse(cb: Pq.Codebooks): Double = {
      val errs = vecs.map { v =>
        val rec = PqReference.decodeRef(PqReference.encodeRef(v, cb), cb)
        v.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum / v.length
      }
      errs.sum / errs.length
    }
    val seedMse = mse(seedCb)
    val trainedMse = mse(trainedCb)
    info(f"reconstruction MSE: seed=$seedMse%.4f trained=$trainedMse%.4f")
    assert(trainedMse < seedMse, "KMeans must beat sample-init on its own objective")
  }
}

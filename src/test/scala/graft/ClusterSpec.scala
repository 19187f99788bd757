package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => PropTest}
import org.scalacheck.Prop.propBoolean

import graft.functions.VectorFunctions.dot
import graft.functions.expressions.{DotProduct, RoundHalfUp}
import graft.operators.{Cluster, Stop}

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def toDf(vs: Seq[(Long, Seq[Double])]) =
    vs.toDF("vec_id", "embedding")

  // The DataFrame Lloyd round the operator ran before its partition
  // kernel (argmin over literal centroids, then posexplode + avg), kept
  // as the kernel's reference.
  private def refUpdate(base: DataFrame,
                        centroids: Map[Int, Array[Double]]): Map[Int, Array[Double]] =
    base.withColumn("cluster", refNearest(col("v"), centroids).getField("cl"))
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy("cluster", "pos").agg(round(avg("val"), 6).as("cm"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (cl, rows) => cl -> rows.sortBy(_._2).map(_._3) }

  private def refNearest(vecCol: Column, centroids: Map[Int, Array[Double]]): Column = {
    require(centroids.nonEmpty, "all clusters emptied")
    val structs = centroids.toSeq.sortBy(_._1).map { case (cl, c) =>
      val d = round(dot(vecCol, vecCol) - lit(2) * dot(vecCol, typedLit(c.toSeq))
        + lit(selfDot(c)), 6)
      struct(d.as("d"), lit(cl).as("cl"))
    }
    if (structs.size == 1) structs.head else least(structs: _*)
  }

  private def selfDot(c: Seq[Double]): Double = c.foldLeft(0.0)((s, x) => s + x * x)

  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("v", ArrayType(DoubleType, containsNull = true))))

  // an (id, v) base in exactly `parts` input partitions; None is a null element
  private def baseOf(vs: Seq[Seq[Option[Double]]], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.map(_.fold[Any](null)(identity))) }, parts), vecSchema)

  private def sameBits(a: Map[Int, Array[Double]], b: Map[Int, Array[Double]]): Boolean =
    a.keySet == b.keySet && a.forall { case (cl, v) => java.util.Arrays.equals(v, b(cl)) }

  private def show(m: Map[Int, Array[Double]]): String =
    m.toSeq.sortBy(_._1).map { case (cl, v) => s"$cl -> ${v.mkString("[", ",", "]")}" }
      .mkString("{", "; ", "}")

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("separable blobs: members group with their blob, centroids converge") {
    // three tight blobs around (0,0), (10,0), (0,10); ids interleaved so
    // init picks one vector from each blob plus a duplicate-ish one
    val pts = Seq[(Long, Seq[Double])](
      (0L, Seq(0.1, 0.0)), (1L, Seq(10.1, 0.0)), (2L, Seq(0.0, 10.1)),
      (3L, Seq(-0.1, 0.1)), (4L, Seq(9.9, -0.1)), (5L, Seq(0.1, 9.9)),
      (6L, Seq(0.0, -0.1)), (7L, Seq(10.0, 0.1)), (8L, Seq(-0.1, 10.0)))
    val asg = Cluster.kmeansAssign(toDf(pts), "vec_id", "embedding",
        k = 3, Stop.Rounds(4))._1
      .as[(Long, Int, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(asg(0L) == asg(3L) && asg(3L) == asg(6L))
    assert(asg(1L) == asg(4L) && asg(4L) == asg(7L))
    assert(asg(2L) == asg(5L) && asg(5L) == asg(8L))
    assert(Set(asg(0L), asg(1L), asg(2L)).size == 3)
  }

  test("warm start: warm(cold(i), j) == cold(i + 1 + j) bit-for-bit") {
    // centroids-from-assignment IS the next Lloyd update, so resuming
    // from a persisted assignment must land exactly on the cold
    // trajectory — the contract that makes incremental re-clustering
    // safe for curation decisions
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(120)
    val prior = Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 4, Stop.Rounds(2))._1
    val warm = Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 4, Stop.Rounds(1),
        init = Some(prior))._1
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val cold = Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 4, Stop.Rounds(4))._1
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(warm == cold, "warm(A2, 1) must equal cold(4) exactly")
  }

  test("warm start: vectors new since the prior run join at the argmin") {
    val pts = Seq[(Long, Seq[Double])](
      (0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 0.0)),
      (2L, Seq(0.2, 0.0)), (3L, Seq(9.8, 0.0)))
    val prior = Cluster.kmeansAssign(toDf(pts), "vec_id", "embedding",
      k = 2, Stop.Rounds(2))._1
    // two new points arrive near each blob; warm from the OLD assignment
    val grown = pts ++ Seq((4L, Seq(0.1, 0.1)), (5L, Seq(9.9, 0.1)))
    val warm = Cluster.kmeansAssign(toDf(grown), "vec_id", "embedding",
        k = 2, Stop.Rounds(1), init = Some(prior))._1
      .as[(Long, Int, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(warm.size == 6, s"every vector must be assigned: $warm")
    assert(warm(4L) == warm(0L) && warm(5L) == warm(1L),
      s"new points must join their blob's cluster: $warm")
  }

  test("watched: early-stop at tol=0 equals the full fixed-round run") {
    // the watched contract: stopping at the exact fixed point (or an
    // even-remainder 2-cycle) is indistinguishable from running the
    // remaining rounds — on a corpus slice that converges well before
    // the cap, watched(cap) must bit-match cold(cap) AND actually stop
    // early (else this test only proves the loop can count)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(150)
    val (asgDf, rounds) = Cluster.kmeansAssignWatched(
      emb, "vec_id", "embedding", k = 4, maxIters = 40, tol = 0.0)
    assert(rounds < 40, s"watch must fire before the cap, ran $rounds")
    val watched = asgDf.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val cold = Cluster.kmeansAssign(emb, "vec_id", "embedding", k = 4, Stop.Rounds(40))._1
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(watched == cold, "watched(tol=0) must equal cold(maxIters) exactly")
  }

  test("watched + warm: a converged prior confirms in one round") {
    // daily-increment mode: yesterday's structure enters as round 0 —
    // on an unchanged corpus the first update reproduces it and the
    // watch fires immediately
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(150)
    val (prior, cold) = {
      val (df, r) = Cluster.kmeansAssignWatched(
        emb, "vec_id", "embedding", k = 4, maxIters = 40, tol = 0.0)
      (df.cache(), r)
    }
    val (warm, rounds) = Cluster.kmeansAssignWatched(
      emb, "vec_id", "embedding", k = 4, maxIters = 40, tol = 0.0,
      init = Some(prior))
    assert(rounds == 1, s"converged prior must confirm in 1 round, ran $rounds")
    assert(warm.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq ==
      prior.as[(Long, Int, Double)].collect().sortBy(_._1).toSeq,
      "re-watching a fixed point must reproduce it")
  }

  test("watched: production tol stops no later than tol=0 and assigns everything") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(150)
    val (_, exact) = Cluster.fitCentroids(
      emb, "vec_id", "embedding", k = 4, Stop.Converge(40, 0.0))
    val (asg, loose) = Cluster.kmeansAssignWatched(
      emb, "vec_id", "embedding", k = 4, maxIters = 40, tol = 0.05)
    assert(loose <= exact, s"tol=0.05 ran $loose > tol=0's $exact rounds")
    assert(asg.count() == emb.count(), "every vector must be assigned")
  }

  test("watched: rounds to stop over the full sf tables at k 4, cap 25") {
    // tol 0.01 stops well inside the cap at every scale (the tol of the
    // cluster_kmeans_watched_tol row); tol 0 fires at sf0.001 and sf0.01
    // but needs the whole cap at sf0.1
    for ((sf, loose, exact) <- Seq(("sf0.001", 14, 21), ("sf0.01", 17, 19), ("sf0.1", 12, 25))) {
      val emb = Tables.embeddings(spark, s"/root/testdata/$sf")
      def rounds(tol: Double) =
        Cluster.fitCentroids(emb, "vec_id", "embedding", k = 4, Stop.Converge(25, tol))._2
      assert((rounds(0.01), rounds(0.0)) == ((loose, exact)), sf)
    }
  }

  test("deterministic across runs and input order") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val a = Cluster.kmeansAssign(emb, "vec_id", "embedding", 4, Stop.Rounds(3))._1
      .orderBy("id").as[(Long, Int, Double)].collect().toSeq
    val b = Cluster.kmeansAssign(emb.orderBy(desc("vec_id")), "vec_id",
        "embedding", 4, Stop.Rounds(3))._1
      .orderBy("id").as[(Long, Int, Double)].collect().toSeq
    assert(a == b)
  }

  test("emptied cluster drops instead of lingering") {
    // duplicate init vectors: every point ties and the tie-break sends
    // it to cluster 0, so cluster 1 empties after round 1 and must not
    // reappear in later rounds or the final assignment.
    val pts = Seq[(Long, Seq[Double])](
      (0L, Seq(1.0, 1.0)), (1L, Seq(1.0, 1.0)), (2L, Seq(0.1, 0.0)),
      (3L, Seq(0.1, 0.1)), (4L, Seq(0.0, 0.1)))
    val cents = Cluster.fitCentroids(toDf(pts), "vec_id", "embedding",
      k = 2, Stop.Rounds(3))._1
    assert(cents.size == 1, s"expected lone surviving centroid, got $cents")
    assert(cents.keySet == Set(0))
    val asg = Cluster.kmeansAssign(toDf(pts), "vec_id", "embedding", 2, Stop.Rounds(3))._1
      .select("cluster").distinct().as[Int].collect().toSeq
    assert(asg == Seq(0))
  }

  test("iters=0 assigns against the raw init vectors") {
    val pts = Seq[(Long, Seq[Double])](
      (0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.0)))
    val asg = Cluster.kmeansAssign(toDf(pts), "vec_id", "embedding",
        k = 2, Stop.Rounds(0))._1
      .as[(Long, Int, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(asg(0L) == 0 && asg(1L) == 1 && asg(2L) == 1)
  }

  test("distance ties break to the smaller cluster id") {
    // two identical init vectors: every point is equidistant to both
    val pts = Seq[(Long, Seq[Double])](
      (0L, Seq(1.0, 1.0)), (1L, Seq(1.0, 1.0)), (2L, Seq(2.0, 0.5)))
    val asg = Cluster.kmeansAssign(toDf(pts), "vec_id", "embedding",
        k = 2, Stop.Rounds(1))._1
      .select("cluster").distinct().as[Int].collect().toSeq
    assert(asg == Seq(0))
  }

  test("Lloyd kernel == the DataFrame round on generated inputs") {
    // halves make exact distance ties; uniform values, NaN and null
    // elements ride along. Centroids are drawn from the grid or copied
    // from a vector (duplicates tie everywhere and leave a cluster
    // empty); half the samples mirror two centroids around one vector at
    // a tenths offset, so its two distances differ only in float noise
    // and tie after round6.
    val coord: Gen[Option[Double]] = Gen.frequency(
      5 -> Gen.choose(-4, 4).map(i => Some(i / 2.0)),
      4 -> Gen.choose(-10, 10).map(i => Some(i / 10.0)),
      3 -> Gen.choose(-1.0, 1.0).map(Some(_)),
      1 -> Gen.const(Some(Double.NaN)),
      1 -> Gen.const(None))
    val sample = for {
      d <- Gen.choose(1, 3)
      n <- Gen.choose(1, 14)
      vs <- Gen.listOfN(n, Gen.listOfN(d, coord))
      k <- Gen.choose(1, 4)
      ids <- Gen.pick(k, 0 to 6)
      cs <- Gen.listOfN(k, Gen.oneOf(
        Gen.listOfN(d, coord.map(_.getOrElse(0.0))),
        Gen.oneOf(vs).map(_.map(_.getOrElse(0.0)))))
      mirrored <- Gen.oneOf(true, false)
      x <- Gen.oneOf(vs).map(_.map(_.getOrElse(0.0)))
      off <- Gen.listOfN(d, Gen.choose(-10, 10).map(_ / 10.0))
      parts <- Gen.choose(1, 6)
    } yield {
      val pair = List(x.zip(off).map(p => p._1 + p._2), x.zip(off).map(p => p._1 - p._2))
      val all = if (mirrored && k >= 2) pair ++ cs.drop(2) else cs
      (vs, ids.sorted.zip(all.map(_.toArray)).toMap, parts)
    }

    var (emptied, tiedAfterRound, nulls, nans, multi, refused) = (0, 0, 0, 0, 0, 0)
    val prop = Prop.forAllNoShrink(sample) { case (vs, cents, parts) =>
      val base = baseOf(vs, parts)
      (Try(refUpdate(base, cents)), Try(Cluster.lloydStep(base)(cents))) match {
        case (Success(want), Success(got)) =>
          if (got.size < cents.size) emptied += 1
          if (vs.exists(_.exists(_.isEmpty))) nulls += 1
          if (vs.exists(_.exists(_.exists(_.isNaN)))) nans += 1
          if (parts > 1 && vs.size > 1) multi += 1
          if (vs.exists { v =>
            val x = v.map(_.getOrElse(0.0))
            val raw = cents.values.map(c => (selfDot(x) - 2.0 * x.zip(c).map(p => p._1 * p._2)
              .foldLeft(0.0)(_ + _)) + selfDot(c.toSeq)).toSeq
            raw.combinations(2).exists { case Seq(a, b) =>
              a != b && RoundHalfUp.exact(a, 6) == RoundHalfUp.exact(b, 6) }
          }) tiedAfterRound += 1
          sameBits(want, got) :| s"reference ${show(want)} kernel ${show(got)}"
        case (Failure(_), Failure(k)) =>
          // a coordinate null in every member of a cluster: avg is NULL,
          // which the reference's getDouble refuses; the kernel names it
          refused += 1
          (k.getMessage != null && k.getMessage.contains("no non-null value")) :| s"kernel: $k"
        case (want, got) => false :| s"reference $want kernel $got"
      }
    }
    val r = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, r.status.toString)
    val seen = Map("emptied" -> emptied, "tiedAfterRound" -> tiedAfterRound, "nulls" -> nulls,
      "nans" -> nans, "multiPartition" -> multi, "refused" -> refused)
    assert(seen.values.forall(_ > 0), s"generator missed a case: $seen")
    info(s"cases seen: $seen")
  }

  test("mixed vector dimensions are refused with DotProduct's message") {
    val pts = Seq[(Long, Seq[Double])](
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0, 0.5)), (2L, Seq(1.0, 1.0)))
    val msgs = Set(DotProduct.dimMismatch(2, 3), DotProduct.dimMismatch(3, 2)).map(_.getMessage)
    def refused(body: => Any): Boolean = {
      val e = intercept[Exception](body)
      causes(e).exists(t => t.isInstanceOf[IllegalArgumentException] && msgs(t.getMessage))
    }
    val base = baseOf(pts.map(_._2.map(Some(_))), 2)
    val cents = Map(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0, 0.5))
    assert(refused(refUpdate(base, cents)))
    assert(refused(Cluster.lloydStep(base)(cents)))
    assert(refused(Cluster.fitCentroids(toDf(pts), "vec_id", "embedding", k = 2, Stop.Rounds(2))._1))
    // centroids from an assignment that puts both lengths in one cluster
    assert(refused(Cluster.kmeansAssign(toDf(pts), "vec_id", "embedding", k = 2, Stop.Rounds(1),
      init = Some(Seq((0L, 0), (1L, 0), (2L, 0)).toDF("id", "cluster")))._1.count()))
  }

  test("watched k-means costs one Spark job per Lloyd round") {
    // 40 points on a line from ids 0 and 1: the boundary creeps right
    // one step a round and settles only at round 7
    val line = toDf((0 until 40).map(i => (i.toLong, Seq(i.toDouble))))
    def fit(maxIters: Int) = jobsOf(Cluster.fitCentroids(
      line, "vec_id", "embedding", k = 2, Stop.Converge(maxIters)))
    val ((_, r2), j2) = fit(2)
    val ((_, r3), j3) = fit(3)
    assert(r2 == 2 && r3 == 3, s"the input must not converge by the cap: $r2, $r3 rounds")
    assert(j3 == j2 + 1, s"$j2 jobs at 2 rounds, $j3 at 3")
    assert(Cluster.fitCentroids(line, "vec_id", "embedding", k = 2, Stop.Converge(20))._2 == 7)
  }

  test("the Lloyd loop releases its cache on return and on failure") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    def released(body: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet
      Try(body)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "a persisted RDD outlived the call")
      assert(spark.sharedState.cacheManager.isEmpty, "a cached plan outlived the call")
    }
    val pts = toDf(Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.0))))
    released(Cluster.fitCentroids(pts, "vec_id", "embedding", k = 2, Stop.Converge(5)))
    released(Cluster.fitCentroids(pts, "vec_id", "embedding", k = 2, Stop.Rounds(2))._1)
    released(Cluster.kmeansAssign(pts, "vec_id", "embedding", k = 2, Stop.Rounds(2),
      init = Some(Seq((0L, 0), (1L, 1), (2L, 1)).toDF("id", "cluster")))._1.count())
    // every vector null: the base is empty, so round 1 has no centroid
    val empty = pts.withColumn("embedding", lit(null).cast("array<double>"))
    val e = intercept[IllegalArgumentException](
      Cluster.fitCentroids(empty, "vec_id", "embedding", k = 2, Stop.Converge(3)))
    assert(e.getMessage.contains("all clusters emptied"))
    released(Cluster.fitCentroids(empty, "vec_id", "embedding", k = 2, Stop.Converge(3)))
    // a task failure after the cache filled
    val mixed = toDf(Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0, 1.0))))
    released(Cluster.fitCentroids(mixed, "vec_id", "embedding", k = 2, Stop.Converge(3)))
  }
}

package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => PropTest}
import org.scalacheck.Prop.propBoolean

import graft.operators.{DiffusionReference, Graph, PageRankReference, Stop}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)

  test("knnGraph: k rows per node, no self edges, ordered by (score desc, nb)") {
    val g = Graph.knnGraph(emb.limit(50), "vec_id", "embedding", k = 3)
      .as[(Long, Long, Int, Double)].collect()
    val byId = g.groupBy(_._1)
    assert(byId.forall(_._2.length == 3))
    assert(g.forall { case (id, nb, _, _) => id != nb })
    byId.values.foreach { rows =>
      val keys = rows.sortBy(_._3).map(r => (-r._4, r._2)).toSeq
      assert(keys == keys.sorted)
    }
  }

  test("autoLshBits: occupancy-bounded, integer-exact, clamped") {
    // smallest b in [4,16] with 2^b * 64 >= n — expected bucket
    // occupancy <= 64 at every corpus size, so pair mass stays ~linear
    // (n * 64 per table) instead of n^2/2^pinnedBits
    assert(Graph.autoLshBits(1) == 4)
    assert(Graph.autoLshBits(1024) == 4)   // 16 * 64 boundary: exact
    assert(Graph.autoLshBits(1025) == 5)
    assert(Graph.autoLshBits(2000) == 5)   // sf0.1 embeddings
    assert(Graph.autoLshBits(20000) == 9)  // 10x corpus -> wider key
    assert(Graph.autoLshBits(4194304) == 16)
    assert(Graph.autoLshBits(100000000L) == 16) // clamp: raise tables/blocking instead
    // bits = 0 routes through the auto path and matches the pinned
    // equivalent exactly (same layout, same edges)
    val n = emb.count()
    val auto = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
      dims = 64, bits = 0, tables = 4).collect().toSet
    val pinned = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
      dims = 64, bits = Graph.autoLshBits(n), tables = 4).collect().toSet
    assert(auto == pinned)
  }

  test("knnGraphLsh blockCol scopes neighborhoods; constant block == unblocked") {
    // a constant block column changes nothing (the unblocked plan IS
    // the blocked plan at blk = lit(0))
    val withConst = emb.withColumn("one", lit(1))
    val unblocked = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
      dims = 64, bits = 4, tables = 4).collect().toSet
    val constBlk = Graph.knnGraphLsh(withConst, "vec_id", "embedding", k = 3,
      dims = 64, bits = 4, tables = 4, blockCol = Some("one")).collect().toSet
    assert(constBlk == unblocked)
    // a real block column: every edge stays within its block (the
    // IVF-pre-clustering contract — the past-16-bits scale path)
    val blocked = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
        dims = 64, bits = 4, tables = 4, blockCol = Some("label"))
      .select("id", "nb").as[(Long, Long)].collect()
    val lbl = emb.select(col("vec_id").cast("long"), col("label"))
      .as[(Long, String)].collect().toMap
    assert(blocked.nonEmpty)
    assert(blocked.forall { case (a, b) => lbl(a) == lbl(b) },
      "blocked kNN graph must keep every edge within its block")
  }

  test("blocked auto bits == the per-block autoLshBits(maxBlock) recipe") {
    // r15 default: with blockCol set, bits <= 0 sizes the key from the
    // LARGEST block's count (per-block occupancy <= 64 — the measured
    // recall-over-cost point: 0.450 vs the global key's 0.312,
    // BASELINE.md r14), not the global corpus count.
    val maxBlock = emb.groupBy("label").count()
      .agg(max("count")).head().getLong(0)
    val auto = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
        dims = 64, bits = 0, tables = 4, blockCol = Some("label"))
      .collect().toSet
    val recipe = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
        dims = 64, bits = Graph.autoLshBits(maxBlock), tables = 4,
        blockCol = Some("label")).collect().toSet
    assert(auto == recipe,
      "blocked auto bits must equal autoLshBits(maxBlockSize)")
  }

  test("LSH plane-prefix property: a b-bit key is the low b bits of the 16-bit key") {
    // the escape valve's masking rests on this: plane b's coefficients
    // depend only on (seed, b), so widening the key appends bits
    // without disturbing the low ones
    val keys = emb.limit(100).select(
        graft.operators.Knn.signLshKey(col("embedding"), 64, 6, 1000L).as("k6"),
        graft.operators.Knn.signLshKey(col("embedding"), 64, 16, 1000L).as("k16"))
      .as[(Long, Long)].collect()
    assert(keys.length == 100)
    assert(keys.forall { case (k6, k16) => k6 == (k16 & 63L) })
  }

  test("occupancy escape valve: a hot block escalates to exactly the replayed width, cold blocks keep the base key") {
    // One "hot" block of random vectors plus a small "cold" block; a
    // LOWERED cap forces the valve at spec scale (the default 256 needs
    // a 100x pair-output corpus). The spec
    // replays the selection rule driver-side (base width from the max
    // block count, occupancy = largest table-0 cell, smallest
    // base+e <= 16 with occ <= cap·2^e) and pins the valve run against
    // per-block PINNED runs at those widths — block independence means
    // the union of single-block graphs IS the blocked graph.
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val hot = (0 until 48).map(i => (i.toLong, vec(), "h"))
    val cold = (100 until 106).map(i => (i.toLong, vec(), "c"))
    val df = (hot ++ cold).toDF("vec_id", "embedding", "b")
    val b0 = Graph.autoLshBits(48) // max block count
    def maxCell(rows: org.apache.spark.sql.DataFrame): Long =
      rows.select(graft.operators.Knn.signLshKey(col("embedding"), 64, b0, 1000L).as("k"))
        .groupBy("k").count().agg(max("count")).head().getLong(0)
    val cap = 2L
    val occHot = maxCell(df.filter($"b" === "h"))
    val occCold = maxCell(df.filter($"b" === "c"))
    assert(occHot > cap, s"fixture premise: hot occupancy $occHot must exceed the cap")
    assert(occCold <= cap, s"fixture premise: cold occupancy $occCold must not")
    val expectedHot = (0 to (16 - b0))
      .find(e => occHot <= cap * (1L << e)).map(b0 + _).getOrElse(16)
    assert(expectedHot > b0)
    val valve = Graph.knnGraphLsh(df, "vec_id", "embedding", k = 3, dims = 64,
        bits = 0, tables = 4, blockCol = Some("b"), blockBucketCap = cap)
      .collect().toSet
    val hotPinned = Graph.knnGraphLsh(df.filter($"b" === "h"), "vec_id",
        "embedding", k = 3, dims = 64, bits = expectedHot, tables = 4,
        blockCol = Some("b")).collect().toSet
    val coldPinned = Graph.knnGraphLsh(df.filter($"b" === "c"), "vec_id",
        "embedding", k = 3, dims = 64, bits = b0, tables = 4,
        blockCol = Some("b")).collect().toSet
    assert(valve == (hotPinned ++ coldPinned),
      "the valve must escalate the hot block's width and leave the cold block at the base key")
    // at the DEFAULT cap nothing here escalates: auto == base recipe
    val calm = Graph.knnGraphLsh(df, "vec_id", "embedding", k = 3, dims = 64,
      bits = 0, tables = 4, blockCol = Some("b")).collect().toSet
    val base = Graph.knnGraphLsh(df, "vec_id", "embedding", k = 3, dims = 64,
      bits = b0, tables = 4, blockCol = Some("b")).collect().toSet
    assert(calm == base)
  }

  test("knnGraphLsh null blocks coalesce into one sentinel block (not dropped)") {
    // SQL null never matches an equi-join key: without Knn.blockKey's
    // coalesce, every null-block row would silently vanish from the
    // graph. Contract: null behaves exactly like any other distinct
    // block value — the null rows pair among themselves.
    def blk(v: org.apache.spark.sql.Column) =
      when($"vec_id" % 2 === 0, lit("a")).otherwise(v)
    val gotNull = Graph.knnGraphLsh(emb.withColumn("b2", blk(lit(null))),
      "vec_id", "embedding", k = 3, dims = 64, bits = 4, tables = 4,
      blockCol = Some("b2")).collect().toSet
    val want = Graph.knnGraphLsh(emb.withColumn("b2", blk(lit("zz"))),
      "vec_id", "embedding", k = 3, dims = 64, bits = 4, tables = 4,
      blockCol = Some("b2")).collect().toSet
    assert(gotNull == want)
    assert(gotNull.exists(_.getLong(0) % 2 == 1),
      "null-block rows must stay in the graph")
  }

  test("knnGraphLsh recall vs exact at the default knobs") {
    val exact = Graph.knnGraph(emb, "vec_id", "embedding", k = 3)
      .select("id", "nb").as[(Long, Long)].collect().toSet
    // The synthetic embeddings are adversarial for sign-LSH: the "true"
    // top-3 neighbors sit at cosine ~0.3-0.47 (angle ~65 deg), so each
    // hyperplane agrees with probability only ~0.6 and the default
    // 8-bit/4-table knobs (tuned for near-dup neighbors at cosine>=0.9,
    // where per-bit agreement is ~0.9) recover <10% of them. Wider
    // buckets + more tables is the standard LSH response when the
    // target similarity drops: 4 bits x 8 tables lifts per-table hit
    // probability to ~0.13-0.18 and the union above half. Pin that
    // floor so knob or hash changes that silently collapse recall fail.
    val lsh = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
        dims = 64, bits = 4, tables = 8)
      .select("id", "nb").as[(Long, Long)].collect().toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH kNN-graph recall $recall below floor")
    // every LSH edge is a real scored pair (subset sanity, not ranked parity)
    assert(lsh.forall { case (a, b) => a != b })
  }

  test("pageRank on a hand-computed triangle+tail graph") {
    // 1-2-3 triangle plus 4-1: symmetric, verified against the DuckDB
    // recursive-CTE prototype of the same fixed-round update.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, Stop.Rounds(5), damping = 0.85)._1
      .as[(Long, Double)].collect().toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L))
    assert(math.abs(pr(1L) - 0.380015) < 1e-6)
    assert(math.abs(pr(2L) - 0.242318) < 1e-6)
    assert(math.abs(pr(3L) - 0.242318) < 1e-6)
    assert(math.abs(pr(4L) - 0.135349) < 1e-6)
    // conservation: no dangling nodes -> total rank mass stays 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
  }

  test("pageRank redistributes dangling mass uniformly") {
    // 1 -> 2 only: node 2 is dangling. Without redistribution the total
    // mass decays toward the teleport floor; with it, mass stays 1.
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, Stop.Rounds(10), damping = 0.85)._1
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6,
      s"rank mass ${pr.values.sum} leaked despite dangling redistribution")
    assert(pr(2L) > pr(1L)) // 2 receives 1's rank plus its own share
  }

  test("personalized PageRank concentrates mass near the seeds") {
    // two directional blobs (the labelSpread fixture); seed ONLY in the
    // even blob — every top-ranked node must be an even (same-blob) id
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.symmetrize(Graph.knnGraph(pts, "vec_id", "embedding", 3))
    val ppr = Graph.personalizedPageRank(g, Seq(0L).toDF("id"), Stop.Rounds(8))._1
      .as[(Long, Double)].collect().sortBy(r => (-r._2, r._1))
    assert(ppr.head._1 == 0L, "the seed itself must rank first")
    assert(ppr.take(10).forall(_._1 % 2 == 0),
      s"top-10 crossed into the unseeded blob: ${ppr.take(10).toSeq}")
    // walk mass conservation: no dangling nodes -> total stays ~1
    assert(math.abs(ppr.map(_._2).sum - 1.0) < 1e-3)
  }

  test("personalizedPageRank, Stop.Converge: early-stops, matching Stop.Rounds exactly") {
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.symmetrize(Graph.knnGraph(pts, "vec_id", "embedding", 3))
    val seeds = Seq(0L).toDF("id")
    val (watched, rounds) = Graph.personalizedPageRank(
      g, seeds, Stop.Converge(60, 0.0), damping = 0.5)
    assert(rounds < 60, s"never converged in $rounds rounds")
    assert(rounds > 1)
    val w = watched.as[(Long, Double)].collect().toMap
    val fixed = Graph.personalizedPageRank(g, seeds, Stop.Rounds(60), damping = 0.5)._1
      .as[(Long, Double)].collect().toMap
    assert(w == fixed)
  }

  test("personalizedPageRank, Stop.Converge: warm start confirms fast; seed churn, departed ids") {
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.symmetrize(Graph.knnGraph(pts, "vec_id", "embedding", 3))
    val seeds = Seq(0L).toDF("id")
    val (cold, coldRounds) = Graph.personalizedPageRank(
      g, seeds, Stop.Converge(60, 0.0), damping = 0.5)
    assert(coldRounds > 2)
    val prior = cold.cache()
    // warm AT the fixed point: the renormalizing division (kept mass
    // ~1 - quantization eps) shifts grid cells, and on SPARSE state
    // the re-settle is a short grid crawl (measured 6 rounds vs cold
    // 25 on this fixture — the pageRankWeightedWatched warm lesson),
    // so the contract is warm < cold rounds plus a tight node-wise
    // drift envelope, not an exact confirm count
    val (warm, warmRounds) = Graph.personalizedPageRank(
      g, seeds, Stop.Converge(60, 0.0), damping = 0.5, init = Some(prior))
    assert(warmRounds < coldRounds,
      s"fixed-point warm start took $warmRounds rounds, cold took $coldRounds")
    val wm = warm.as[(Long, Double)].collect().toMap
    val cm = prior.as[(Long, Double)].collect().toMap
    val cell = math.pow(2, -30)
    assert(wm.keySet == cm.keySet,
      "warm frontier must reach the same node set as the prior")
    wm.foreach { case (id, r) =>
      assert(math.abs(r - cm(id)) <= 8 * cell, s"node $id drifted: $r vs ${cm(id)}")
    }
    // SEED CHURN: a new seed needs no init row — the per-round
    // full-outer seed term injects its teleport mass, so the warm run
    // lands in the same attractor basin as a cold run on the NEW seeds
    val tol = 1e-6
    val seeds2 = Seq(0L, 2L).toDF("id")
    val (cold2, cold2Rounds) = Graph.personalizedPageRank(
      g, seeds2, Stop.Converge(60, tol), damping = 0.5)
    val (warm2, warm2Rounds) = Graph.personalizedPageRank(
      g, seeds2, Stop.Converge(60, tol), damping = 0.5, init = Some(prior))
    assert(warm2Rounds <= cold2Rounds,
      s"warm seed-churn run ($warm2Rounds) exceeded cold ($cold2Rounds)")
    val w2 = warm2.as[(Long, Double)].collect().toMap
    val c2 = cold2.as[(Long, Double)].collect().toMap
    (w2.keySet ++ c2.keySet).foreach { id =>
      val a = w2.getOrElse(id, 0.0); val b = c2.getOrElse(id, 0.0)
      assert(math.abs(a - b) <= 10 * tol,
        s"node $id: warm $a vs cold $b — beyond tolerance envelope")
    }
    assert(math.abs(w2.values.sum - 1.0) < 1e-3, "walk mass must stay ~1")
    // DEPARTED IDS: init rows whose node left the graph drop before
    // renormalization — mass they carried never re-injects, and the
    // kept rows' result is identical with or without the stale rows
    val stale = prior.union(Seq((999L, 0.25), (998L, 0.25)).toDF("id", "rank"))
    val (warm3, _) = Graph.personalizedPageRank(
      g, seeds, Stop.Converge(60, 0.0), damping = 0.5, init = Some(stale))
    assert(warm3.as[(Long, Double)].collect().toMap == wm,
      "stale departed-id rows must not change the warm result")
    // a seed with NO surviving mass refuses loudly (wrong-table guard)
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(g, seeds, Stop.Converge(5, 0.0),
        init = Some(Seq((999L, 1.0)).toDF("id", "rank")))
    }
  }

  test("personalized PageRank refuses dangling graphs") {
    val edges = Seq((1L, 2L)).toDF("src", "dst") // 2 has no out-edge
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq(1L).toDF("id"), Stop.Rounds(5))._1
    }
  }

  test("triangleCounts on the triangle+tail graph") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    val t = Graph.triangleCounts(edges)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(t(1L) == ((3L, 1L, 0.333333)))
    assert(t(2L) == ((2L, 1L, 1.0)))
    assert(t(3L) == ((2L, 1L, 1.0)))
    assert(t(4L) == ((1L, 0L, 0.0)))
  }

  test("triangleCountsCapped: exact at/below the cap, unbiased estimate above it") {
    // below cap: must equal the exact tier bit for bit (w = 1 path)
    val small = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    val exact = Graph.triangleCounts(small)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3.toDouble, r._4))).toMap
    val capped = Graph.triangleCountsCapped(small, maxDegree = 10)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(capped == exact, s"under-cap must be exact: $capped vs $exact")

    // a hub star (0 -- 1..40, no triangles): the capped tier must run
    // the wedge stage on <= C(cap,2) wedges and report zero triangles
    // with EXACT degrees
    val star = (1L to 40L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val starT = Graph.triangleCountsCapped(star, maxDegree = 5)
      .as[(Long, Long, Double, Double)].collect()
    assert(starT.forall(_._3 == 0.0))
    assert(starT.find(_._1 == 0L).get._2 == 40L, "hub degree must stay exact")

    // a 10-clique with cap 4: every center over the cap. The estimator
    // is unbiased (E = exact) and deterministic under the hash
    // sampling; assert the TOTAL triangle estimate lands within the
    // documented error envelope of the exact 3 * C(10,3) = 360
    // per-corner total (w = C(9,2)/C(4,2) = 6 for the smallest-vertex
    // centers; RSE per center <= sqrt((w-1)/t_a), aggregate well under
    // 50% here).
    val clique = (for {
      a <- 0L until 10L; b <- 0L until 10L if a != b
    } yield (a, b)).toDF("src", "dst")
    val est = Graph.triangleCountsCapped(clique, maxDegree = 4)
      .agg(sum("triangles")).head().getDouble(0)
    assert(est > 180 && est < 540, s"clique estimate $est outside [180, 540]")
    // degrees on the clique stay exact regardless of sampling
    val dgs = Graph.triangleCountsCapped(clique, maxDegree = 4)
      .select("degree").as[Long].collect()
    assert(dgs.forall(_ == 9L))
  }

  test("labelSpread recovers held-out blob labels from two seeds") {
    // two directional blobs (even ids along e1, odd along e2, distinct
    // jitters so the kNN graph chains through each blob); one seed per
    // blob must label everything the diffusion reaches correctly
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.knnGraph(pts, "vec_id", "embedding", k = 3)
    val seeds = Seq((0L, 0), (1L, 1)).toDF("id", "label")
    val spread = Graph.labelSpread(Graph.symmetrize(g), seeds, Stop.Rounds(10))._1
    val best = spread.as[(Long, Int, Double)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.minBy(r => (-r._3, r._2))._2
      }
    assert(best.size >= 30, s"diffusion reached only ${best.size} nodes")
    best.foreach { case (id, l) =>
      assert(l == (id % 2).toInt, s"node $id labeled $l")
    }
  }

  test("plan shapes: knnGraph top-k combines map-side; kmeans assignment is shuffle-free") {
    // The n^2 scored pairs must meet a PARTIAL object-hash aggregate
    // before any exchange — k rows per (task, node) cross the wire,
    // never the pair table.
    val g = Graph.knnGraph(emb.limit(50), "vec_id", "embedding", k = 3)
    val plan = g.queryExecution.executedPlan.toString
    // the map-side partial of the bounded aggregator must exist: k rows
    // per (task, node) cross any exchange, never the scored pair table
    // (r16: the native TopKScored aggregate replaced the typed
    // TopKByScore — the partial is named after the Catalyst class)
    assert(plan.contains("partial_topkscored"),
      s"expected a partial TopKScored below the exchange:\n$plan")
    // the typed path's AppendColumns (a full object-encoder pass over
    // every scored pair, outside codegen) must be gone
    assert(!plan.contains("AppendColumns"),
      s"expected no typed AppendColumns boundary in the pair stream:\n$plan")
    // k-means assignment: codegen'd dots against literal centroids —
    // the final assignment stage plans with no Exchange at all (no
    // .limit here: a GlobalLimit would add its own SinglePartition
    // exchange and mask the property under test).
    val asg = graft.operators.Cluster.kmeansAssign(
      emb, "vec_id", "embedding", k = 2, Stop.Rounds(0))._1
    val asgPlan = asg.queryExecution.executedPlan.toString
    assert(!asgPlan.contains("Exchange"),
      s"kmeans assignment should be shuffle-free:\n$asgPlan")
  }

  test("pageRankWatched: early-stops at the grid fixed point, matching fixed-round exactly") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    // tol=0: run to the EXACT fixed point of the quantized update —
    // stopping there is indistinguishable from running the remaining
    // rounds, so the watched result must equal the fixed-round result
    // at any iters >= roundsRun, bit for bit (same grid, same update).
    val (watched, rounds) =
      Graph.pageRankWatched(edges, damping = 0.5, maxIters = 60, tol = 0.0)
    assert(rounds < 60, s"never converged in $rounds rounds")
    assert(rounds > 1)
    val w = watched.as[(Long, Double)].collect().toMap
    val fixed = Graph.pageRank(edges, Stop.Rounds(60), damping = 0.5)._1
      .as[(Long, Double)].collect().toMap
    assert(w == fixed, s"watched $w != fixed-round $fixed")
    // a positive tol stops earlier and lands within tol of the fixed point
    val (loose, looseRounds) =
      Graph.pageRankWatched(edges, damping = 0.5, maxIters = 60, tol = 1e-4)
    assert(looseRounds < rounds)
    val l = loose.as[(Long, Double)].collect().toMap
    assert(l.keySet == w.keySet)
    assert(l.map { case (k, v) => math.abs(v - w(k)) }.sum < 1e-3)
  }

  test("pageRankWatched warm start: near-instant confirm when unchanged, faster on local perturbation") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    val (cold, coldRounds) =
      Graph.pageRankWatched(edges, damping = 0.5, maxIters = 60, tol = 0.0)
    assert(coldRounds > 2)
    // warm start AT the fixed point: the renormalizing division can
    // shift grid cells by one (the seed's floored total is ~1 - eps),
    // so allow one settling round on top of the confirming round
    val (warm, warmRounds) = Graph.pageRankWatched(edges, damping = 0.5,
      maxIters = 60, tol = 0.0, init = Some(cold))
    assert(warmRounds <= 2,
      s"fixed-point warm start took $warmRounds rounds, cold took $coldRounds")
    assert(warmRounds < coldRounds)
    val wm = warm.as[(Long, Double)].collect().toMap
    val cm = cold.as[(Long, Double)].collect().toMap
    val cell30 = math.pow(2, -30)
    assert(wm.keySet == cm.keySet)
    wm.foreach { case (id, r) =>
      assert(math.abs(r - cm(id)) <= 2 * cell30, s"node $id drifted: $r vs ${cm(id)}")
    }
    // perturbed graph, in warm start's actual regime: a SMALL edit to
    // a larger graph whose rank field is FAR from uniform. Two
    // measured dead ends shaped this fixture: (1) under tol = 0 the
    // round count is dominated by the final crawl through grid cells,
    // similar from any nearby start (warm 25 vs cold 19) — so compare
    // in the practical tol > 0 mode; (2) on a degree-REGULAR graph
    // uniform ~= the fixed point, so cold is born converged and
    // warm/cold tie (11 == 11 on the 37-node mod graph) — so the
    // fixture must be degree-skewed. A hub star is the canonical
    // skewed case: uniform is far from the hub-heavy fixed point.
    val big = (1L to 36L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val (base, _) =
      Graph.pageRankWatched(big, damping = 0.5, maxIters = 60, tol = 0.0)
    val big2 = big.union(Seq((100L, 5L), (5L, 100L)).toDF("src", "dst"))
    val tol = 1e-6
    val (cold2, cold2Rounds) =
      Graph.pageRankWatched(big2, damping = 0.5, maxIters = 60, tol = tol)
    val (warm2, warm2Rounds) = Graph.pageRankWatched(big2, damping = 0.5,
      maxIters = 60, tol = tol, init = Some(base))
    assert(warm2Rounds < cold2Rounds,
      s"warm $warm2Rounds should beat cold $cold2Rounds on a local perturbation")
    // both stopped within tol of the same attractor basin: node-wise
    // agreement within a small multiple of the tolerance
    val c2 = cold2.as[(Long, Double)].collect().toMap
    val w2 = warm2.as[(Long, Double)].collect().toMap
    assert(w2.keySet == c2.keySet)
    w2.foreach { case (id, r) =>
      assert(math.abs(r - c2(id)) <= 10 * tol,
        s"node $id: warm $r vs cold ${c2(id)} — beyond tolerance envelope")
    }
    // degenerate warm starts refuse loudly (every node explicitly
    // zero — a PARTIAL zero seed is fine, missing nodes get uniform)
    intercept[IllegalArgumentException] {
      Graph.pageRankWatched(edges, init =
        Some(Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 0.0)).toDF("id", "rank")))
    }
  }

  test("pageRankWatched: period-2 cycle stop preserves fixed-round equality") {
    // The quantized contraction can settle into an adjacent-cell
    // 2-cycle instead of a fixed point; the watch also stops on an
    // exact two-rounds-back revisit, but only with an EVEN remaining
    // budget so the result still equals the full fixed-round run.
    // This 37-node mod graph at quantBits=14 / damping=0.5 is a
    // measured cycling fixture: the stop round depends on maxIters
    // PARITY (the cycle branch waits for an even remainder), which is
    // the fingerprint that the cycle stop — not the fixed-point stop —
    // fired. Equality with the fixed-round replay must hold at BOTH
    // parities regardless.
    val edges = (0 until 37).flatMap { i =>
      Seq(3, 5, 11).flatMap { m =>
        val j = (i * m + 1) % 37
        if (i != j) Seq((i.toLong, j.toLong), (j.toLong, i.toLong)) else Nil
      }
    }.distinct.toDF("src", "dst")
    val (w40, r40) = Graph.pageRankWatched(edges, damping = 0.5,
      maxIters = 40, tol = 0.0, quantBits = 14)
    val (w41, r41) = Graph.pageRankWatched(edges, damping = 0.5,
      maxIters = 41, tol = 0.0, quantBits = 14)
    assert(r40 < 40 && r41 < 41, s"never stopped: $r40 / $r41")
    assert(r40 != r41,
      s"stop round must be maxIters-parity-dependent on a cycling fixture ($r40 == $r41)")
    val f40 = Graph.pageRank(edges, Stop.Rounds(40), damping = 0.5, quantBits = 14)._1
      .as[(Long, Double)].collect().toMap
    val f41 = Graph.pageRank(edges, Stop.Rounds(41), damping = 0.5, quantBits = 14)._1
      .as[(Long, Double)].collect().toMap
    assert(w40.as[(Long, Double)].collect().toMap == f40)
    assert(w41.as[(Long, Double)].collect().toMap == f41)
    // and the cycle is real: consecutive fixed-round results differ
    assert(f40 != f41, "fixture stopped cycling — pick new knobs")
  }

  test("labelSpread, Stop.Converge: early-stops at the grid fixed point, matching Stop.Rounds") {
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.symmetrize(Graph.knnGraph(pts, "vec_id", "embedding", 3))
    val seeds = Seq((0L, 0), (1L, 1)).toDF("id", "label")
    val (watched, rounds) =
      Graph.labelSpread(g, seeds, Stop.Converge(60, 0.0), alpha = 0.5)
    assert(rounds < 60, s"never converged in $rounds rounds")
    val w = watched.as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val fixed = Graph.labelSpread(g, seeds, Stop.Rounds(60), alpha = 0.5)._1
      .as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(w == fixed)
  }

  test("labelSpread, Stop.Converge: warm start confirms fast and matches cold labels") {
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.symmetrize(Graph.knnGraph(pts, "vec_id", "embedding", 3))
    val seeds = Seq((0L, 0), (1L, 1)).toDF("id", "label")
    val (cold, coldRounds) =
      Graph.labelSpread(g, seeds, Stop.Converge(60, 0.0), alpha = 0.5)
    assert(coldRounds > 2)
    // re-spread seeded from the converged state: one confirming round,
    // identical sparse state (no renormalization to shift cells here)
    val (warm, warmRounds) = Graph.labelSpread(g, seeds,
      Stop.Converge(60, 0.0), alpha = 0.5, init = Some(cold))
    assert(warmRounds == 1, s"fixed-point warm re-spread took $warmRounds rounds")
    val wm = warm.as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val cm = cold.as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(wm == cm)
    // a prior cell whose node left the graph dies in round 1; its mass
    // is delta, so the watch confirms one round later
    val stale = cold.union(Seq((999L, 0, 0.5)).toDF("id", "label", "score"))
    val (warm2, warm2Rounds) = Graph.labelSpread(g, seeds, Stop.Converge(60, 0.0),
      alpha = 0.5, init = Some(stale))
    assert(warm2Rounds == 2, s"stale-cell re-spread took $warm2Rounds rounds")
    assert(warm2.as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap == cm)
  }

  test("knnGraphLsh plan: no vector column crosses the bucket or dedup exchanges") {
    // The production graph tier's exchange discipline (the Hamming
    // family's stance): candidate generation shuffles 16-byte id pairs,
    // never dims-wide vectors. Vectors may only cross the wire in the
    // post-dedup rejoin, whose shuffled side is corpus-cardinality (one
    // row per vector), not candidate-cardinality.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val lsh = Graph.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
      dims = 64, bits = 4, tables = 8)
    // executedPlan AFTER EnsureRequirements has inserted the exchanges
    // (sparkPlan is pre-preparation and shows none); unwrap the AQE
    // root to reach the statically-planned tree
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = lsh.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect { case s: ShuffleExchangeExec => s }
    assert(exchanges.nonEmpty)
    exchanges.foreach { ex =>
      val keys = ex.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references)
          .map(_.name).toSet
        case _ => Set.empty[String]
      }
      val isCandidateExchange =
        keys.contains("bkt") || (keys.contains("id") && keys.contains("nb"))
      if (isCandidateExchange) {
        val wide = ex.child.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(wide.isEmpty,
          s"candidate exchange on $keys carries vector column(s) " +
            s"${wide.map(_.name).mkString(",")}:\n${ex.treeString}")
      }
    }
  }

  test("labelPropagation: density splits what connectivity merges") {
    // two 4-cliques joined by one bridge edge: LPA keeps them distinct
    // communities (the bridge cannot outvote a clique majority) while
    // CC — same substrate — merges them into one cluster
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val pairs = (cliqueA ++ cliqueB :+ (3L, 10L)).toDF("id_a", "id_b")
    val sym = Graph.symmetrize(pairs, "id_a", "id_b")
    val lpa = Graph.labelPropagation(sym, Stop.Rounds(4))._1
      .as[(Long, Long)].collect().toMap
    assert((0L to 3L).map(lpa).toSet.size == 1, "clique A must agree")
    assert((10L to 13L).map(lpa).toSet.size == 1, "clique B must agree")
    assert(lpa(0L) != lpa(10L),
      "one bridge edge must not merge two dense communities")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1, "CC merges across the bridge")
    // stability: the synchronous update reproduces the settled state,
    // so extra rounds change nothing (the fixed-round oracle contract)
    val more = Graph.labelPropagation(sym, Stop.Rounds(8))._1
      .as[(Long, Long)].collect().toMap
    assert(more == lpa, "settled LPA labels must be round-count invariant")
  }

  test("modularity: two clean cliques score 0.5, one-blob labels score 0") {
    // two disjoint 4-cliques: 24 directed rows, each community owns 12
    // ends, all internal -> Q_c = 12/24 - (12/24)^2 = 0.25, total 0.5
    // (the textbook two-equal-communities maximum); collapsing
    // everything into ONE label gives Q = 1 - 1 = 0 (the null read)
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val sym = Graph.symmetrize((cliqueA ++ cliqueB).toDF("id_a", "id_b"),
      "id_a", "id_b")
    val split = (0L to 3L).map(i => (i, 0L)) ++ (10L to 13L).map(i => (i, 10L))
    val q = Graph.modularity(sym, split.toDF("id", "label"))
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t._4).toMap
    assert(q == Map(0L -> 0.25, 10L -> 0.25), s"clean split must score 0.25 each: $q")
    val blob = (0L to 3L).map(i => (i, 0L)) ++ (10L to 13L).map(i => (i, 0L))
    val q1 = Graph.modularity(sym, blob.toDF("id", "label"))
      .as[(Long, Long, Long, Double)].collect()
    assert(q1.length == 1 && q1.head._4 == 0.0,
      s"one blob must score exactly 0: ${q1.toSeq}")
    // LPA's own labels on the bridged fixture recover the clean split's
    // score shape: both communities positive, total well above 0
    val bridged = Graph.symmetrize(
      (cliqueA ++ cliqueB :+ (3L, 10L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val lpa = Graph.labelPropagation(bridged, Stop.Rounds(4))._1
    val qs = Graph.modularity(bridged, lpa)
      .as[(Long, Long, Long, Double)].collect().map(_._4)
    assert(qs.length == 2 && qs.sum > 0.4, s"LPA split must score high: ${qs.toSeq}")
  }

  test("kCore: a clique with a tail — the tail peels layer by layer") {
    // 4-clique (every degree 3) + a path tail 3-20-21-22: at k=2 the
    // tail peels one endpoint layer per round (22, then 21, then 20),
    // the canonical multi-round case; the clique itself survives as
    // the 2-core together with nothing else
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val tail = Seq((3L, 20L), (20L, 21L), (21L, 22L))
    val sym = Graph.symmetrize((cliqueA ++ tail).toDF("id_a", "id_b"),
      "id_a", "id_b")
    val (core, rounds) = Graph.kCore(sym, k = 2, maxIters = 10)
    val ids = core.select("id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 3L), s"2-core must be the clique: $ids")
    assert(rounds == 4, s"three peel layers + the confirming round, got $rounds")
    // every surviving degree is counted INSIDE the core
    val degs = core.as[(Long, Long)].collect().toMap
    assert(degs.values.forall(_ == 3L), s"clique core degrees must be 3: $degs")
    // k above the densest node -> empty core, no throw
    val (empty, _) = Graph.kCore(sym, k = 4, maxIters = 10)
    assert(empty.count() == 0L, "k above max degree must return an empty core")
  }

  test("kCore: refuses loudly when the peel outlives maxIters") {
    // a long path at k=2 peels two endpoints per round: 12 nodes need
    // 6+ rounds — a cap of 3 must throw, not return a partial peel
    val path = (0L until 11L).map(i => (i, i + 1))
    val sym = Graph.symmetrize(path.toDF("id_a", "id_b"), "id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Graph.kCore(sym, k = 2, maxIters = 3)
    }
    assert(e.getMessage.contains("did not settle"), e.getMessage)
    // and with budget it settles to the empty core (a path has no 2-core)
    val (core, _) = Graph.kCore(sym, k = 2, maxIters = 20)
    assert(core.count() == 0L, "a path has no 2-core")
  }

  test("labelPropagation, Stop.Converge: early-stop == Stop.Rounds on a settling graph") {
    // the clique fixture settles in ~2 rounds; the watch must fire
    // before a 12-round cap and reproduce labelPropagation(12) exactly
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val sym = Graph.symmetrize(
      (cliqueA ++ cliqueB :+ (3L, 10L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val (watchedDf, rounds) = Graph.labelPropagation(sym, Stop.Converge(12))
    assert(rounds < 12, s"watch must fire before the cap, ran $rounds")
    val watched = watchedDf.as[(Long, Long)].collect().toMap
    val fixed = Graph.labelPropagation(sym, Stop.Rounds(12))._1
      .as[(Long, Long)].collect().toMap
    assert(watched == fixed, "watched must equal the full fixed-round run")
  }

  test("labelPropagation, Stop.Converge: the canonical 2-cycle stops on even remainder only") {
    // a single undirected edge is synchronous LPA's textbook 2-cycle:
    // the endpoints swap labels forever, so a naive fixpoint watch
    // never fires. The cycle watch first sees state(2) == state(0) at
    // round 2; with an even cap the remainder is even and it stops
    // there, with an odd cap it must defer one round (state(3) ==
    // state(1), remainder even again) so the returned state equals the
    // full run at BOTH cap parities.
    val sym = Graph.symmetrize(Seq((1L, 2L)).toDF("id_a", "id_b"),
      "id_a", "id_b")
    for (cap <- Seq(9, 10)) {
      val (df, rounds) = Graph.labelPropagation(sym, Stop.Converge(cap))
      val expect = if (cap % 2 == 0) 2 else 3
      assert(rounds == expect,
        s"cap $cap: 2-cycle must stop at round $expect, ran $rounds")
      val watched = df.as[(Long, Long)].collect().toMap
      val fixed = Graph.labelPropagation(sym, Stop.Rounds(cap))._1
        .as[(Long, Long)].collect().toMap
      assert(watched == fixed,
        s"cap $cap: watched 2-cycle result must equal fixed($cap)")
    }
  }

  test("labelPropagation, Stop.Converge: warm start on an unchanged graph confirms its prior in 1 round") {
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val sym = Graph.symmetrize(
      (cliqueA ++ cliqueB :+ (3L, 10L)).toDF("id_a", "id_b"), "id_a", "id_b")
    val (priorDf, _) = Graph.labelPropagation(sym, Stop.Converge(12))
    val prior = priorDf.cache()
    val (warm, rounds) = Graph.labelPropagation(sym, Stop.Converge(12),
      init = Some(prior))
    assert(rounds == 1, s"converged prior must confirm in 1 round, ran $rounds")
    assert(warm.as[(Long, Long)].collect().toMap ==
      prior.as[(Long, Long)].collect().toMap,
      "re-running from a fixed point must reproduce it")
    // a NEW node attached to clique A enters as its own label and gets
    // absorbed by the clique's community in the warm re-run
    val grown = Graph.symmetrize(
      (cliqueA ++ cliqueB ++ Seq((3L, 10L), (0L, 77L), (1L, 77L), (2L, 77L)))
        .toDF("id_a", "id_b"), "id_a", "id_b")
    val (regrown, r2) = Graph.labelPropagation(grown, Stop.Converge(12),
      init = Some(prior))
    val m = regrown.as[(Long, Long)].collect().toMap
    assert(m(77L) == m(0L), s"the new node must join clique A's community: $m")
    assert(r2 <= 4, s"a local perturbation must re-converge fast, ran $r2")
  }

  test("labelPropagation weighted: uniform weights == unweighted; weights decide ties") {
    // parity arm: weight 1.0 everywhere must reproduce the unweighted
    // operator exactly (count IS the uniform-weight sum)
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)
    val pairs = (cliqueA ++ cliqueB :+ (3L, 10L)).toDF("id_a", "id_b")
    val uni = Graph.labelPropagation(
      Graph.symmetrizeWeighted(pairs.withColumn("w", lit(1.0)),
        "id_a", "id_b", "w"), Stop.Rounds(4), weighted = true)._1
      .as[(Long, Long)].collect().toMap
    val plain = Graph.labelPropagation(
      Graph.symmetrize(pairs, "id_a", "id_b"), Stop.Rounds(4))._1
      .as[(Long, Long)].collect().toMap
    assert(uni == plain, "uniform weights must reproduce unweighted LPA")

    // weights-decide arm: node 3 hears 1 (w=5) and 2 (w=1); unweighted
    // would tie-break to label 1, the heavy edge must win instead
    val star = Seq((3L, 1L, 5.0), (3L, 2L, 1.0)).toDF("src", "dst", "w")
    val sym = star.union(star.select(col("dst"), col("src"), col("w")))
    val one = Graph.labelPropagation(sym, Stop.Rounds(1), weighted = true)._1
      .as[(Long, Long)].collect().toMap
    assert(one(3L) == 1L, s"the w=5 neighbor must outvote: $one")
    val plainStar = Graph.labelPropagation(
      sym.select(col("src"), col("dst")), Stop.Rounds(1))._1
      .as[(Long, Long)].collect().toMap
    assert(plainStar(3L) == 1L && one(1L) == 3L && one(2L) == 3L, s"$plainStar $one")
    // flip the heavy edge: weighted follows it away from the min label
    val star2 = Seq((3L, 1L, 1.0), (3L, 2L, 5.0)).toDF("src", "dst", "w")
    val sym2 = star2.union(star2.select(col("dst"), col("src"), col("w")))
    val two = Graph.labelPropagation(sym2, Stop.Rounds(1), weighted = true)._1
      .as[(Long, Long)].collect().toMap
    assert(two(3L) == 2L,
      s"weighted vote must beat the min-label tie-break: $two")
  }

  test("pageRank weighted, Stop.Rounds: uniform weights == unweighted; heavy edges attract mass") {
    // parity arm: w = 1 everywhere makes rank*w/outw == rank/outdeg,
    // so the weighted operator must reproduce plain pageRank exactly
    // (symmetric graph => no dangling subplan on either side)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val plain = Graph.pageRank(Graph.symmetrize(tri, "id_a", "id_b"), Stop.Rounds(5))._1
      .as[(Long, Double)].collect().toMap
    val uni = Graph.pageRank(
      Graph.symmetrizeWeighted(tri.withColumn("w", lit(1.0)),
        "id_a", "id_b", "w"), Stop.Rounds(5), weighted = true)._1
      .as[(Long, Double)].collect().toMap
    assert(uni == plain, s"uniform weights must reproduce pageRank: $uni vs $plain")

    // weights-matter arm: z splits mass 3:1 between x and y — x must
    // outrank y although their degrees are identical
    val wpairs = Seq((100L, 1L, 3.0), (100L, 2L, 1.0)).toDF("id_a", "id_b", "w")
    val wr = Graph.pageRank(
      Graph.symmetrizeWeighted(wpairs, "id_a", "id_b", "w"), Stop.Rounds(5), weighted = true)._1
      .as[(Long, Double)].collect().toMap
    assert(wr(1L) > wr(2L),
      s"the w=3 neighbor must accumulate more rank: $wr")

    // dangling refusal: a directed-only weighted edge list leaks mass
    val e = intercept[IllegalArgumentException] {
      Graph.pageRank(
        Seq((1L, 2L, 1.0)).toDF("src", "dst", "w"), Stop.Rounds(1), weighted = true)._1.count()
    }
    assert(e.getMessage.contains("outgoing weight"))
  }

  test("labelPropagation weighted, Stop.Converge: early-stop == Stop.Rounds; warm confirms in 1 round") {
    // weighted clique fixture (heavy bridge so weights matter): the
    // watch must fire before the cap and reproduce the fixed-round run
    // exactly — the unweighted twin's oracle contract
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i < j)
      yield (i, j, 0.25 + 0.25 * ((i + j) % 3))
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i < j)
      yield (i, j, 0.25 + 0.25 * ((i + j) % 3))
    val sym = Graph.symmetrizeWeighted(
      (cliqueA ++ cliqueB :+ ((3L, 10L, 2.5)))
        .toDF("id_a", "id_b", "w"), "id_a", "id_b", "w")
    val (watchedDf, rounds) =
      Graph.labelPropagation(sym, Stop.Converge(12), weighted = true)
    assert(rounds < 12, s"watch must fire before the cap, ran $rounds")
    val watched = watchedDf.as[(Long, Long)].collect().toMap
    val fixed = Graph.labelPropagation(sym, Stop.Rounds(12), weighted = true)._1
      .as[(Long, Long)].collect().toMap
    assert(watched == fixed, "watched must equal the full fixed-round run")
    // warm start from the converged prior: the heavy 2.5 bridge
    // outweighs the tails' internal votes, so this fixture settles on
    // a period-2 CYCLE (the tails swap labels) — the warm re-run
    // stops via the cycle rule in 2 rounds and, because the even-
    // remainder rule returns the revisited state, reproduces the
    // prior exactly; a true fixed point would confirm in 1
    val prior = watchedDf.cache()
    val (warm, r2) = Graph.labelPropagation(sym,
      Stop.Converge(12), weighted = true, init = Some(prior))
    assert(r2 <= 2, s"converged prior must confirm in <= 2 rounds, ran $r2")
    assert(warm.as[(Long, Long)].collect().toMap == watched,
      "re-running from the settled state must reproduce it")
  }

  test("labelPropagation weighted, Stop.Converge: the weighted 2-cycle stops on even remainder only") {
    // one weighted undirected edge — synchronous LPA's textbook
    // 2-cycle is weight-independent, so the weighted watch needs the
    // same even-remainder stop rule to preserve fixed-round equality
    val sym = Graph.symmetrizeWeighted(
      Seq((1L, 2L, 0.5)).toDF("id_a", "id_b", "w"), "id_a", "id_b", "w")
    for (cap <- Seq(9, 10)) {
      val (df, rounds) =
        Graph.labelPropagation(sym, Stop.Converge(cap), weighted = true)
      val expect = if (cap % 2 == 0) 2 else 3
      assert(rounds == expect,
        s"cap $cap: 2-cycle must stop at round $expect, ran $rounds")
      val watched = df.as[(Long, Long)].collect().toMap
      val fixed = Graph.labelPropagation(sym, Stop.Rounds(cap), weighted = true)._1
        .as[(Long, Long)].collect().toMap
      assert(watched == fixed,
        s"cap $cap: watched 2-cycle result must equal fixed($cap)")
    }
  }

  test("pageRank weighted, Stop.Converge: early-stop == Stop.Rounds; warm confirms fast") {
    // dyadic-weight triangle+extra so vote terms are grid-exact; the
    // tol=0 watch must reach the quantized fixed point before a
    // 40-round cap and equal the fixed-round run at that cap
    val tri = Seq((1L, 2L, 0.5), (2L, 3L, 1.0), (1L, 3L, 0.25),
      (3L, 4L, 2.0)).toDF("id_a", "id_b", "w")
    val sym = Graph.symmetrizeWeighted(tri, "id_a", "id_b", "w")
    // damping 0.5 (the pageRankWatched spec's contraction rate): at
    // 0.85 the quantized weighted map can wander adjacent grid cells
    // for a long time before settling
    val (watchedDf, rounds) = Graph.pageRank(sym, Stop.Converge(60, 0.0), weighted = true,
      damping = 0.5)
    assert(rounds < 60, s"watch must fire before the cap, ran $rounds")
    val watched = watchedDf.as[(Long, Double)].collect().toMap
    val fixed = Graph.pageRank(sym, Stop.Rounds(60), weighted = true, damping = 0.5)._1
      .as[(Long, Double)].collect().toMap
    assert(watched == fixed, "watched must equal the full fixed-round run")
    // warm start from the fixed point: the renormalizing division
    // shifts grid cells, and under tol=0 the re-settle is a grid
    // crawl (the pageRankWatched warm spec's measured lesson) — so
    // the contract here is warm <= cold rounds and a tight node-wise
    // drift envelope, not an exact round count
    val prior = watchedDf.cache()
    val (warm, r2) = Graph.pageRank(sym,
      Stop.Converge(60, 0.0), weighted = true, damping = 0.5, init = Some(prior))
    assert(r2 <= rounds,
      s"warm from the fixed point ($r2 rounds) must not exceed cold ($rounds)")
    val wm = warm.as[(Long, Double)].collect().toMap
    val cell = math.pow(2, -30)
    assert(wm.keySet == watched.keySet)
    wm.foreach { case (id, r) =>
      assert(math.abs(r - watched(id)) <= 4 * cell,
        s"node $id drifted: $r vs ${watched(id)}")
    }
  }

  test("pageRank weighted, Stop.Converge: warm start ignores negative prior ranks") {
    // the plain tier's input checks: a negative prior row is dropped
    // and its node seeded like a node missing from the prior
    val sym = Graph.symmetrizeWeighted(Seq((1L, 2L, 0.5), (2L, 3L, 1.0),
      (1L, 3L, 0.25), (3L, 4L, 2.0)).toDF("id_a", "id_b", "w"),
      "id_a", "id_b", "w")
    val prior = Seq((1L, 0.3), (2L, 0.3), (3L, 0.2)).toDF("id", "rank")
    def warm(init: org.apache.spark.sql.DataFrame) = {
      val (df, rounds) = Graph.pageRank(sym,
        Stop.Converge(2), weighted = true, damping = 0.5, init = Some(init))
      (df.as[(Long, Double)].collect().toMap, rounds)
    }
    assert(warm(prior.union(Seq((4L, -0.5)).toDF("id", "rank"))) == warm(prior))
  }

  test("labelPropagation, Stop.Converge: a node losing every vote counts as a change") {
    // a settling clique plus a directed chain 10 -> 11 -> 12 -> 13 whose
    // end is never a src: 12, 11 and 10 lose every vote in rounds 1-3
    // while the clique is already stable from round 2, so the watch
    // must read round 3's drop as a change and stop after round 4
    val edges = (Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (3L, 2L)) ++ Seq((10L, 11L), (11L, 12L), (12L, 13L))).toDF("src", "dst")
    val (watched, rounds) = Graph.labelPropagation(edges, Stop.Converge(12))
    assert(rounds == 4)
    val fixed = Graph.labelPropagation(edges, Stop.Rounds(12))._1
      .as[(Long, Long)].collect().toMap
    assert(watched.as[(Long, Long)].collect().toMap == fixed)
    assert(fixed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("pageRank hubs rank above peripheral nodes on a star") {
    // star: 0 connected to 1..9 (symmetric) — hub must dominate
    val edges = (1L to 9L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val pr = Graph.pageRank(edges, Stop.Rounds(10))._1.as[(Long, Double)].collect().toMap
    assert(pr(0L) > 3 * pr(1L))
    assert((1L to 9L).map(pr).distinct.size == 1) // symmetric leaves tie
  }

  private val edgeSchema = StructType(Seq(StructField("src", LongType),
    StructField("dst", LongType), StructField("w", DoubleType)))

  // a (src, dst, w) edge table in exactly `parts` input partitions
  private def edgesOf(es: Seq[(Long, Long)], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(es.map { case (a, b) =>
      Row(a, b, (1 + Math.floorMod(a + b, 3L)) * 0.25) }, parts), edgeSchema)

  private def ranksOf(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Double)].collect().toSeq.sorted
      .map { case (id, r) => (id, java.lang.Double.doubleToRawLongBits(r)) }

  test("PageRank kernel == the DataFrame round on generated graphs") {
    // ids spread over the long range so the hash partitioning mixes
    // them; duplicate edges and self-loops ride along; half the graphs
    // are symmetrized (no dangling node). Weights are the oracle
    // fixture's dyadic (1 + (a+b) mod 3)/4, so every summation order gives
    // the same out-weight. Warm priors cover every node with dyadic
    // ranks (a node the prior lacks is seeded 1/n, whose sum may round
    // differently in another order), plus rows the seed must ignore.
    val sample = for {
      m <- Gen.choose(1, 10)
      ids <- Gen.listOfN(m, Gen.choose(-1000000L, 1000000L)).map(_.distinct)
      k <- Gen.choose(1, 24)
      raw <- Gen.listOfN(k, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
      sym <- Gen.oneOf(true, false)
      weighted <- Gen.oneOf(true, false)
      stop <- Gen.oneOf(Gen.choose(0, 6).map(Stop.Rounds(_)),
        Gen.choose(1, 12).map(Stop.Converge(_)),
        Gen.zip(Gen.choose(1, 12), Gen.oneOf(1e-3, 1e-5)).map { case (c, t) => Stop.Converge(c, t) })
      warm <- Gen.oneOf(true, false).map(_ && stop.isInstanceOf[Stop.Converge])
      prior <- Gen.listOfN(ids.size, Gen.choose(0, 8).map(_ / 64.0))
      damping <- Gen.oneOf(0.5, 0.85)
      bits <- Gen.oneOf(14, 20, 30)
      parts <- Gen.choose(1, 4)
    } yield {
      val es = if (sym) (raw ++ raw.map(_.swap)).distinct else raw
      // a departed node, a negative and a null rank: rows the seed ignores
      val init = Option.when(warm)(ids.zip(prior.map(Option(_))) ++
        Seq((7777777L, Some(0.5)), (ids.head, Some(-0.25)), (ids.head, None)))
      (es, weighted, stop, init, damping, bits, parts)
    }

    var seen = Map.empty[String, Int].withDefaultValue(0)
    def saw(c: String, cond: Boolean): Unit = if (cond) seen += c -> (seen(c) + 1)
    val prop = Prop.forAllNoShrink(sample) { case (es, weighted, stop, init, damping, bits, parts) =>
      val prior = init.map(_.toDF("id", "rank"))
      def run(f: (DataFrame, Stop, Boolean, Double, Int, Option[DataFrame]) => (DataFrame, Int)) =
        Try { val (df, r) = f(edgesOf(es, parts), stop, weighted, damping, bits, prior); (ranksOf(df), r) }
      val want = run(PageRankReference.pageRank(_, _, _, _, _, _))
      val got = run(Graph.pageRank(_, _, _, _, _, _))
      val dangling = es.map(_._2).toSet.exists(d => !es.exists(_._1 == d))
      saw("dangling", dangling && !weighted)
      saw("selfLoop", es.exists(e => e._1 == e._2))
      saw("weighted", weighted && want.isSuccess)
      saw("refused", want.isFailure)
      saw("warm", init.isDefined && want.isSuccess)
      saw("multiPartition", parts > 1 && es.size > 1)
      stop match {
        case Stop.Rounds(_) => saw("rounds", true)
        case Stop.Converge(c, t) =>
          saw(if (t == 0.0) "tol0" else "tolPositive", true)
          saw("stoppedEarly", want.toOption.exists(_._2 < c))
      }
      // weighted, every edge a self-loop: no node is left, and a warm
      // start has no mass; the reference then fails reading a null sum
      val noNodes = weighted && es.forall(e => e._1 == e._2)
      (want, got) match {
        case (Success(w), Success(g)) => (w == g) :| s"reference $w kernel $g"
        case (Failure(w), Failure(g)) =>
          (noNodes || w.getClass == g.getClass && g.getMessage.startsWith(w.getMessage)) :|
            s"reference $w kernel $g"
        case (w, g) => false :| s"reference $w kernel $g"
      }
    }
    val r = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(80), prop)
    assert(r.passed, r.status.toString)
    val cases = Seq("dangling", "selfLoop", "weighted", "refused", "warm", "multiPartition",
      "rounds", "tol0", "tolPositive", "stoppedEarly")
    assert(cases.forall(seen(_) > 0), s"generator missed a case: $seen")
    info(s"cases seen: ${cases.map(c => s"$c=${seen(c)}").mkString(", ")}")
  }

  test("personalizedPageRank and labelSpread == the reference loops on generated graphs") {
    // symmetrized graphs (PPR refuses dangling nodes) with self-loops,
    // ids spread over the long range, 1-4 input partitions. A warm PPR
    // prior is closed — every kept row is a seed or has a kept
    // neighbor, as any PPR output is — because the reference drops a
    // prior row that dies in round one without counting its mass, while
    // the shared loop counts it; an open prior follows the same states,
    // so it is compared whenever both stop at the same round. Every
    // prior also holds a departed id, a negative and a null score.
    val sample = for {
      m <- Gen.choose(1, 8)
      ids <- Gen.listOfN(m, Gen.choose(-1000000L, 1000000L)).map(_.distinct)
      k <- Gen.choose(1, 16)
      raw <- Gen.listOfN(k, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
      spread <- Gen.oneOf(true, false)
      seeds <- Gen.listOf(Gen.zip(Gen.oneOf(ids), Gen.choose(0, 2))).map(_.take(4))
      stop <- Gen.oneOf(Gen.choose(0, 6).map(Stop.Rounds(_)),
        Gen.choose(1, 10).map(Stop.Converge(_)),
        Gen.zip(Gen.choose(1, 10), Gen.oneOf(1e-3, 1e-5)).map { case (c, t) => Stop.Converge(c, t) })
      warm <- Gen.oneOf(true, false).map(_ && stop.isInstanceOf[Stop.Converge])
      closed <- Gen.oneOf(true, false)
      picked <- Gen.someOf(ids)
      scores <- Gen.listOfN(ids.size, Gen.zip(Gen.choose(0, 8).map(_ / 64.0), Gen.choose(0, 2)))
      alpha <- Gen.oneOf(0.5, 0.85)
      bits <- Gen.oneOf(14, 20, 30)
      parts <- Gen.choose(1, 4)
    } yield {
      val es = (raw ++ raw.map(_.swap)).distinct
      val nbs = es.groupBy(_._1).map { case (a, out) => a -> out.map(_._2) }
      val rows = if (spread || !closed) picked.toSet
        else picked.toSet ++ picked.flatMap(nbs.getOrElse(_, Nil))
      val prior = Option.when(warm)(ids.zip(scores).collect {
          case (id, (s, l)) if rows(id) => (id, l, Option(s)) } ++
        Seq((7777777L, 1, Some(0.5)), (ids.head, 0, Some(-0.25)), (ids.head, 1, None)))
      (es, spread, seeds, stop, prior, closed, alpha, bits, parts)
    }

    var seen = Map.empty[String, Int].withDefaultValue(0)
    def saw(c: String, cond: Boolean): Unit = if (cond) seen += c -> (seen(c) + 1)
    val prop = Prop.forAllNoShrink(sample) {
      case (es, spread, seeds, stop, prior, closed, alpha, bits, parts) =>
        val g = edgesOf(es, parts)
        type Entry = (DataFrame, DataFrame, Stop, Double, Int, Option[DataFrame]) => (DataFrame, Int)
        val (ref, got, sd, init): (Entry, Entry, DataFrame, Option[DataFrame]) =
          if (spread) (DiffusionReference.labelSpread(_, _, _, _, _, _),
            Graph.labelSpread(_, _, _, _, _, _), seeds.toDF("id", "label"),
            prior.map(_.toDF("id", "label", "score")))
          else (DiffusionReference.personalizedPageRank(_, _, _, _, _, _),
            Graph.personalizedPageRank(_, _, _, _, _, _), seeds.map(_._1).toDF("id"),
            prior.map(_.map(r => (r._1, r._3)).toDF("id", "rank")))
        def run(f: Entry) = Try {
          val (df, r) = f(g, sd, stop, alpha, bits, init)
          val rows = df.collect().toSeq.map(r => (r.getLong(0), if (spread) r.getInt(1) else 0,
            java.lang.Double.doubleToRawLongBits(r.getDouble(r.size - 1))))
          (rows.sorted, r)
        }
        val (want, have) = (run(ref), run(got))
        val open = prior.isDefined && !spread && !closed
        saw(if (spread) "spread" else "ppr", want.isSuccess)
        saw(if (spread) "spreadWarm" else if (closed) "pprWarm" else "pprWarmOpen",
          prior.isDefined && want.isSuccess)
        saw("selfLoop", es.exists(e => e._1 == e._2))
        saw("refused", want.isFailure)
        saw("multiPartition", parts > 1 && es.size > 1)
        stop match {
          case Stop.Rounds(_) => saw("rounds", true)
          case Stop.Converge(c, t) =>
            saw(if (t == 0.0) "tol0" else "tolPositive", true)
            saw("stoppedEarly", want.toOption.exists(_._2 < c))
        }
        (want, have) match {
          case (Success(w), Success(h)) if open && w._2 != h._2 =>
            saw("openMoved", true); Prop.passed
          case (Success(w), Success(h)) => (w == h) :| s"reference $w loop $h"
          case (Failure(w), Failure(h)) =>
            (w.getClass == h.getClass && w.getMessage == h.getMessage) :| s"reference $w loop $h"
          case (w, h) => false :| s"reference $w loop $h"
        }
    }
    val r = PropTest.check(PropTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(r.passed, r.status.toString)
    val cases = Seq("ppr", "spread", "pprWarm", "pprWarmOpen", "spreadWarm", "selfLoop",
      "refused", "multiPartition", "rounds", "tol0", "tolPositive", "stoppedEarly")
    assert(cases.forall(seen(_) > 0), s"generator missed a case: $seen")
    info(s"cases seen: ${(cases :+ "openMoved").map(c => s"$c=${seen(c)}").mkString(", ")}")
  }

  test("PageRank costs one Spark job per round plus one setup job") {
    // a 40-node path with both directions: the rank field is still
    // moving at round 3, so neither cap stops early
    val line = (0L until 40L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    def run(stop: Stop, init: Option[DataFrame] = None) =
      jobsOf(Graph.pageRank(line, stop, init = init)._2)
    val (r2, j2) = run(Stop.Converge(2))
    val (r3, j3) = run(Stop.Converge(3))
    assert(r2 == 2 && r3 == 3, s"the input must not converge by the cap: $r2, $r3 rounds")
    assert(j2 == r2 + 1 && j3 == r3 + 1, s"$j2 jobs at 2 rounds, $j3 at 3")
    assert(run(Stop.Rounds(3)) == ((3, 4)))
    // a warm start sums its seed in one job and materializes it in another
    val prior = (0L to 40L).map(i => (i, 1.0 / 64)).toDF("id", "rank")
    assert(run(Stop.Converge(3), Some(prior)) == ((3, 6)))
  }

  test("personalizedPageRank and labelSpread, Stop.Converge: tol > 0 runs no more jobs than tol = 0") {
    // the job that checkpoints a round returns its movement at every
    // tol, so a run that stops at round r by tol > 0 costs what r rounds
    // of the same watched step cost at tol = 0, which FixedPointSpec
    // pins at one job per round over the step's own. The ceilings are
    // the jobs each entry ran before the two shared one loop (PPR 19 at
    // 1 round and 37 at 7, label spreading 10 and 31 at 8 on the fixed
    // tier). Cold label spreading's round-0 state is a projection of the
    // persisted seed table, which round 0 scans twice, and a third time
    // for the watched tier's state rows; AQE gives each scan of the
    // not-yet-filled cache its own job, so that tier runs one job more.
    // PPR counts its seeds first, which fills the cache.
    val pts = (0 until 40).map { i =>
      val j = i * 0.01
      val v = if (i % 2 == 0) Seq(1.0, j) else Seq(j, 1.0)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val g = Graph.symmetrize(Graph.knnGraph(pts, "vec_id", "embedding", 3)).localCheckpoint()
    val entries = Seq[(String, Stop => Int, Map[Int, Int], Int)](
      ("personalizedPageRank", stop => Graph.personalizedPageRank(
        g, Seq(0L).toDF("id"), stop, damping = 0.5)._2, Map(1 -> 19, 7 -> 37), 0),
      ("labelSpread", stop => Graph.labelSpread(
        g, Seq((0L, 0), (1L, 1)).toDF("id", "label"), stop, alpha = 0.5)._2,
        Map(1 -> 10, 8 -> 31), 1))
    for ((name, entry, ceiling, seedFill) <- entries) {
      val (rounds, tolJobs) = jobsOf(entry(Stop.Converge(60, 1e-3)))
      assert(ceiling.contains(rounds), s"$name: stopped after $rounds rounds")
      val (exactRounds, exactJobs) = jobsOf(entry(Stop.Converge(rounds, 0.0)))
      assert(exactRounds == rounds, s"$name: tol = 0 stopped after $exactRounds rounds")
      assert(tolJobs <= exactJobs, s"$name: $tolJobs jobs at tol > 0, $exactJobs at tol = 0")
      val fixedJobs = jobsOf(entry(Stop.Rounds(rounds)))._2
      val (oneRound, oneJobs) = jobsOf(entry(Stop.Converge(1, 1e-3)))
      val oneFixed = jobsOf(entry(Stop.Rounds(1)))._2
      assert(oneRound == 1)
      assert(oneJobs == oneFixed + seedFill && tolJobs == fixedJobs + seedFill,
        s"$name: watched $oneJobs and $tolJobs jobs, fixed $oneFixed and $fixedJobs " +
          s"at 1 and $rounds rounds")
      assert(oneFixed <= ceiling(1) && fixedJobs <= ceiling(rounds),
        s"$name: $oneFixed and $fixedJobs jobs at 1 and $rounds rounds")
      info(s"$name: fixed $oneFixed jobs at 1 round and $fixedJobs at $rounds; " +
        s"watched $oneJobs and $tolJobs")
    }
  }

  test("PageRank releases its edge table and superseded ranks on return and on failure") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    // on return the one RDD left is the final rank state that backs the
    // returned frame; dropping it restores the prior set
    def released(body: => DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = Try(body)
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.toSeq
      out match {
        case Success(df) =>
          assert(left.size <= 1 && left.forall(_.name == "pageRank.rank"),
            s"persisted RDDs outlived the call: ${left.map(_.name)}")
          assert(df.count() > 0)
          left.foreach(_.unpersist())
        case Failure(_) => assert(left.isEmpty, s"a persisted RDD outlived the failure: ${left.map(_.name)}")
      }
      assert(sc.getPersistentRDDs.keySet == before)
      assert(spark.sharedState.cacheManager.isEmpty, "a cached plan outlived the call")
    }
    // a symmetric triangle, plus 4 -> 1 and 3 -> 5: node 5 is dangling
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val leaky = tri.union(Seq((4L, 1L), (3L, 5L)).toDF("src", "dst"))
    val prior = (1L to 5L).map(i => (i, 0.25)).toDF("id", "rank")
    released(Graph.pageRank(leaky, Stop.Converge(5))._1)
    released(Graph.pageRank(leaky, Stop.Rounds(3))._1)
    released(Graph.pageRank(leaky, Stop.Rounds(0))._1)
    released(Graph.pageRank(leaky, Stop.Converge(5), init = Some(prior))._1)
    released(Graph.pageRank(tri.withColumn("w", lit(0.5)), Stop.Converge(5), weighted = true)._1)
    // refused after the setup job: node 5 has no outgoing weight
    val e = intercept[IllegalArgumentException](Graph.pageRank(
      leaky.withColumn("w", lit(0.5)), Stop.Rounds(2), weighted = true))
    assert(e.getMessage.contains("outgoing weight"))
    released(Graph.pageRank(leaky.withColumn("w", lit(0.5)), Stop.Rounds(2), weighted = true)._1)
    // refused after the seed-sum job, and inside a seed task
    released(Graph.pageRank(leaky, Stop.Converge(5),
      init = Some(prior.withColumn("rank", lit(0.0))))._1)
    val dup = intercept[Exception](Graph.pageRank(leaky, Stop.Converge(5),
      init = Some(prior.union(prior))))
    assert(Iterator.iterate[Throwable](dup)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("more than once")))
    released(Graph.pageRank(leaky, Stop.Converge(5), init = Some(prior.union(prior)))._1)
  }
}

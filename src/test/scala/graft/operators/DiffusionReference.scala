package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Ckpt.CkptOps

/** The two DataFrame loops [[Graph.personalizedPageRank]] and
  * [[Graph.labelSpread]] ran before they shared one diffusion loop,
  * kept verbatim as that loop's reference, with local copies of the
  * [[Graph]] helpers they call. Same arguments and results as the two
  * entries, except one warm-start case: a prior PPR row that no kept
  * row reaches and that is no seed dies in round one, and this PPR
  * drops it from the round's frame without counting its mass as
  * movement. */
object DiffusionReference {

  private def quant(c: Column, bits: Int): Column = Graph.quant(c, bits)

  private def termQuant(c: Column): Column = Graph.quant(c, 48)

  private def requireCold(stop: Stop, init: Option[DataFrame]): Unit =
    require(init.isEmpty || stop.watchTol.isDefined,
      "warm start (init) requires Stop.Converge (--tol on the CLI): the " +
        "fixed-round tier always starts cold (it is the oracle tier)")

  private def srcDst(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))

  private def outEdges(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)

  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, stop: Stop,
                           damping: Double = 0.85, quantBits: Int = 30,
                           init: Option[DataFrame] = None): (DataFrame, Int) = {
    requireCold(stop, init)
    val e = srcDst(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col("id").cast("long").as("id")).distinct()
      .where(col("id").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
    val eout = outEdges(e, deg)
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      require(nodes.join(deg.withColumnRenamed("src", "id"), Seq("id"),
          "left_anti").limit(1).count() == 0,
        "personalizedPageRank requires a graph with no dangling nodes " +
          "(symmetrize the edge list)")
      val nSeeds = sd.count().toDouble // documented O(1) driver scalar
      require(nSeeds > 0, "personalizedPageRank needs at least one seed")
      val seedTerm = sd.select(col("id"),
        lit((1.0 - damping) / nSeeds).as("seed"))
      // Watch columns ride inside the sparse state (r16): (id, rank,
      // p1, p2), carried from the previous state's row of the same id.
      // Sound because the reached set GROWS MONOTONICALLY on the
      // (required) symmetrized dangling-free graph: state_t =
      // N(state_{t-1}) ∪ seeds ⊇ state_{t-1} by induction, so no row
      // ever drops and the carry loses no delta mass — newly reached
      // rows enter with p1/p2 null, which the watch reads as prior
      // rank 0.
      val nullD = lit(null).cast("double")
      val rank0 = init match {
        case Some(r0) =>
          // sparse warm start (scaladoc above): keep only prior rows
          // whose node still exists, renormalize the kept mass to 1.
          // New seeds carry no row — the seed term below injects their
          // teleport mass every round regardless.
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
          kept.select(col("id"),
              quant(col("r0") / lit(t), quantBits).as("rank"),
              nullD.as("p1"), nullD.as("p2"))
            .ckptSer()
        case None => sd.select(col("id"),
          quant(lit(1.0 / nSeeds), quantBits).as("rank"),
          nullD.as("p1"), nullD.as("p2"))
      }
      val moved = (prev: String) =>
        abs(col("rank") - coalesce(col(prev), lit(0.0)))
      val watch = stop.watchTol.map(FixedPoint.Watch(_, moved("p1"), moved("p2")))
      val (rank, rounds) = FixedPoint.run(rank0, stop.maxIters, watch) { rank =>
        // Union-fused update (r17, guide §2.4 "two operations keyed the
        // same way can share one exchange"): the contribution
        // aggregate, the seed-term re-injection and — on the watched
        // tier — the watch-column carry are ALL id-keyed, so seed and
        // state rows ride the contribution groupBy's exchange. Grouped
        // ids = contrib ∪ seed ∪ (watched) state ids, and the filter
        // below drops state-only ids — which the monotone-frontier
        // argument above proves cannot exist on the required
        // dangling-free graph, so the filter is an unconditional
        // row-set guarantee, not a behavior change.
        val terms = eout
          .join(rank.select(col("id").as("src"), col("rank")), "src")
          .select(col("dst").as("id"),
            termQuant(col("rank") / col("outdeg")).as("c"),
            nullD.as("sd0"), nullD.as("r0"), nullD.as("q1"))
        val seedRows = seedTerm.select(col("id"), nullD.as("c"),
          col("seed").as("sd0"), nullD.as("r0"), nullD.as("q1"))
        val newRank = quant(lit(damping) * coalesce(col("contrib"), lit(0.0))
          + coalesce(col("seed"), lit(0.0)), quantBits)
        if (watch.isDefined) {
          val stateRows = rank.select(col("id"), nullD.as("c"),
            nullD.as("sd0"), col("rank").as("r0"), col("p1").as("q1"))
          terms.union(seedRows).union(stateRows).groupBy("id")
            .agg(sum(col("c")).as("contrib"), max(col("sd0")).as("seed"),
              max(col("r0")).as("pc1"), max(col("q1")).as("pc2"))
            .filter(col("contrib").isNotNull || col("seed").isNotNull)
            .select(col("id"), newRank.as("rank"),
              col("pc1").as("p1"), col("pc2").as("p2"))
        } else terms.union(seedRows).groupBy("id")
          .agg(sum(col("c")).as("contrib"), max(col("sd0")).as("seed"))
          .select(col("id"), newRank.as("rank"))
      }
      (rank.select(col("id"), col("rank")), rounds)
    } finally { eout.unpersist(); sd.unpersist(); e.unpersist(); () }
  }

  def labelSpread(edges: DataFrame, seeds: DataFrame, stop: Stop,
                  alpha: Double = 0.85, quantBits: Int = 30,
                  init: Option[DataFrame] = None): (DataFrame, Int) = {
    requireCold(stop, init)
    val e = srcDst(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col("id").cast("long").as("id"),
        col("label").cast("int").as("label"))
      .where(col("id").isNotNull && col("label").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
    val eout = outEdges(e, deg)
    try {
      val nullD = lit(null).cast("double")
      val seedTerm = sd.select(col("id"), col("label"),
        lit(1.0 - alpha).as("seed"))
      // Watched state carries (score, p1, p2) per (id, label) cell, the
      // previous and two-rounds-back scores (see FixedPoint). With a
      // warm `init` the reached set is NOT monotone (stale cells can
      // shed for several rounds), so a cell that dies stays two more
      // rounds with a NULL score: the full-outer deltas then count its
      // mass against p1 and p2 as rows of the round's own frame.
      val carry = if (stop.watchTol.isDefined) Seq(nullD.as("p1"), nullD.as("p2"))
        else Nil
      val state0 = init match {
        case Some(s0) => s0.select(Seq(col("id").cast("long").as("id"),
            col("label").cast("int").as("label"),
            col("score").cast("double").as("score")) ++ carry: _*)
          .where(col("id").isNotNull && col("label").isNotNull &&
            col("score").isNotNull && col("score") >= 0)
          .ckptSer()
        case None =>
          sd.select(Seq(col("id"), col("label"), lit(1.0).as("score")) ++
            carry: _*)
      }
      val moved = (prev: String) => abs(coalesce(col("score"), lit(0.0)) -
        coalesce(col(prev), lit(0.0)))
      val watch = stop.watchTol.map(FixedPoint.Watch(_, moved("p1"), moved("p2")))
      val (state, rounds) = FixedPoint.run(state0, stop.maxIters, watch) { state =>
        // Union-fused update (r17, see personalizedPageRank): the contribution
        // aggregate and the clamped seed re-injection both key on
        // (id, label), so seed rows — and on the watched tier the state
        // rows carrying p1/p2 — ride the contribution groupBy's
        // exchange. Terms stay on the 2^-48 grid — the shared sum is
        // exact and order-independent — and the live cell set is
        // contrib ∪ seed.
        val terms = eout
          .join(state.where(col("score").isNotNull).select(
            col("id").as("src"), col("label"), col("score")), "src")
          .select(col("dst").as("id"), col("label"),
            termQuant(col("score") / col("outdeg")).as("c"),
            nullD.as("sd0"))
        val seedRows = seedTerm.select(col("id"), col("label"),
          nullD.as("c"), col("seed").as("sd0"))
        val live = col("contrib").isNotNull || col("seed").isNotNull
        val score = quant(lit(alpha) * coalesce(col("contrib"), lit(0.0))
          + coalesce(col("seed"), lit(0.0)), quantBits)
        if (watch.isDefined) {
          val stateRows = state.select(col("id"), col("label"),
            col("score").as("r0"), col("p1").as("q1"))
          terms.union(seedRows).unionByName(stateRows, allowMissingColumns = true)
            .groupBy("id", "label")
            .agg(sum(col("c")).as("contrib"), max(col("sd0")).as("seed"),
              max(col("r0")).as("pc1"), max(col("q1")).as("pc2"))
            .filter(live || col("pc1").isNotNull || col("pc2").isNotNull)
            .select(col("id"), col("label"), when(live, score).as("score"),
              col("pc1").as("p1"), col("pc2").as("p2"))
        } else terms.union(seedRows)
          .groupBy("id", "label")
          .agg(sum(col("c")).as("contrib"), max(col("sd0")).as("seed"))
          .select(col("id"), col("label"), score.as("score"))
      }
      (state.where(col("score").isNotNull)
        .select(col("id"), col("label"), col("score")), rounds)
    } finally { eout.unpersist(); sd.unpersist(); e.unpersist(); () }
  }
}

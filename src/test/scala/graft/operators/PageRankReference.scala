package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Ckpt.CkptOps

/** The DataFrame PageRank that [[Graph.pageRank]] ran before its
  * partition kernel ([[RankKernel]]), kept as the kernel's reference:
  * each round joins the edge table (with its source's out-degree or
  * out-weight) to the rank frame, sums the `2^-48`-quantized terms and
  * the state rows in one union-fused `groupBy`, cross-joins the dangling
  * mass back in, and checkpoints under [[FixedPoint.run]]. Same
  * arguments and result as [[Graph.pageRank]]. */
object PageRankReference {

  private def termQuant(c: Column): Column = Graph.quant(c, 48)

  def pageRank(edges: DataFrame, stop: Stop, weighted: Boolean = false,
               damping: Double = 0.85, quantBits: Int = 30,
               init: Option[DataFrame] = None): (DataFrame, Int) = {
    val e = (if (weighted)
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("w").cast("double").as("w"))
        .filter(col("src") =!= col("dst") && col("w").isNotNull && col("w") > 0)
    else edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (deg, term) =
      if (weighted) (e.groupBy("src").agg(sum("w").as("outw")),
        col("rank") * col("w") / col("outw"))
      else (e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")),
        col("rank") / col("outdeg"))
    val eout = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count().toDouble
      val hasDangling = nodes
        .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
        .limit(1).count() > 0
      require(!(weighted && hasDangling),
        "weighted pageRank expects every node to carry outgoing weight")
      val teleport = (1.0 - damping) / n
      val noPrev = lit(null).cast("double")
      val rank0 = init match {
        case Some(r0) =>
          val seeded = nodes.join(
            r0.select(col("id").cast("long").as("id"),
              col("rank").cast("double").as("r0"))
              .where(col("id").isNotNull && col("r0").isNotNull &&
                col("r0") >= 0),
            Seq("id"), "left")
            .select(col("id"), coalesce(col("r0"), lit(1.0 / n)).as("r0"))
          val t = seeded.agg(sum(col("r0"))).head().getDouble(0)
          require(t > 0, "pageRank warm start needs positive total mass")
          seeded.select(col("id"),
              Graph.quant(col("r0") / lit(t), quantBits).as("rank"),
              noPrev.as("p1"), noPrev.as("p2"))
            .ckptSer()
        case None => nodes.select(col("id"),
          Graph.quant(lit(1.0 / n), quantBits).as("rank"),
          noPrev.as("p1"), noPrev.as("p2"))
      }
      val watch = stop.watchTol.map(FixedPoint.Watch(_,
        abs(col("rank") - col("p1")), abs(col("rank") - col("p2"))))
      val (rank, rounds) = FixedPoint.run(rank0, stop.maxIters, watch) { rank =>
        val terms = eout
          .join(rank.select(col("id").as("src"), col("rank")), "src")
          .select(col("dst").as("id"), termQuant(term).as("c"),
            noPrev.as("r0"), noPrev.as("q1"))
        val stateRows = rank.select(col("id"), noPrev.as("c"),
          col("rank").as("r0"), col("p1").as("q1"))
        val agg = terms.union(stateRows).groupBy("id")
          .agg(sum(col("c")).as("contrib"), max(col("r0")).as("pr1"),
            max(col("q1")).as("pr2"))
        val contrib = coalesce(col("contrib"), lit(0.0))
        val (withDm, mass) =
          if (hasDangling) {
            val dangling = rank.select(col("id"), col("rank"))
              .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
              .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
            (agg.crossJoin(broadcast(dangling)), contrib + col("dm") / lit(n))
          } else (agg, contrib)
        withDm.select(col("id"),
          Graph.quant(lit(teleport) + lit(damping) * mass, quantBits).as("rank"),
          col("pr1").as("p1"), col("pr2").as("p2"))
      }
      (rank.select(col("id"), col("rank")), rounds)
    } finally { nodes.unpersist(); eout.unpersist(); e.unpersist(); () }
  }
}

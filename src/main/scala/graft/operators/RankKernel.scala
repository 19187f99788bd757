package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** [[Graph.pageRank]]'s rounds, each one Spark job over cached
  * primitive-array partitions. This is GraphX's shape (Gonzalez et al.,
  * OSDI 2014): the edge table stays cached and partitioned by source,
  * and a round sends one aggregated message per destination.
  *
  * ==Layout==
  * Nodes and edges are hash-partitioned into `P` =
  * `spark.sql.shuffle.partitions` parts by `pmod(murmur3(id, 42), P)`,
  * Spark's own hash partitioning of a long key; an edge goes with its
  * source. One setup job (one shuffle) builds each partition's [[Part]]
  * and returns its node and dangling counts. A part holds:
  *   - its node ids, ascending; a node's index there is its slot;
  *   - per node, the out-degree (or out-weight);
  *   - per local edge, its source slot, the index of its destination in
  *     the part's outbound list and, when weighted, `w`;
  *   - the outbound list: the local edges' distinct destinations, grouped
  *     by the partition that holds them, ascending within each group;
  *   - per sender partition, the slots its outbound group for this part
  *     lands on. Sender and receiver derive that group from the same
  *     edges, so the two sides agree on its order.
  *
  * ==Round==
  * One job of two stages. The map stage zips each part with its [[Ranks]]
  * and adds every edge's `2^-48`-quantized term into a dense array over
  * the outbound list, then sends each target partition its slice: at
  * most P² primitive-array records, never a per-edge record. The result
  * stage zips part, ranks and the received slices, adds the slices onto
  * their slots, forms each new rank with the DataFrame update's exact
  * arithmetic, and returns the partition's (d1, d2, dangling mass). The
  * new ranks are persisted and locally checkpointed in that same job, and
  * the job result is the [[FixedPoint]] probe. The terms sit on the
  * `2^-48` grid and the ranks on the `2^-quantBits` grid, so every sum
  * here is exact whatever its order. The ranks are therefore bit for bit
  * those of the DataFrame round this kernel replaced, which the specs
  * keep as the reference. Out-weights are summed in input order; they
  * match the reference exactly when every order gives the same sum, as
  * with dyadic weights.
  *
  * The dangling mass every node receives in round `r` is the sum over
  * the dangling nodes of the ranks round `r - 1` produced, so the driver
  * already holds it from that round's job and passes it in as a scalar.
  */
private[operators] object RankKernel {

  /** One cached partition of the edge table (see the object's doc). */
  private final class Part(val index: Int, val ids: Array[Long], val out: Array[Double],
                           val src: Array[Int], val dst: Array[Int], val w: Array[Double],
                           val outOff: Array[Int], val in: Array[Array[Int]])
      extends Serializable

  /** One partition of the rank state, aligned with its part's ids:
    * `prev` is the previous round's ranks (null on the fixed tier and
    * before the first round); d1, d2 and dm are the round's movement
    * against `prev` and against the state two rounds back, and the
    * dangling mass of `rank`. */
  private final class Ranks(val ids: Array[Long], val rank: Array[Double],
                            val prev: Array[Double], val d1: Double, val d2: Double,
                            val dm: Double) extends Serializable

  /** What one input partition sends one partition at setup: the edges
    * whose source lives there, and per source partition the distinct
    * destinations that live there, ascending. `from` is the input
    * partition, so the receiver reads the edges in input order. */
  private final class Block(val from: Int, val src: Array[Long], val dst: Array[Long],
                            val w: Array[Double], val need: Array[Array[Long]])
      extends Serializable

  private val Schema = StructType(Seq(StructField("id", LongType),
    StructField("rank", DoubleType)))
  private val TermScale = math.pow(2, 48)

  private def partOf(id: Long, np: Int): Int = {
    val h = Murmur3_x86_32.hashLong(id, 42) % np
    if (h < 0) h + np else h
  }

  /** `floor(x * scale).cast("double") / scale`, as [[Graph.quant]]
    * evaluates it. */
  private def floorTo(x: Double, scale: Double): Double =
    math.floor(x * scale).toLong.toDouble / scale

  /** PageRank over `e`, an edge table of long `src` and `dst` (and a
    * positive double `w` when `weighted`); an edge with a null end names
    * no node and is dropped. The arguments and the result are
    * [[Graph.pageRank]]'s. Every RDD it persists is released
    * before it returns or throws, except the final ranks, which back the
    * returned frame. */
  def pageRank(e: DataFrame, weighted: Boolean, stop: Stop, damping: Double,
               quantBits: Int, init: Option[DataFrame]): (DataFrame, Int) = {
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val np = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = setup(e.where(col("src").isNotNull && col("dst").isNotNull), weighted, np)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .setName("pageRank.edges")
    try {
      val counts = sc.runJob(parts, (it: Iterator[Part]) => {
        val p = it.next()
        (p.ids.length.toLong, p.out.count(_ == 0.0).toLong)
      })
      val n = counts.map(_._1).sum.toDouble
      val dangling = counts.map(_._2).sum
      require(!(weighted && dangling > 0),
        "weighted pageRank expects every node to carry outgoing weight " +
          "(a symmetrizeWeighted graph); dangling nodes would leak walk " +
          "mass — use the unweighted dangling redistribution instead")
      val scale = math.pow(2, quantBits)
      val watched = stop.watchTol.isDefined
      val state0 = init match {
        case Some(r0) => seed(parts, r0, np, n, scale)
        case None =>
          val v0 = floorTo(1.0 / n, scale)
          (parts.map(p => new Ranks(p.ids, Array.fill(p.ids.length)(v0), null, 0.0, 0.0, 0.0)),
            dangling * v0)
      }
      val teleport = (1.0 - damping) / n
      val ((ranks, _), rounds) = FixedPoint.runJobs(state0, stop.maxIters, stop.watchTol,
        (s: (RDD[Ranks], Double)) => GraftColumnBridge.dropRdd(s._1)) { case (state, dm) =>
        // the DataFrame update: teleport + damping * (contrib + dm / n),
        // with the dangling term only when the graph has dangling nodes
        val dmn = dm / n
        materialize(step(parts, state, np, watched) { c =>
          floorTo(teleport + damping * (if (dangling > 0) c + dmn else c), scale)
        })
      }
      (toFrame(spark, ranks), rounds)
    } finally { parts.unpersist(); () }
  }

  /** Persists, locally checkpoints and computes `next` in one job;
    * returns it with its dangling mass and its (d1, d2), summed in
    * partition-index order. */
  private def materialize(next: RDD[Ranks]): ((RDD[Ranks], Double), (Double, Double)) = {
    next.persist(StorageLevel.MEMORY_AND_DISK).setName("pageRank.rank").localCheckpoint()
    val stats = try next.sparkContext.runJob(next, (it: Iterator[Ranks]) => {
      val r = it.next()
      (r.d1, r.d2, r.dm)
    }) catch { case e: Throwable => GraftColumnBridge.dropRdd(next); throw e }
    ((next, stats.map(_._3).sum), (stats.map(_._1).sum, stats.map(_._2).sum))
  }

  /** The setup shuffle: input edges to the parts of their sources. */
  private def setup(e: DataFrame, weighted: Boolean, np: Int): RDD[Part] = {
    val blocks = e.queryExecution.toRdd.mapPartitionsWithIndex { (m, rows) =>
      val src = Array.fill(np)(new ArrayBuilder.ofLong)
      val dst = Array.fill(np)(new ArrayBuilder.ofLong)
      val w = Array.fill(np)(new ArrayBuilder.ofDouble)
      val srcPart = Array.fill(np)(new ArrayBuilder.ofInt)
      val need = Array.fill(np)(new ArrayBuilder.ofLong)
      rows.foreach { r =>
        val s = r.getLong(0)
        val d = r.getLong(1)
        val ps = partOf(s, np)
        val pd = partOf(d, np)
        src(ps) += s
        dst(ps) += d
        if (weighted) w(ps) += r.getDouble(2)
        srcPart(pd) += ps
        need(pd) += d
      }
      Iterator.range(0, np).filter(q => src(q).length > 0 || need(q).length > 0)
        .map(q => (q, new Block(m, src(q).result(), dst(q).result(),
          if (weighted) w(q).result() else null,
          groupDistinct(need(q).result(), srcPart(q).result(), np))))
    }
    new ShuffledRDD[Int, Block, Block](blocks, new HashPartitioner(np))
      .mapPartitionsWithIndex { (q, it) =>
        Iterator.single(build(q, np, weighted, it.map(_._2).toArray.sortBy(_.from)))
      }
  }

  private def build(q: Int, np: Int, weighted: Boolean, bs: Array[Block]): Part = {
    val srcIds = Array.concat(bs.map(_.src): _*)
    val dstIds = Array.concat(bs.map(_.dst): _*)
    val w = if (weighted) Array.concat(bs.map(_.w): _*) else null
    val dstPart = dstIds.map(partOf(_, np))
    val outbound = groupDistinct(dstIds, dstPart, np)
    val outOff = outbound.scanLeft(0)(_ + _.length)
    val inbound = Array.tabulate(np)(p => sortedDistinct(Array.concat(bs.map(_.need(p)): _*)))
    val ids = sortedDistinct(Array.concat(srcIds +: inbound: _*))
    def slot(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val src = srcIds.map(slot)
    val dst = Array.tabulate(dstIds.length) { i =>
      outOff(dstPart(i)) + java.util.Arrays.binarySearch(outbound(dstPart(i)), dstIds(i))
    }
    val out = new Array[Double](ids.length)
    var i = 0
    while (i < src.length) { out(src(i)) += (if (weighted) w(i) else 1.0); i += 1 }
    new Part(q, ids, out, src, dst, w, outOff, inbound.map(_.map(slot)))
  }

  // per group 0 until np, the distinct ids of that group in ascending order
  private def groupDistinct(ids: Array[Long], group: Array[Int], np: Int): Array[Array[Long]] = {
    val bs = Array.fill(np)(new ArrayBuilder.ofLong)
    var i = 0
    while (i < ids.length) { bs(group(i)) += ids(i); i += 1 }
    bs.map(b => sortedDistinct(b.result()))
  }

  // sorts `a` in place and returns its distinct prefix
  private[operators] def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var k = 0
    var i = 0
    while (i < a.length) {
      if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, k)
  }

  /** The warm start of [[Graph.pageRank]]: each node's prior rank, or
    * 1/n for a node the prior lacks, renormalized to total mass 1 and
    * quantized. One job sums the seed in partition-index order, and a
    * second materializes the quantized state and its dangling mass. */
  private def seed(parts: RDD[Part], init: DataFrame, np: Int, n: Double,
                   scale: Double): (RDD[Ranks], Double) = {
    val prior = init.select(col("id").cast("long").as("id"),
        col("rank").cast("double").as("r0"))
      .where(col("id").isNotNull && col("r0").isNotNull && col("r0") >= 0)
    val blocks = prior.queryExecution.toRdd.mapPartitions { rows =>
      val ids = Array.fill(np)(new ArrayBuilder.ofLong)
      val rs = Array.fill(np)(new ArrayBuilder.ofDouble)
      rows.foreach { r =>
        val q = partOf(r.getLong(0), np)
        ids(q) += r.getLong(0)
        rs(q) += r.getDouble(1)
      }
      Iterator.range(0, np).filter(ids(_).length > 0)
        .map(q => (q, (ids(q).result(), rs(q).result())))
    }
    val seeded = parts.zipPartitions(new ShuffledRDD[Int, (Array[Long], Array[Double]),
        (Array[Long], Array[Double])](blocks, new HashPartitioner(np))) { (ps, bs) =>
      val p = ps.next()
      val r0 = Array.fill(p.ids.length)(1.0 / n)
      val seen = new Array[Boolean](p.ids.length)
      bs.foreach { case (_, (ids, rs)) =>
        var j = 0
        while (j < ids.length) {
          val i = java.util.Arrays.binarySearch(p.ids, ids(j))
          if (i >= 0) {
            require(!seen(i), s"pageRank warm start lists node ${ids(j)} more than once")
            seen(i) = true
            r0(i) = rs(j)
          }
          j += 1
        }
      }
      Iterator.single(r0)
    }
    val t = parts.sparkContext.runJob(seeded, (it: Iterator[Array[Double]]) => {
      val r0 = it.next()
      var s = 0.0
      r0.foreach(s += _)
      s
    }).foldLeft(0.0)(_ + _)
    require(t > 0, "pageRank warm start needs positive total mass")
    materialize(parts.zipPartitions(seeded) { (ps, rs) =>
      val (p, r0) = (ps.next(), rs.next())
      val rank = r0.map(x => floorTo(x / t, scale))
      var dm = 0.0
      var i = 0
      while (i < rank.length) { if (p.out(i) == 0.0) dm += rank(i); i += 1 }
      Iterator.single(new Ranks(p.ids, rank, null, 0.0, 0.0, dm))
    })._1
  }

  /** One round as an RDD: `update(c)` forms a node's new rank from
    * its summed incoming terms `c`; nothing runs until the result is
    * computed. */
  private def step(parts: RDD[Part], state: RDD[Ranks], np: Int, watched: Boolean)
                  (update: Double => Double): RDD[Ranks] = {
    val sent = parts.zipPartitions(state) { (ps, ss) =>
      val (p, s) = (ps.next(), ss.next())
      val acc = new Array[Double](p.outOff(np))
      var i = 0
      while (i < p.src.length) {
        val j = p.src(i)
        val x = if (p.w == null) s.rank(j) / p.out(j) else s.rank(j) * p.w(i) / p.out(j)
        acc(p.dst(i)) += floorTo(x, TermScale)
        i += 1
      }
      Iterator.range(0, np).filter(q => p.outOff(q + 1) > p.outOff(q)).map(q =>
        (q, (p.index, java.util.Arrays.copyOfRange(acc, p.outOff(q), p.outOff(q + 1)))))
    }
    val received = new ShuffledRDD[Int, (Int, Array[Double]), (Int, Array[Double])](
      sent, new HashPartitioner(np))
    parts.zipPartitions(state, received) { (ps, ss, ms) =>
      val (p, s) = (ps.next(), ss.next())
      val c = new Array[Double](p.ids.length)
      ms.foreach { case (_, (from, sums)) =>
        val slots = p.in(from)
        var j = 0
        while (j < sums.length) { c(slots(j)) += sums(j); j += 1 }
      }
      val rank = new Array[Double](c.length)
      var (d1, d2, dm) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < c.length) {
        val r = update(c(i))
        rank(i) = r
        d1 += math.abs(r - s.rank(i))
        if (s.prev != null) d2 += math.abs(r - s.prev(i))
        if (p.out(i) == 0.0) dm += r
        i += 1
      }
      Iterator.single(new Ranks(p.ids, rank, if (watched) s.rank else null, d1, d2, dm))
    }
  }

  /** The (id, rank) frame over a rank state. */
  private def toFrame(spark: org.apache.spark.sql.SparkSession, ranks: RDD[Ranks]): DataFrame =
    GraftColumnBridge.internalCreateDataFrame(spark, ranks.mapPartitions { it =>
      val s = it.next()
      val row = new SpecificInternalRow(Seq(LongType, DoubleType))
      Iterator.range(0, s.ids.length).map { i =>
        row.setLong(0, s.ids(i))
        row.setDouble(1, s.rank(i))
        row: InternalRow
      }
    }, Schema)
}

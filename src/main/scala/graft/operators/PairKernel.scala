package graft.operators

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.SimHash64

/** The capped posting tier of [[Dedup]]'s inverted-index pair counters
  * ([[Dedup.jaccardPairs]], [[Dedup.containmentPairs]],
  * [[Dedup.winnowPairs]]) as one RDD DAG: its only generated code is
  * the scan that reads `(id, text)`, and a `count()` on the result runs
  * at most two Spark jobs (the DAG, then the count's final aggregate).
  *
  * ==Stages==
  *  1. One pass over `(id, text)` derives each document's distinct keys
  *     in Scala (see [[Keys]]) and builds, per key, the sorted set of the
  *     ids holding it, bounded at cap + 1 ids (`combineByKey` on
  *     `spark.sql.shuffle.partitions` partitions, combined map-side). A
  *     key whose set reaches cap + 1 ids is over the cap; it is dropped,
  *     and its list never grows past that bound however hot the key is.
  *  2. Each kept set expands into its pairs id_a < id_b and its members.
  *     Both go to the partition of id_a (of the member) as one block of
  *     primitive arrays per target partition, where the pairs are counted
  *     (`inter`) and the members give the set sizes.
  *  3. Each counted pair takes its `sz_a` from that partition and goes,
  *     again in blocks, to the partition of id_b, which holds `sz_b`. The
  *     caller's [[Scorer]] forms the output row in Scala.
  *
  * Ids are partitioned by `HashPartitioner` over the boxed id, and a
  * block is one record, so the two pair exchanges move arrays, never a
  * record per pair. Set semantics: a null id is dropped, and an id on
  * several rows holds the union of their keys, each counted once, since
  * the posting lists are id sets and the sizes are counted from them.
  */
private[operators] object PairKernel {

  /** How a document's text becomes its keys. Both use the tokenizer of
    * [[graft.functions.expressions.MinHashSig]]: `[a-z0-9]{2,}` runs over
    * the `UTF8String` lowercase, which is what the DataFrame `tokens`
    * yields. */
  sealed trait Keys[K] extends Serializable {
    def of(toks: Array[String]): Iterator[K]
  }

  /** The space-joined word n-grams ([[Dedup.shingleTable]]). */
  final case class Shingles(n: Int) extends Keys[String] {
    require(n > 0, s"shingle length must be positive, got $n")
    def of(toks: Array[String]): Iterator[String] = grams(toks, n).distinct
  }

  /** The winnow fingerprints ([[Dedup.winnowFingerprints]]): the md5
    * hash of every k-gram in position order, then the minimum over each
    * full window of `w` hashes. */
  final case class Winnow(k: Int, w: Int) extends Keys[Long] {
    require(k > 0 && w > 0, s"winnow k and w must be positive, got $k/$w")
    def of(toks: Array[String]): Iterator[Long] = {
      val h = grams(toks, k).map(SimHash64.md5Hex15).toArray
      Iterator.range(0, h.length - w + 1).map { s =>
        var m = h(s)
        var i = s + 1
        while (i < s + w) { if (h(i) < m) m = h(i); i += 1 }
        m
      }.distinct
    }
  }

  /** Forms a result row for the pair (a, b), a < b, sharing `inter`
    * kept keys out of `szA` and `szB`; returns false to drop the pair. */
  trait Scorer extends Serializable {
    def apply(a: Long, b: Long, inter: Long, szA: Long, szB: Long,
              row: SpecificInternalRow): Boolean
  }

  private def grams(toks: Array[String], n: Int): Iterator[String] =
    Iterator.range(0, toks.length - n + 1).map(i => toks.slice(i, i + n).mkString(" "))

  private def tokens(text: UTF8String): Array[String] = {
    val m = SimHash64.tokenPattern.matcher(text.toLowerCase.toString)
    val out = ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  // `ids` with `id` inserted in order, unless it is there or `ids` is
  // already over the cap
  private def insert(ids: Array[Long], id: Long, cap: Int): Array[Long] =
    if (ids.length > cap) ids
    else {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) ids
      else {
        val at = -i - 1
        val out = new Array[Long](ids.length + 1)
        System.arraycopy(ids, 0, out, 0, at)
        out(at) = id
        System.arraycopy(ids, at, out, at + 1, ids.length - at)
        out
      }
    }

  // the sorted union of two sorted id sets, cut at cap + 1 ids
  private def union(a: Array[Long], b: Array[Long], cap: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length.toLong + b.length, cap + 1L).toInt)
    var (i, j, k) = (0, 0, 0)
    while (k < out.length && (i < a.length || j < b.length)) {
      val x =
        if (j == b.length || (i < a.length && a(i) < b(j))) { i += 1; a(i - 1) }
        else if (i == a.length || b(j) < a(i)) { j += 1; b(j - 1) }
        else { i += 1; j += 1; a(i - 1) }
      out(k) = x
      k += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** A block: equal-length columns of one map partition's records for
    * one target partition. */
  private type Block = Array[Array[Long]]

  /** Delivers every block to the partition it is addressed to. */
  private def exchange(blocks: RDD[(Int, Block)], np: Int): RDD[Block] =
    new ShuffledRDD[Int, Block, Block](blocks, new HashPartitioner(np)).values

  // column `c` of every block, concatenated
  private def column(blocks: Array[Block], c: Int): Array[Long] =
    Array.concat(blocks.map(_(c)): _*)

  /** The distinct (a, b) rows among `a` and `b` with their counts:
    * each id becomes its index among the distinct ids of its column, so
    * a row sorts as one packed long. */
  private def countRows(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long], Array[Long]) = {
    val (da, db) = (RankKernel.sortedDistinct(a.clone()), RankKernel.sortedDistinct(b.clone()))
    val packed = Array.tabulate(a.length) { k =>
      java.util.Arrays.binarySearch(da, a(k)).toLong << 32 |
        java.util.Arrays.binarySearch(db, b(k))
    }
    java.util.Arrays.sort(packed)
    val (ra, rb, rn) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
    var i = 0
    while (i < packed.length) {
      var j = i + 1
      while (j < packed.length && packed(j) == packed(i)) j += 1
      ra += da((packed(i) >>> 32).toInt)
      rb += db(packed(i).toInt)
      rn += j - i
      i = j
    }
    (ra.result(), rb.result(), rn.result())
  }

  /** The scored pairs of `docs`: every id_a < id_b sharing a key held by
    * at most `cap` ids, as rows of `schema` formed by `score`. The id
    * column must be integral; ids come out as Long. */
  def pairs[K: ClassTag](docs: DataFrame, idCol: String, textCol: String, keys: Keys[K],
                         cap: Int, schema: StructType)(score: Scorer): DataFrame = {
    require(cap > 0, s"the posting tier needs a positive cap, got $cap")
    val spark = docs.sparkSession
    val np = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ids = new HashPartitioner(np)
    def part(id: Long): Int = ids.getPartition(id)
    val keyed = docs.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .queryExecution.toRdd
      .flatMap { r =>
        if (r.isNullAt(1)) Iterator.empty
        else {
          val id = r.getLong(0)
          keys.of(tokens(r.getUTF8String(1))).map(k => (k, id))
        }
      }
    // stage 1: bounded posting sets (String or Long keys and Array[Long]
    // sets, which Spark's shuffle serializes with Kryo)
    val postings = keyed.combineByKey[Array[Long]]((id: Long) => Array(id),
        (s: Array[Long], id: Long) => insert(s, id, cap),
        (a: Array[Long], b: Array[Long]) => union(a, b, cap), ids)
      .values.filter(_.length <= cap)
    // stage 2: blocks of (id_a, id_b, member) to the partition of id_a
    val counted = exchange(postings.mapPartitions { sets =>
      val cols = Array.fill(np, 3)(new ArrayBuilder.ofLong)
      sets.foreach { s =>
        var i = 0
        while (i < s.length) {
          val c = cols(part(s(i)))
          c(2) += s(i)
          var j = i + 1
          while (j < s.length) { c(0) += s(i); c(1) += s(j); j += 1 }
          i += 1
        }
      }
      Iterator.range(0, np).map(q => (q, cols(q).map(_.result())))
    }, np)
    // stage 3: (id_a, id_b, inter, sz_a) blocks to the partition of id_b;
    // each partition keeps its own sizes (columns 4 and 5)
    val rows = exchange(counted.mapPartitionsWithIndex { (q, it) =>
      val blocks = it.toArray
      val (a, b, inter) = countRows(column(blocks, 0), column(blocks, 1))
      // a member's row count is its set size
      val members = column(blocks, 2)
      val (sizeIds, _, sizes) = countRows(members, members)
      val cols = Array.fill(np, 4)(new ArrayBuilder.ofLong)
      var k = 0
      while (k < a.length) {
        val c = cols(part(b(k)))
        c(0) += a(k); c(1) += b(k); c(2) += inter(k)
        c(3) += sizes(java.util.Arrays.binarySearch(sizeIds, a(k)))
        k += 1
      }
      val none = Array.emptyLongArray
      Iterator.range(0, np).map { r =>
        (r, cols(r).map(_.result()) ++ (if (r == q) Array(sizeIds, sizes) else Array(none, none)))
      }
    }, np).mapPartitions { it =>
      val blocks = it.toArray
      val (a, b, inter, szA) = (column(blocks, 0), column(blocks, 1), column(blocks, 2),
        column(blocks, 3))
      val (sizeIds, sizes) = (column(blocks, 4), column(blocks, 5))
      val row = new SpecificInternalRow(schema.map(_.dataType))
      Iterator.range(0, a.length).filter { k =>
        score(a(k), b(k), inter(k), szA(k),
          sizes(java.util.Arrays.binarySearch(sizeIds, b(k))), row)
      }.map(_ => row: InternalRow)
    }
    GraftColumnBridge.internalCreateDataFrame(spark, rows, schema)
  }
}

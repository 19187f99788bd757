package graft.serve

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.embedding.EmbeddingProvider
import graft.functions.expressions.RoundHalfUp
import graft.pipeline.Index

/** Driver-resident BM25 statistics for [[WarmIndex]]'s hybrid path:
  * the persisted bm25_tf/dl/df/g tables as in-memory postings — the
  * same RAM-resident shape the reference's scorer holds
  * (`src/index/bm25.rs`). */
private[serve] final class WarmBm25(
    val postings: java.util.HashMap[String, Array[(String, Long)]],
    val dl: java.util.HashMap[String, Long],
    val df: java.util.HashMap[String, Long],
    val numDocs: Long,
    val avgdl: Double)

/** Driver-resident PQ tier for [[WarmIndex]]'s ANN path: the persisted
  * codebooks plus each bucket's code rows as one flat int array aligned
  * row-for-row with the bucket's id/vector arrays — the reference's
  * compact-storage serving regime (`src/backend/hnsw.rs:30-44` storage +
  * `src/index/recompute.rs:52-123` exact re-rank) in-process. The ADC
  * scan touches `m` ints per vector instead of `dims` floats (32x fewer
  * bytes through the hot loop at m=8 over 64 float dims), and the
  * resident floats are read only for the `rerank` surviving candidates. */
private[serve] final class WarmPq(
    val cb: graft.operators.Pq.Codebooks,
    val bucketCodes: Array[Array[Int]])

/** One ranked row; `bucket`/`row` locate its vector for the ANN
  * re-rank (-1 where unused). */
private[serve] final case class Hit(id: String, score: Double, bucket: Int, row: Int)

/** Bounded top-k in (score desc, id asc) order — [[Index.search]]'s
  * `orderBy(desc(score), id).limit(k)` — the one ranking every warm path
  * uses. The heap root is the WORST kept row. */
private[serve] final class TopK(k: Int) {
  private val worstFirst: java.util.Comparator[Hit] = (a, b) => {
    val c = java.lang.Double.compare(a.score, b.score)
    if (c != 0) c else b.id.compareTo(a.id)
  }
  private val heap = new java.util.PriorityQueue[Hit](worstFirst)

  def offer(id: String, score: Double, bucket: Int = -1, row: Int = -1): Unit = {
    val h = Hit(id, score, bucket, row)
    if (heap.size < k) heap.add(h)
    else if (!heap.isEmpty && worstFirst.compare(h, heap.peek()) > 0) {
      heap.poll(); heap.add(h)
    }
  }

  /** The kept rows, best first; empties the heap. */
  def drain(): Array[Hit] = {
    val out = new Array[Hit](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }
}

/** Driver-resident warm serving tier — the per-request LATENCY answer
  * to the reference's in-process index walk (`src/index/searcher.rs`:
  * the whole HNSW lives in one process's RAM and a query is a few
  * thousand distance evaluations, no scheduler in the path). The
  * batch-parity [[graft.pipeline.Index.search]] plan is correct but
  * pays Spark's per-job floor (~100s of ms) per request; this tier
  * loads the index ONCE into driver arrays and serves each request
  * with zero Spark jobs:
  *
  *   - centroid ranking is a driver-side loop over the (<= C, dims)
  *     centroid matrix (the same rank-then-prune [[Index.searchIvf]]
  *     runs as a plan),
  *   - the nprobe winning buckets are scanned in-process (flat-major
  *     float arrays, one fused multiply-add loop per vector),
  *   - passages resolve from a driver HashMap.
  *
  * Parity is EXACT, not approximate-by-reimplementation: scores are
  * the same left-to-right Double summation as the codegen'd
  * [[graft.functions.expressions.DotProduct]] with the same HALF_UP
  * round to 6 ([[RoundHalfUp.round]], the function the Spark path's
  * expression evaluates) and the same (score desc, id asc) tie-break
  * ([[TopK]]), so at `nprobe >= numClusters` (or a flat layout) the
  * results equal [[Index.search]]'s non-hybrid unfiltered path row for
  * row — ServerSpec pins that equality through the HTTP surface.
  *
  * This is deliberately a BOUNDED tier, the reference's own regime (a
  * RAM-resident single-node index): [[WarmIndex.load]] refuses
  * loudly above `maxVectors` instead of silently OOMing the driver —
  * indexes past the bound stay on the Spark path, which scales with
  * the cluster. Loading pays one Spark collect of the embeddings +
  * passages tables; every request after is scheduler-free. */
final class WarmIndex private (
    val dims: Int,
    centroids: Array[Array[Double]],
    bucketIds: Array[Array[String]],
    bucketVecs: Array[Array[Float]],
    passages: java.util.HashMap[String, Array[String]],
    metaRows: java.util.HashMap[String, Map[String, Any]],
    bm25: Option[WarmBm25],
    pq: Option[WarmPq],
    provider: EmbeddingProvider,
    template: String,
    /** Index-directory content fingerprint at load time (see
      * [[WarmIndex.fingerprint]]) — the staleness probe's baseline. */
    val fingerprint: Long) {

  def numClusters: Int = bucketIds.length
  def hasBm25: Boolean = bm25.isDefined
  def hasPq: Boolean = pq.isDefined

  /** Left-to-right dot of the resident float vector at `base` with `qv`. */
  private def dotAt(vecs: Array[Float], base: Int, qv: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < dims) { s += vecs(base + i).toDouble * qv(i); i += 1 }
    s
  }

  /** The buckets a request scans: all of them, or the `nprobe` best
    * centroids by round6(dot) desc, centroid id asc — the ranked-centroid
    * selection of [[Index.searchIvf]] and [[Index.searchPq]], so the
    * probe CHOICE matches the Spark plan's. Bucket positions are in
    * centroid id order. An nprobe below 1 is refused with
    * [[Index.requireNprobe]]'s message, as on the Spark tier. */
  private def probe(qv: Array[Double], nprobe: Int): Seq[Int] = {
    Index.requireNprobe(nprobe)
    if (nprobe >= numClusters || centroids.isEmpty) bucketIds.indices
    else bucketIds.indices.map { c =>
        var s = 0.0
        var i = 0
        val cv = centroids(c)
        while (i < dims) { s += cv(i) * qv(i); i += 1 }
        (c, RoundHalfUp.round(s, 6))
      }.sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1)
  }

  /** Top-k (id, round6(dot)) over the probed buckets — the
    * [[Index.search]] `scored.orderBy.limit` semantics. `allowed` (null
    * = unfiltered) restricts the scan to a filter's surviving ids,
    * mirroring the Spark path's pre-scoring semi-join. */
  private def topVec(qv: Array[Double], k: Int, nprobe: Int,
                     allowed: java.util.HashSet[String] = null): Array[Hit] = {
    val top = new TopK(k)
    probe(qv, nprobe).foreach { c =>
      val ids = bucketIds(c)
      val vecs = bucketVecs(c)
      var r = 0
      while (r < ids.length) {
        if (allowed == null || allowed.contains(ids(r)))
          top.offer(ids(r), RoundHalfUp.round(dotAt(vecs, r * dims, qv), 6))
        r += 1
      }
    }
    top.drain()
  }

  private def embed(query: String): Array[Double] = {
    val qv = provider.embedWithTemplate(Seq(query), template).head
      .map(_.toDouble)
    require(qv.length == dims,
      s"query embedding dims ${qv.length} != index dims $dims")
    qv
  }

  private def resolve(ranked: Array[Hit]): Seq[(String, Double, String, String)] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(ranked.map { h =>
      val p = passages.get(h.id)
      if (p == null) (h.id, h.score, "", "") else (h.id, h.score, p(0), p(1))
    })

  /** Evaluate a metadata-filter AST over the resident flat passage
    * rows (id, text, metadata.*) — the Spark path's pre-scoring
    * semi-join, in-process: a driver loop over <= maxVectors rows, no
    * jobs. Returns the surviving id set. */
  private def allowedIds(node: graft.filter.MetadataFilterDsl.Node): java.util.HashSet[String] = {
    import graft.filter.MetadataFilterDsl
    val out = new java.util.HashSet[String]()
    metaRows.forEach { (id, row) =>
      if (MetadataFilterDsl.eval(node, MetadataFilterDsl.lookupIn(row)))
        out.add(id)
    }
    out
  }

  // Per-filter-string memo of the surviving id set: the snapshot is
  // immutable, so a filter's allowed set never changes for this
  // WarmIndex's lifetime (staleness is handled above it — the server's
  // fingerprint probe swaps the whole WarmIndex on disk drift). Bounded
  // so a crafted stream of distinct filter strings can't grow driver
  // RAM; a full cache just degrades to the per-request scan.
  private val allowedCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashSet[String]]()
  private val allowedCacheMax = 256

  /** Parse a request filter or refuse with [[Index.search]]'s exact
    * contract: a typo'd filter is an error, never silently-unfiltered
    * results. None in = no filter = null allowed-set (scan all). */
  private def allowedFor(filterStr: Option[String]): java.util.HashSet[String] =
    filterStr match {
      case None => null
      case Some(f) =>
        val hit = allowedCache.get(f)
        if (hit != null) hit
        else {
          val node = graft.filter.MetadataFilterDsl.parse(f).getOrElse(
            throw new IllegalArgumentException(
              s"unparseable metadata filter: '$f'"))
          val ids = allowedIds(node)
          if (allowedCache.size < allowedCacheMax) allowedCache.put(f, ids)
          ids
        }
    }

  /** Exact top-k over the probed buckets; `nprobe >= numClusters`
    * (default) scans everything = [[Index.search]] parity. `filterStr`
    * (metadata filter DSL) restricts scoring to matching passages
    * in-process — the reference's interactive filtered path
    * (`src/index/searcher.rs:172-207`) without the Spark job. */
  def search(query: String, topK: Int = 5,
             nprobe: Int = Int.MaxValue,
             filterStr: Option[String] = None): Seq[(String, Double, String, String)] =
    resolve(topVec(embed(query), topK, nprobe, allowedFor(filterStr)))

  /** In-process ANN over the resident PQ tier — the warm analog of
    * [[Index.searchAnn]], stage for stage:
    *
    *   1. probe: the shared ranked-centroid selection ([[probe]]);
    *   2. ADC: one m×k lookup table per request ([[graft.operators.Pq
    *      .adcLut]] — identical arithmetic), then each probed bucket's
    *      codes score as m table lookups summed mi-ascending (the
    *      codegen'd adcScore's left-to-right reduce), round6, top-
    *      `rerank` on (adc desc, id asc) — m ints per vector through
    *      the hot loop instead of dims floats;
    *   3. exact re-rank: true float dots for ONLY the candidates
    *      (their bucket/row indices rode the heap), round6,
    *      (score desc, id asc), top-k.
    *
    * `filterStr` replays searchAnn's post-filter contract: a 5× over-
    * fetch of both topK and rerank, filter applied AFTER the exact
    * re-rank's top-(topK·5) cut (the ANN path can't push predicates;
    * the exact [[search]] pushes them below scoring instead). The one
    * permitted divergence is the searchHybrid ulp caveat: Spark's
    * centroid/ADC sums are aggregation-order-dependent before their
    * round6, so a mismatch needs a true value within ~1 ulp of a
    * rounding boundary. */
  def searchAnn(query: String, topK: Int = 5, nprobe: Int = 4,
                rerank: Int = 50,
                filterStr: Option[String] = None): Seq[(String, Double, String, String)] = {
    val wpq = pq.getOrElse(throw new IllegalStateException(
      "warm ANN needs the persisted PQ layout (pq_codes + pq_codebooks) " +
        "— run ann-build, or serve ANN from the Spark path"))
    val allowed = allowedFor(filterStr)
    val overFetch = if (filterStr.isDefined) 5 else 1
    val qv = embed(query)
    val fetchK = topK * overFetch
    val fetchRerank = rerank * overFetch
    val lut = graft.operators.Pq.adcLut(wpq.cb, qv)
    val m = wpq.cb.m
    // candidates carry (bucket, row) so the re-rank never needs an id
    // lookup structure
    val cands = new TopK(fetchRerank)
    probe(qv, nprobe).foreach { c =>
      val ids = bucketIds(c)
      val codes = wpq.bucketCodes(c)
      var r = 0
      while (r < ids.length) {
        var s = 0.0
        var mi = 0
        val base = r * m
        while (mi < m) { s += lut(mi)(codes(base + mi)); mi += 1 }
        cands.offer(ids(r), RoundHalfUp.round(s, 6), c, r)
        r += 1
      }
    }
    val exact = new TopK(fetchK)
    cands.drain().foreach { h =>
      exact.offer(h.id, RoundHalfUp.round(dotAt(bucketVecs(h.bucket), h.row * dims, qv), 6))
    }
    resolve(exact.drain()
      .filter(h => allowed == null || allowed.contains(h.id))
      .take(topK))
  }

  /** Hybrid (vector + BM25 min-max fusion) in-process — the reference's
    * interactive hybrid path (`src/index/searcher.rs:152-165` +
    * `src/index/bm25.rs:135-170`) with [[Index.search]]'s exact
    * arithmetic: candidates = vector top-fetchK ∪ BM25 top-fetchK
    * (vector score 0 for BM25-only rows — deliberately NOT the true
    * dot, mirroring the plan), vector min/max over the candidate set,
    * BM25 min/max over the WHOLE corpus score vector (absent docs
    * score 0), ranges floored at 1e-6, fused scores rounded to 6,
    * (score desc, id) top-k. The one permitted divergence is
    * summation order inside a doc's multi-term BM25 sum (Spark's
    * aggregate order is plan-dependent; both sides round to 6 after
    * summing, so a mismatch needs a true value within ~1 ulp of a
    * rounding boundary). Requires the persisted bm25 tables —
    * [[hasBm25]]; callers route to the Spark path otherwise. */
  def searchHybrid(query: String, topK: Int = 5, alpha: Double = 0.7,
                   nprobe: Int = Int.MaxValue,
                   filterStr: Option[String] = None): Seq[(String, Double, String, String)] = {
    val b = bm25.getOrElse(throw new IllegalStateException(
      "warm hybrid needs the persisted bm25 tables — index has none"))
    val allowed = allowedFor(filterStr)
    val fetchK = topK * 5
    val vec = topVec(embed(query), fetchK, nprobe, allowed)
    // qn per distinct query term, the tokenizeString grouping
    val qn = graft.functions.TextFunctions.tokenizeString(query)
      .groupBy(identity).view.mapValues(_.size).toSeq
    // per-doc BM25 sum over the query terms' postings (docs absent
    // from every posting list keep score 0 via the bmin/bmax floor).
    // A posting id with no bm25_dl row (inconsistent / partially
    // updated stats tables) is SKIPPED — the Spark path's inner join
    // on dl drops it, so scoring it here (Scala unboxes the missing
    // Long to 0 -> norm 1-B) would silently diverge.
    val acc = new java.util.HashMap[String, Double]()
    qn.foreach { case (term, n) =>
      val dfT = b.df.get(term)
      val posts = b.postings.get(term)
      if (posts != null) {
        val idf = math.log(
          (b.numDocs.toDouble - dfT + 0.5) / (dfT + 0.5) + 1.0)
        posts.foreach { case (id, tf) =>
          if (b.dl.containsKey(id)) {
            val norm = 1.0 - graft.operators.BM25.B +
              graft.operators.BM25.B * (b.dl.get(id).toDouble / b.avgdl)
            val s = n * idf * (tf * (graft.operators.BM25.K1 + 1.0)) /
              (tf + graft.operators.BM25.K1 * norm)
            acc.merge(id, s, (x, y) => x + y)
          }
        }
      }
    }
    // bmAll = every (filter-surviving) passage id, round6(score or 0);
    // bmin/bmax over it — the Spark path computes its BM25 min/max over
    // the FILTERED corpus score vector (bmAll joins filtered passages)
    var bmin = Double.MaxValue
    var bmax = Double.MinValue
    val bscore = new java.util.HashMap[String, Double](passages.size() * 2)
    passages.keySet().forEach { id =>
      if (allowed == null || allowed.contains(id)) {
        val sc = RoundHalfUp.round(acc.getOrDefault(id, 0.0), 6)
        bscore.put(id, sc)
        if (sc < bmin) bmin = sc
        if (sc > bmax) bmax = sc
      }
    }
    // BM25 top-fetchK of the positive scores, (bscore desc, id asc)
    val bheap = new TopK(fetchK)
    bscore.forEach { (id, sc) => if (sc > 0) bheap.offer(id, sc) }
    // candidate union: vector top rows keep their vscore, BM25-only
    // rows enter at 0.0
    val vmap = vec.iterator.map(h => h.id -> h.score).toMap
    val candIds = vmap.keySet ++ bheap.drain().map(_.id)
    if (candIds.isEmpty) return Seq.empty // filter matched nothing
    val vmin = candIds.iterator.map(id => vmap.getOrElse(id, 0.0)).min
    val vmax = candIds.iterator.map(id => vmap.getOrElse(id, 0.0)).max
    val vrange = math.max(vmax - vmin, 1e-6)
    val brange = math.max(bmax - bmin, 1e-6)
    val fused = new TopK(topK)
    candIds.foreach { id =>
      val vs = vmap.getOrElse(id, 0.0)
      val bs = bscore.get(id)
      fused.offer(id, RoundHalfUp.round(alpha * (vs - vmin) / vrange +
        (1.0 - alpha) * (bs - bmin) / brange, 6))
    }
    resolve(fused.drain())
  }
}

object WarmIndex {

  /** The serving tier's one stderr line format, `[warm] <dir>: <message>`,
    * kept ASCII so it reads the same under any default charset. */
  private[serve] def log(dir: String, msg: String): Unit =
    System.err.println(s"[warm] $dir: $msg")

  /** Content fingerprint of an index directory: a 64-bit mix of every
    * file's (relative path, mtime, length), walked recursively in
    * sorted order. A pure stat walk — no reads — so probing it per
    * request is microseconds; any rebuild/update/append touches at
    * least one parquet file or the meta json and moves it. */
  def fingerprint(dir: String): Long = {
    def mix(h: Long, v: Long): Long = {
      val x = (h ^ v) * 0x9e3779b97f4a7c15L
      x ^ (x >>> 32)
    }
    def walk(f: java.io.File, h: Long): Long = {
      val base = mix(mix(h, f.getName.hashCode.toLong), f.lastModified())
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        kids.foldLeft(base)((acc, k) => walk(k, acc))
      } else mix(base, f.length())
    }
    walk(new java.io.File(dir), 0x6c62272e07bb0142L)
  }

  /** Spark Row → nested Map[String, Any] (structs recurse; null values
    * stay null and read as missing through [[MetadataFilterDsl.lookupIn]]). */
  private def rowToMap(r: org.apache.spark.sql.Row): Map[String, Any] =
    r.schema.fields.iterator.zipWithIndex.map { case (f, i) =>
      f.name -> (r.get(i) match {
        case sub: org.apache.spark.sql.Row => rowToMap(sub)
        case other => other
      })
    }.toMap

  /** Load an index's layout into driver memory. Prefers the
    * cluster-partitioned `embeddings_ivf` + `centroids` pair (so
    * `nprobe` prunes buckets exactly as [[Index.searchIvf]]'s
    * partition filter does); a plain `embeddings` table loads as one
    * flat bucket (every search is the exact scan). Refuses loudly
    * above `maxVectors` — the driver-RAM budget is this tier's
    * contract, and silently OOMing a serving driver is worse than
    * falling back to the Spark path. */
  def load(spark: SparkSession, dir: String, provider: EmbeddingProvider,
           maxVectors: Int = 1000000,
           maxPostings: Long = 5000000L): WarmIndex = {
    // fingerprint BEFORE reading: a write racing the load shows as
    // drift on the first post-load probe instead of hiding behind it
    val fp = fingerprint(dir)
    val meta = Index.readMeta(dir)
    val hasIvf = new java.io.File(s"$dir/embeddings_ivf").exists()
    val embPath = if (hasIvf) s"$dir/embeddings_ivf" else s"$dir/embeddings"
    require(new java.io.File(embPath).exists(),
      s"warm serving needs a persisted embeddings table under $dir " +
        "(recompute-on-read indexes stay on the Spark path)")
    val emb = spark.read.parquet(embPath)
    val n = emb.count()
    require(n <= maxVectors,
      s"warm serving tier is driver-RAM-bounded: index has $n vectors > " +
        s"maxVectors $maxVectors — serve it on the Spark path or raise " +
        "the bound against your driver memory deliberately")
    // the Spark path semi-joins embeddings against passages before
    // scoring (Index.search) — mirror it so an id present only in the
    // embeddings table (a partially-updated index) can never surface
    // from the warm scan
    val rows = (if (hasIvf)
        emb.select(col("centroid_id").cast("int"), col("id").cast("string"),
          col("embedding"))
      else
        emb.select(org.apache.spark.sql.functions.lit(0).as("centroid_id"),
          col("id").cast("string"), col("embedding")))
      .join(spark.read.parquet(s"$dir/passages").select(col("id").cast("string")),
        Seq("id"), "left_semi")
      .select("centroid_id", "id", "embedding") // join reordered columns
      .collect()
    require(rows.nonEmpty, s"empty embeddings table under $dir")
    val dims = rows.head.getSeq[Float](2).length
    val byCluster = rows.groupBy(_.getInt(0))
    val clusterIdx = byCluster.keys.toArray.sorted
    val bucketIds = new Array[Array[String]](clusterIdx.length)
    val bucketVecs = new Array[Array[Float]](clusterIdx.length)
    clusterIdx.zipWithIndex.foreach { case (c, pos) =>
      // id-sorted within the bucket: scan order never affects results
      // (the heap tie-breaks), but determinism eases debugging
      val rs = byCluster(c).sortBy(_.getString(1))
      bucketIds(pos) = rs.map(_.getString(1))
      val flat = new Array[Float](rs.length * dims)
      var r = 0
      while (r < rs.length) {
        val v = rs(r).getSeq[Float](2)
        var i = 0
        while (i < dims) { flat(r * dims + i) = v(i); i += 1 }
        r += 1
      }
      bucketVecs(pos) = flat
    }
    // centroid matrix aligned to the bucket order (only meaningful
    // with an IVF layout; flat layouts never rank centroids)
    val centroids: Array[Array[Double]] =
      if (hasIvf && new java.io.File(s"$dir/centroids").exists()) {
        val cm = spark.read.parquet(s"$dir/centroids")
          .select(col("centroid_id").cast("int"), col("pos").cast("int"),
            col("cv").cast("double"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (c, rs) =>
            val v = new Array[Double](dims)
            rs.foreach(r => v(r.getInt(1)) = r.getDouble(2))
            c -> v
          }
        clusterIdx.map(c => cm.getOrElse(c, new Array[Double](dims)))
      } else Array.empty
    // One passages collect feeds BOTH driver maps: (text, source) for
    // result resolution and the flat (id, text, metadata.*) row for the
    // in-process filter evaluator — string instances shared, so the
    // metadata residency costs the metadata, not a second text copy.
    val passages = new java.util.HashMap[String, Array[String]](n.toInt * 2)
    val metaRows = new java.util.HashMap[String, Map[String, Any]](n.toInt * 2)
    spark.read.parquet(s"$dir/passages")
      .select(col("id").cast("string"), col("text"), col("metadata"))
      .collect()
      .foreach { r =>
        val id = r.getString(0)
        val text = r.getString(1)
        val md = r.get(2) match {
          case sub: org.apache.spark.sql.Row => rowToMap(sub)
          case _ => Map.empty[String, Any]
        }
        val src = md.getOrElse("source", null) match {
          case s: String => s
          case _ => null
        }
        passages.put(id, Array(text, src))
        // flat-view field order parity: metadata.* fields, with the
        // outer id/text winning a name collision (Spark's resolve finds
        // the first schema match)
        metaRows.put(id, md ++ Map("id" -> id, "text" -> text))
      }
    // BM25 stats for the warm HYBRID path, when the index persisted
    // them and they fit the driver budget. Over-budget postings mean
    // hybrid requests ROUTE to the Spark path (same results, job
    // latency) rather than failing the whole warm tier — a routing
    // decision, surfaced on stderr, never silent wrong answers.
    val bm25: Option[WarmBm25] =
      if (!new java.io.File(s"$dir/bm25_tf").exists()) None
      else {
        val tfDf = spark.read.parquet(s"$dir/bm25_tf")
        val nPost = tfDf.count()
        if (nPost > maxPostings) {
          log(dir, s"bm25_tf has $nPost postings > maxPostings $maxPostings, " +
            "hybrid requests will use the Spark path")
          None
        } else {
          val posts = new java.util.HashMap[String, Array[(String, Long)]]()
          tfDf.select(col("term"), col("id").cast("string"),
              col("tf").cast("long")).collect()
            .groupBy(_.getString(0))
            .foreach { case (t, rs) =>
              posts.put(t, rs.map(r => (r.getString(1), r.getLong(2))))
            }
          val dl = new java.util.HashMap[String, Long]()
          spark.read.parquet(s"$dir/bm25_dl")
            .select(col("id").cast("string"), col("dl").cast("long"))
            .collect().foreach(r => dl.put(r.getString(0), r.getLong(1)))
          val dfm = new java.util.HashMap[String, Long]()
          spark.read.parquet(s"$dir/bm25_df")
            .select(col("term"), col("df").cast("long"))
            .collect().foreach(r => dfm.put(r.getString(0), r.getLong(1)))
          val g = spark.read.parquet(s"$dir/bm25_g")
            .select(col("num_docs").cast("long"), col("avgdl").cast("double"))
            .head()
          Some(new WarmBm25(posts, dl, dfm, g.getLong(0), g.getDouble(1)))
        }
      }
    // PQ tier for the warm ANN path, when the layout exists and is
    // complete. Codes align row-for-row with the bucket arrays (same
    // id sort); an id missing from pq_codes (a build racing this load,
    // or a tier that died mid-encode) drops the WHOLE warm PQ tier —
    // ANN requests then route to the Spark path, loud on stderr, never
    // a silently partial scan.
    val pq: Option[WarmPq] =
      if (!new java.io.File(s"$dir/pq_codes").exists() ||
          !new java.io.File(s"$dir/pq_codebooks").exists()) None
      else try {
        val cb = Index.loadPqCodebooks(spark, dir)
        val codeMap = new java.util.HashMap[String, Array[Int]](n.toInt * 2)
        spark.read.parquet(s"$dir/pq_codes")
          .select(col("id").cast("string"), col("codes"))
          .collect()
          .foreach(r => codeMap.put(r.getString(0),
            r.getSeq[Int](1).toArray))
        val bucketCodes = new Array[Array[Int]](bucketIds.length)
        var complete = true
        var pos = 0
        while (pos < bucketIds.length && complete) {
          val ids = bucketIds(pos)
          val flat = new Array[Int](ids.length * cb.m)
          var r = 0
          while (r < ids.length && complete) {
            val codes = codeMap.get(ids(r))
            if (codes == null || codes.length != cb.m) complete = false
            else System.arraycopy(codes, 0, flat, r * cb.m, cb.m)
            r += 1
          }
          bucketCodes(pos) = flat
          pos += 1
        }
        if (!complete) {
          log(dir, "pq_codes is missing rows for resident ids, " +
            "ANN requests will use the Spark path")
          None
        } else Some(new WarmPq(cb, bucketCodes))
      } catch {
        case scala.util.control.NonFatal(e) =>
          log(dir, s"PQ tier load failed, ANN stays on the Spark path: ${e.getMessage}")
          None
      }
    new WarmIndex(dims, centroids, bucketIds, bucketVecs, passages,
      metaRows, bm25, pq, provider, meta.queryPromptTemplate, fp)
  }
}

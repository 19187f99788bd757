package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType,
  StructField, StructType}

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.round6
import graft.functions.expressions.RoundHalfUp
import graft.operators.Ckpt.CkptOps
import graft.util.DfCache

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content fingerprint), n-gram Jaccard, MinHash+LSH banding,
  * SimHash, and embedding-cosine near-dup — all as shuffle-conscious
  * plans (no driver-side pairwise loops).
  *
  * Scale design: pairwise similarity is never computed all-vs-all.
  * Jaccard goes through a shingle inverted index (optionally
  * frequency-capped: a shingle appearing in more than `maxShingleDf`
  * docs is boilerplate and is dropped before pairing — the standard
  * guard against quadratic hot-key blowup). MinHash reduces each doc to
  * a constant-size signature, and candidate generation joins on banded
  * signature keys, so the shuffle is O(docs × bands), not O(docs²).
  * Embedding near-dup joins within blocks (label / IVF centroid id) —
  * on a table partitioned by block id this is a co-partitioned join.
  *
  * All hashes derive from md5 (deterministic, engine-portable); Jaccard
  * and cosine are small-integer/Double arithmetic rounded to 6 decimals,
  * so every operator here is DuckDB-oracle-checkable.
  *
  * Codegen working set: Spark caches generated classes by (class
  * loader, code), 100 entries by default, and the driver and the
  * executor threads load each whole-stage or projection body under
  * their own loader, so every distinct body takes two entries. A
  * workload that runs about 50 distinct bodies per pass (the analytics
  * pass of shingle dedup plus the graph loops did) overflows the cache,
  * recompiles nearly every body each pass and re-JITs the result. An
  * operator that runs many small stages over small data should count
  * the bodies it adds; the capped pair counters run as one RDD DAG
  * ([[PairKernel]]) for that reason.
  */
object Dedup {
  /** Release every deferred-release intermediate across the engine
    * (idempotent; call at request boundaries in long-lived sessions —
    * the serving layer drains after every request/tool-call so an
    * endpoint that reaches a dedup operator can't pin corpus-scale
    * cache blocks between requests). */
  def releaseCaches(): Unit = DfCache.releaseAll()

  /** Live deferred-release entries (test/observability hook for the
    * request-boundary drain contract). */
  def heldCount: Int = DfCache.heldCount

  /** Exact duplicate groups keyed by the whitespace/case-insensitive
    * content fingerprint. `n_dups > 1` marks a group to collapse;
    * `keep_id` is the canonical survivor (min id). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(fingerprint(col(textCol)).as("fp"), col(idCol).as("id"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"), min("id").as("keep_id"))

  /** Distinct (id, shingle) pairs — the inverted-index input.
    *
    * The token array is materialized behind a projection boundary before
    * the shingle lambda touches it: inlining `tokens(text)` into the
    * transform would re-evaluate the regex split once per `element_at`
    * reference (measured 4-5x slower at sf0.1). CollapseProject keeps the
    * boundary because the alias is non-cheap and multiply-referenced. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(array_distinct(kgrams(col("toks"), n))).as("sh"))

  /** Shingle-set sizes per doc. */
  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(count(lit(1)).as("sz"))

  /** Intersection counts for a given candidate pair set via two joins
    * against the shingle table — cost scales with |candidates|, never
    * with corpus-wide shingle collisions. */
  private def pairIntersections(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.withColumnRenamed("id", "id_a"), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))

  /** Attach |A|,|B| set sizes to (id_a, id_b, ...) pairs. */
  private def withSizes(inter: DataFrame, sz: DataFrame): DataFrame =
    inter
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")

  /** Thresholded Jaccard from intersection counts and set sizes. */
  private def verifyJaccard(inter: DataFrame, sz: DataFrame, minJ: Double): DataFrame =
    withSizes(inter, sz)
      .select(col("id_a"), col("id_b"),
        round6(col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJ)

  /** The tier of the inverted-index pair counters [[jaccardPairs]],
    * [[containmentPairs]] and [[winnowPairs]], which follows the inputs:
    *  - `cap > 0` with an integral id (Long/Int/Short/Byte), "postings":
    *    [[PairKernel]], one RDD DAG from the docs to the scored pairs.
    *    Posting lists are bounded at cap+1 ids, so boilerplate keys never
    *    materialize theirs, and pairs expand from the lists (O(cap^2) per
    *    key). Ids come out as Long.
    *  - `cap <= 0`, "selfjoin": [[pairCounts]]' key self-join.
    *  - `cap > 0` with any other id type (the CLI's string ids),
    *    "dffilter": keys over the cap leave through a df-count left-anti
    *    join, then the self-join.
    *
    * Id contract, for every tier: any id column type works at any cap,
    * with the same pairs; a null id is dropped; an id on several rows
    * holds the union of their keys, each counted once (set semantics,
    * so no score exceeds 1). */
  private def postingTier(docs: DataFrame, idCol: String, cap: Long, op: String): Boolean = {
    require(cap <= Int.MaxValue,
      s"$op: the df cap must fit in Int (posting lists are cap-bounded in memory): $cap")
    cap > 0 && (docs.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
  }

  /** The DataFrame tiers of [[postingTier]]. Input: an `(id, <key>)`
    * table; null ids are dropped and repeated rows counted once here.
    * Output: `(id_a, id_b, <cnt>)` for every id_a < id_b sharing a
    * retained key, and the per-id retained set sizes `(id, sz)` (lazy —
    * a caller that ignores them pays nothing). `cap > 0` drops keys held
    * by more than `cap` ids from BOTH outputs (boilerplate shingles, the
    * quadratic hot-key corner), so a score built from the two is the
    * consistent one over the retained set (capped intersections over
    * full-set sizes would underestimate). Each tier holds its
    * intermediates under `"<op>.<tier>"` registry keys, so every
    * operator keeps its own slots. */
  private def pairCounts(t0: DataFrame, key: String, cnt: String, cap: Long,
                         op: String): (DataFrame, DataFrame) = {
    val t = t0.where(col("id").isNotNull).distinct()
    def selfJoin(kept: DataFrame): (DataFrame, DataFrame) =
      (kept.select(col(key), col("id").as("id_a"))
        .join(kept.select(col(key), col("id").as("id_b")), key)
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as(cnt)),
        shingleSizes(kept))
    if (cap <= 0) selfJoin(DfCache.holdCached(s"$op.selfjoin", t))
    else {
      val all = DfCache.holdCached(s"$op.selfjoin", t)
      selfJoin(DfCache.holdCached(s"$op.dffilter",
        all.join(all.groupBy(key).agg(count(lit(1)).as("shdf"))
            .filter(col("shdf") > cap).select(key),
          Seq(key), "left_anti")))
    }
  }

  /** Pairs with n-gram Jaccard >= minJ over the docs' shingle sets
    * ([[shingleTable]]), counted by the [[postingTier]] inverted index.
    * `maxShingleDf` drops shingles shared by more than that many docs
    * (0 = keep all) from intersections AND sizes, so the reported value
    * is the consistent Jaccard over retained shingles. Ids and set
    * semantics: see [[postingTier]]. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, minJ: Double, maxShingleDf: Long = 0L): DataFrame =
    if (postingTier(docs, idCol, maxShingleDf, "jaccardPairs"))
      PairKernel.pairs(docs, idCol, textCol, PairKernel.Shingles(n), maxShingleDf.toInt,
        pairSchema(StructField("jaccard", DoubleType))) { (a, b, inter, szA, szB, row) =>
        val j = RoundHalfUp.round(inter.toDouble / (szA + szB - inter).toDouble, 6)
        row.setLong(0, a); row.setLong(1, b); row.setDouble(2, j)
        j >= minJ
      }
    else {
      val (inter, sz) = pairCounts(shingleTable(docs, idCol, textCol, n),
        "sh", "inter", maxShingleDf, "jaccardPairs")
      verifyJaccard(inter, sz, minJ)
    }

  /** `(id_a: Long, id_b: Long, <scores>)`, the posting tier's result
    * schema; the scores' nullability is the DataFrame tiers'. */
  private def pairSchema(scores: StructField*): StructType =
    StructType(Seq(StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false)) ++ scores)

  /** Asymmetric CONTAINMENT pairs: for each candidate pair, c_a =
    * |A∩B| / |A| (the fraction of A's shingles inside B) and the
    * symmetric c_b — kept when either reaches `minC`. Catches the
    * near-SUPERSET duplication [[jaccardPairs]] structurally misses: a
    * long aggregator page swallowing a short doc whole scores
    * jaccard ≈ |B|/|A| → 0 as the wrapper grows, while c_b stays 1.0
    * (the [[sourceOverlap]] asymmetry argument at DOC grain — the
    * contained side is the redundant one). Same shingle grammar,
    * capped-SET semantics and [[postingTier]] tiers as [[jaccardPairs]],
    * but candidate generation must stay inverted-index (NOT MinHash
    * banding: banding approximates JACCARD, and the asymmetric pairs
    * this operator exists for — tiny doc inside a huge wrapper — have
    * jaccard → 0, so banding would structurally miss exactly them). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minC: Double,
                       maxShingleDf: Long = 0L): DataFrame =
    if (postingTier(docs, idCol, maxShingleDf, "containmentPairs"))
      PairKernel.pairs(docs, idCol, textCol, PairKernel.Shingles(n), maxShingleDf.toInt,
        pairSchema(StructField("c_a", DoubleType), StructField("c_b", DoubleType))) {
        (a, b, inter, szA, szB, row) =>
          val ca = RoundHalfUp.round(inter.toDouble / szA.toDouble, 6)
          val cb = RoundHalfUp.round(inter.toDouble / szB.toDouble, 6)
          row.setLong(0, a); row.setLong(1, b); row.setDouble(2, ca); row.setDouble(3, cb)
          math.max(ca, cb) >= minC
      }
    else {
      val (inter, sz) = pairCounts(shingleTable(docs, idCol, textCol, n),
        "sh", "inter", maxShingleDf, "containmentPairs")
      withSizes(inter, sz)
        .select(col("id_a"), col("id_b"),
          round6(col("inter") / col("sz_a")).as("c_a"),
          round6(col("inter") / col("sz_b")).as("c_b"))
        .filter(greatest(col("c_a"), col("c_b")) >= minC)
    }

  /** Wide-form MinHash signatures: one row per id, one `m<s>` column
    * per seed. The family is universal hashing over the shingle's
    * md5-derived base hash: seed s maps h to ((h mod P) * (2s+1) + s +
    * 1) mod P with the Mersenne prime P = 2^31 - 1 — one md5 per
    * shingle (not per shingle x seed), pure integer ops for the family,
    * portable to the SQL oracle. All seed hashes are computed per
    * shingle row and min-aggregated in a single groupBy — no seed cross
    * join, so the shuffle carries |shingles| rows instead of |shingles|
    * x numHashes. */
  private[graft] def minhashSignaturesWide(sh: DataFrame, numHashes: Int): DataFrame = {
    val withH = sh.withColumn("h", md5Hash64(col("sh")))
    val aggs = (0 until numHashes).map { s =>
      min(expr(s"((h % 2147483647) * (2 * $s + 1) + $s + 1) % 2147483647")).as(s"m$s")
    }
    withH.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash LSH band keys `(idOut, band, b_lo, b_hi)`: one row per
    * (doc, band), the key being the band's min/max hash — order-free
    * and engine-portable. Signatures come from the single-pass
    * [[graft.functions.expressions.MinHashSig]] expression, a pure map
    * over the docs scan (zero shuffle; the aggregation formulation,
    * [[minhashSignaturesWide]], stays the parity oracle in DedupSpec);
    * the bands stack via posexplode: |docs| x bands rows, tiny next to
    * the corpus. Docs without a shingle have no signature and no band. */
  private def minhashBands(df: DataFrame, id: String, text: String, idOut: String,
                           n: Int, numHashes: Int, bandSize: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    require(numHashes % bandSize == 0, "numHashes must divide into bands")
    val wide = df.select(col(id).as(idOut),
        GraftColumnBridge.column(graft.functions.expressions.MinHashSig(
          GraftColumnBridge.expression(col(text)), n, numHashes)).as("sig"))
      .filter(col("sig").isNotNull)
    val bandStructs = (0 until numHashes / bandSize).map { b =>
      val cols = (b * bandSize until (b + 1) * bandSize)
        .map(s => element_at(col("sig"), s + 1))
      // least/greatest require >= 2 args; a 1-hash band is its own key
      val (lo, hi) =
        if (cols.size == 1) (cols.head, cols.head)
        else (least(cols: _*), greatest(cols: _*))
      struct(lo.as("b_lo"), hi.as("b_hi"))
    }
    wide.select(col(idOut), posexplode(array(bandStructs: _*)).as(Seq("band", "bs")))
      .select(col(idOut), col("band"), col("bs.b_lo"), col("bs.b_hi"))
  }

  /** MinHash-LSH near-dup detection: banded candidates verified with the
    * true n-gram Jaccard (>= minJ). Verification joins the shingle table
    * against the (small) candidate pair set only — never the all-pairs
    * inverted-index blowup — so the cost is O(candidates x shingles per
    * doc), independent of corpus-wide shingle collisions. `numHashes`
    * must be a multiple of `bandSize`. */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, numHashes: Int, bandSize: Int, minJ: Double): DataFrame = {
    val cands = selfJoinPairs(
      minhashBands(docs, idCol, textCol, "id", n, numHashes, bandSize),
      Seq("band", "b_lo", "b_hi"))
    // deferred-release persist: the shingle table feeds both
    // verification joins and the sizes agg. Distinct, so an id on
    // several rows holds each shingle once (set semantics); hashed by
    // id first, so that one exchange also serves the id_a join and the
    // sizes agg (a bare distinct added an exchange and a job)
    val sh = DfCache.holdCached("minhashDedup.shingles",
      shingleTable(docs, idCol, textCol, n).repartition(col("id")).distinct())
    verifyJaccard(pairIntersections(cands, sh), shingleSizes(sh), minJ)
  }

  /** Cross-SOURCE n-gram containment matrix: for every ordered source
    * pair (A, B), `shared` = |distinct shingles of A ∩ B| and
    * `containment` = shared / |distinct shingles of A| — the
    * provenance/leakage read a mixture designer wants BEFORE weighting
    * sources (a mirror crawl shows up as containment ≈ 1 in both
    * directions; an upstream aggregator of B as high A→B but low B→A —
    * asymmetry is the signal, which is why this is containment, not
    * Jaccard). Source pairs sharing NO shingle produce no row (inner
    * join semantics): absence reads as zero overlap.
    *
    * Scale shape: ONE corpus-scale exchange — the shingle-keyed
    * `collect_set(source)` aggregation. [[shingleTable]] is already
    * per-doc distinct, and the cross-doc dedup happens INSIDE that
    * aggregation (set union is the map-side-combinable partial), so
    * the separate distinct-(source, shingle) exchange a naive
    * formulation would pay first is fused away — measured 10.4 s →
    * one-exchange plan at sf0.1. The per-shingle source-set is bounded
    * by the SOURCE count S (dozens, not corpus-scale); per-source
    * sizes and the pair matrix both derive from the same aggregated
    * table, so Catalyst reuses the one exchange (ReusedExchange) for
    * both consumers; pair expansion is map-side and the final
    * aggregates have at most S² keys. For corpora where even the
    * distinct shingle table is too hot, the sketch path is per-source
    * MinHash signatures ([[sourceOverlapSketch]]) — this exact tier is
    * the oracle anchor. */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String,
                    n: Int = 3, maxSources: Int = 1000): DataFrame = {
    requireFewSources(docs, srcCol, maxSources, "sourceOverlap")
    // deferred-release persist: sizes and pairs both consume this
    // corpus-scale aggregate; without it the post-exchange collect_set
    // runs once PER consumer (ReusedExchange shares only the exchange).
    // Shingles come from shingleTable — its materialized-token
    // projection boundary is load-bearing (an inlined tokens() call
    // re-evaluates the regex split per element_at: the dedup_jaccard
    // 28 s -> 4.1 s lesson in BASELINE.md).
    val bySh = DfCache.holdCached("sourceOverlap.bySh",
      shingleTable(docs.where(col(srcCol).isNotNull && col(textCol).isNotNull),
          srcCol, textCol, n)
        .groupBy("sh").agg(collect_set(col("id")).as("srcs")))
    // |distinct shingles of A| = A's membership count across the
    // per-shingle source sets — no second pass over the corpus
    val sizes = bySh.select(explode(col("srcs")).as("src_a"))
      .groupBy("src_a").agg(count(lit(1)).as("sz"))
    val pairs = bySh
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes, "src_a")
      .select(col("src_a"), col("src_b"), col("shared"),
        round6(col("shared") / col("sz")).as("containment"))
  }

  /** Both overlap tiers assume S is SOURCE-count-sized (dozens to
    * hundreds: per-shingle source sets, S² pair keys, S signature
    * rows). Pointing them at a per-FILE or per-URL column silently
    * turns that into a corpus-scale matrix, so the assumption is
    * enforced loudly — one cheap distinct-count job per call, the CC
    * maxIter stance. */
  private def requireFewSources(docs: DataFrame, srcCol: String,
                                maxSources: Int, op: String): Unit = {
    val nSrc = docs.where(col(srcCol).isNotNull)
      .select(col(srcCol)).distinct().count()
    require(nSrc <= maxSources,
      s"$op is a per-SOURCE matrix (S^2 pairs, per-shingle source sets " +
        s"bounded by S): got $nSrc distinct '$srcCol' values > " +
        s"$maxSources. Aggregate sources first (e.g. path -> domain) " +
        "or raise maxSources deliberately.")
  }

  /** Sketch tier of [[sourceOverlap]]: per-source MinHash signatures →
    * estimated pairwise Jaccard matrix. When even the distinct shingle
    * table is too hot to aggregate exactly, the signature pass shuffles
    * |shingles| rows ONCE into S signature rows (wide form — every seed
    * hash min-aggregated in one groupBy, no seed cross join), and the
    * S×S comparison is a broadcast-sized cross join. Estimates are
    * k/numHashes — DYADIC for power-of-two numHashes, so exactly
    * representable in doubles and engine-portable under the hash gate.
    * Standard MinHash error: |Ĵ − J| ~ sqrt(J(1−J)/numHashes); the
    * hash family is fixed (md5-base + universal family), so the
    * estimate is deterministic, not a random draw per run. Symmetric
    * (Jaccard), so one row per unordered pair (src_a < src_b); the
    * exact tier stays the containment/asymmetry read. */
  def sourceOverlapSketch(docs: DataFrame, textCol: String, srcCol: String,
                          n: Int = 3, numHashes: Int = 64,
                          maxSources: Int = 1000): DataFrame = {
    requireFewSources(docs, srcCol, maxSources, "sourceOverlapSketch")
    val sh = shingleTable(
      docs.where(col(srcCol).isNotNull && col(textCol).isNotNull),
      srcCol, textCol, n)
    val sigs = minhashSignaturesWide(sh, numHashes) // one row per SOURCE
    jaccardEstimates(sigs, numHashes)((a, b) =>
      a.crossJoin(b).filter(col("src_a") < col("src_b")))
  }

  /** `(src_a, src_b, j_est)` over wide signatures: `pairUp` joins the
    * two signature sides (`src_a, a<s>...` and `src_b, b<s>...`) into
    * the pairs to estimate, and j_est = matching seeds / numHashes,
    * rounded to 6. */
  private def jaccardEstimates(sigs: DataFrame, numHashes: Int)(
      pairUp: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    def side(p: String) = sigs.select(col("id").as(s"src_$p") +:
      (0 until numHashes).map(s => col(s"m$s").as(s"$p$s")): _*)
    val matches = (0 until numHashes)
      .map(s => when(col(s"a$s") === col(s"b$s"), 1).otherwise(0))
      .reduce(_ + _)
    pairUp(side("a"), side("b"))
      .select(col("src_a"), col("src_b"),
        round6(matches.cast("double") / numHashes).as("j_est"))
  }

  /** Domain-cardinality overlap tier: [[sourceOverlapSketch]]'s
    * per-source MinHash estimate with the S×S cross join replaced by
    * BANDED candidate generation (the [[minhashDedup]] move applied to
    * source signatures), so it scales past [[requireFewSources]]'s
    * guard to the millions-of-registered-domains regime real mixture
    * weighting runs at — there is deliberately NO maxSources here.
    *
    * Membership is EXACT, not sampled: a pair is emitted iff the two
    * sources agree on EVERY hash of at least one band (the full
    * ordered band as the join key — not the min/max compression
    * [[minhashBands]] uses — so the emitted set is a pure
    * function of the signatures, replayable in SQL), and its `j_est`
    * is bit-identical to the sketch tier's. Banding is the standard
    * recall trade: P[emit] = 1 − (1 − J^bandSize)^numBands (~0.97 at
    * J = 0.5 with 64/8 defaults; 1.0 at J = 1), so high-overlap
    * pairs — the ones that change a mixture decision — survive and
    * the quadratic bulk of near-zero pairs never materializes.
    *
    * Scale shape: the signature pass is the sketch tier's one
    * corpus-scale exchange into S rows; band rows are S × numBands;
    * the candidate join is band-bucket-keyed (mirror families with
    * identical band keys produce their quadratic pairs — that IS the
    * answer, the hammingBandedPairs completeness stance); the final
    * estimate join is two id-keyed joins against the S-row signature
    * table. Nothing S² ever forms. */
  def sourceOverlapBanded(docs: DataFrame, textCol: String, srcCol: String,
                          n: Int = 3, numHashes: Int = 64,
                          bandSize: Int = 8): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must divide into bands")
    val numBands = numHashes / bandSize
    val sh = shingleTable(
      docs.where(col(srcCol).isNotNull && col(textCol).isNotNull),
      srcCol, textCol, n)
    // deferred-release persist: band rows and both estimate sides read
    // the S-row signature table; without it the corpus-scale signature
    // exchange would run once per consumer
    val sigs = DfCache.holdCached("sourceOverlapBanded.sigs",
      minhashSignaturesWide(sh, numHashes))
    val bandStructs = (0 until numBands).map { b =>
      struct((b * bandSize until (b + 1) * bandSize)
        .map(s => col(s"m$s").as(s"k${s - b * bandSize}")): _*)
    }
    val bands = sigs.select(col("id"),
      posexplode(array(bandStructs: _*)).as(Seq("band", "bk")))
    val cands = bands.select(col("id").as("src_a"), col("band"), col("bk"))
      .join(bands.select(col("id").as("src_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("src_a") < col("src_b"))
      .select("src_a", "src_b").distinct()
    jaccardEstimates(sigs, numHashes)((a, b) =>
      cands.join(a, "src_a").join(b, "src_b"))
  }

  /** Fuzzy decontamination: corpus documents NEAR-duplicating an eval/
    * benchmark document (cross-corpus MinHash-LSH + true-Jaccard
    * verify). [[graft.operators.CorpusClean.decontaminate]] catches
    * exact n-gram overlap (the GPT-3 appendix-C pass); this tier
    * catches the paraphrased/truncated/reformatted leakage that exact
    * grams miss — the overlap audit newer model reports run against
    * their pretraining corpora.
    *
    * Plan shape: signatures on BOTH sides are the zero-shuffle
    * [[graft.functions.expressions.MinHashSig]] map; the band join
    * BROADCASTS the bench side (eval suites are MBs against a 100 TB
    * corpus — the corpus never shuffles by band); verification
    * restricts the corpus shingle table to candidate docs with a semi-
    * join before the (broadcast) bench-shingle intersection join, so
    * post-candidate cost is O(candidate docs), not O(corpus).
    *
    * Returns (id_a = corpus doc, id_b = bench doc, jaccard >= minJ). */
  def minhashDecontaminate(corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchId: String, benchText: String,
      n: Int = 3, numHashes: Int = 16, bandSize: Int = 4,
      minJ: Double = 0.5): DataFrame = {
    val cands = minhashBands(corpus, corpusId, corpusText, "id_a", n, numHashes, bandSize)
      .join(broadcast(minhashBands(bench, benchId, benchText, "id_b", n, numHashes, bandSize)),
        Seq("band", "b_lo", "b_hi"))
      .select("id_a", "id_b").distinct()
    // deferred-release persists — see DfCache.holdCached
    val candsC = DfCache.holdCached("minhashDecontaminate.cands", cands)
    // Corpus DOCS restricted to candidate ids BEFORE shingling: the
    // semi-join sits below the explode, so the verification pass
    // tokenizes O(candidate) docs, not O(corpus). (Semi-joining the
    // shingle table instead — the previous formulation — exploded the
    // whole corpus first; Catalyst cannot push a semi-join through a
    // Generate.) The bench shingle table is eval-sized and broadcasts.
    val candDocs = corpus.join(
      candsC.select(col("id_a").as(corpusId)).distinct(), Seq(corpusId), "left_semi")
    val shA = DfCache.holdCached("minhashDecontaminate.shA",
      shingleTable(candDocs, corpusId, corpusText, n))
    val shB = DfCache.holdCached("minhashDecontaminate.shB",
      shingleTable(bench, benchId, benchText, n))
    val inter = candsC
      .join(shA.withColumnRenamed("id", "id_a"), "id_a")
      .join(broadcast(shB.select(col("id").as("id_b"), col("sh"))), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val szA = shA.groupBy("id").agg(count(lit(1)).as("sz"))
    val szB = shB.groupBy("id").agg(count(lit(1)).as("sz"))
    inter
      .join(szA.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(broadcast(szB.select(col("id").as("id_b"), col("sz").as("sz_b"))), "id_b")
      .select(col("id_a"), col("id_b"),
        round6(col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** Distinct (id_a < id_b) pairs sharing any value of the key columns. */
  private def selfJoinPairs(keyed: DataFrame, keys: Seq[String]): DataFrame = {
    val l = keyed.select((keys.map(col) :+ col("id").as("id_a")): _*)
    val r = keyed.select((keys.map(col) :+ col("id").as("id_b")): _*)
    l.join(r, keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** SimHash over the token multiset: 60-bit fingerprint where bit i is
    * set when the tf-weighted sum of (bit i of md5-hash(token)) * 2 - 1
    * is positive. Near-dups = small Hamming distance. Computed by the
    * single-pass [[graft.functions.expressions.SimHash64]] scalar
    * expression (zero shuffle); the SQL-reproducible relational
    * formulation remains the oracle and the DedupSpec parity check. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    // Single-pass scalar expression: fingerprinting is a pure map (zero
    // shuffle at any corpus size). The relational formulation this
    // replaces (explode -> 60x bit-position crossJoin -> three
    // aggregations) lives on in DedupSpec as the parity check and in
    // the DuckDB oracle. Token-less docs are absent (NULL signature),
    // exactly as they are from the relational form.
    import org.apache.spark.sql.GraftColumnBridge
    docs.select(col(idCol).as("id"),
      GraftColumnBridge.column(graft.functions.expressions.SimHash64(
        GraftColumnBridge.expression(col(textCol)), bits)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Connected components over an undirected pair edge list
    * ((id_a, id_b) rows) by iterative min-label propagation with
    * pointer jumping: every node adopts the smallest label among itself
    * and its neighbors, then shortcuts to its label's label (path
    * halving), until fixpoint. The shortcut step cuts convergence from
    * O(diameter) to O(log diameter) rounds — a 1000-hop near-dup chain
    * (a real crawl artifact) converges in ~10 rounds instead of 1000 —
    * at the cost of one extra self-join per round; each round is two
    * joins + one aggregation (no driver-side graph). Returns
    * (id, component) with component = min id of the cluster.
    *
    * Fails loudly (IllegalStateException) if labels have not reached
    * fixpoint within `maxIter` rounds: partially-propagated labels would
    * silently split one cluster into several, and at crawl scale that
    * under-dedup is invisible downstream. With path halving the default
    * 10 rounds covers component diameters up to ~2^10. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    // Convergence probe fused into the round's ONE materialization job:
    // each row carries a `_chg` flag (new label != last round's), and
    // the job that completes the round's checkpoint (Ckpt's
    // `materialize`) returns the count of set flags, so the probe costs
    // no job of its own. A job result comes from one successful attempt
    // per task, so the count is exact under retry and speculation.
    var converged = false
    var i = 0
    try {
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("component").as("nmin"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("component").as("_old"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // Pointer jumping (path halving): adopt the label of the node my
      // label points at. Labels only ever move to labels of nodes in the
      // same component (component always holds a same-component node id),
      // so correctness is unchanged; round count drops to O(log diameter).
      // localCheckpoint, not persist: each round derives from the last,
      // and an un-truncated label lineage grows the analyzed plan per
      // round (the trainMerges driver-OOM pattern) — plus the old code
      // left every round's persisted table in the cache. Checkpointing
      // truncates the plan; superseded rounds' blocks are reclaimed by
      // the ContextCleaner when their references drop. SERIALIZED
      // storage (r15, the kCore heap-cliff lesson): the label state is
      // node-scale, and the default deserialized checkpoint holds each
      // partition as an in-heap object array (~3.5x the serialized
      // bytes) — on a mass-duplicated corpus the node set is the
      // flooded doc count, exactly where dedup runs. Pointer jumping
      // NEEDS the truncation (the self-join doubles lineage per
      // round), so the fix is the storage level, not a persist.
      val (next, changed) = propagated.join(
          propagated.select(col("id").as("component"), col("component").as("jump")),
          Seq("component"), "left")
        .select(col("id"),
          coalesce(col("jump"), col("component")).as("component"),
          (coalesce(col("jump"), col("component")) =!= col("_old")).as("_chg"))
        // materialize (r16): serialized checkpoint + stats re-anchor —
        // this round plan references the previous checkpoint FOUR times
        // (neighbor-min, propagate, both pointer-jump sides), so the
        // inherited size estimate compounds 4x per round; deep peels
        // (maxIter raised for long chains) would hit the BigInteger
        // overflow the 60-cap PPR arm measured. See operators.Ckpt.
        .materialize(col("_chg"))
      labels = next.drop("_chg")
      converged = changed(0) == 0.0
      i += 1
    }
    // finally, not fall-through: an exception mid-loop must not leave
    // the edge table cached for the rest of the session
    } finally { edges.unpersist(); () }
    // Truncated propagation must never return: labels that stopped short
    // of fixpoint look exactly like a valid answer (every id has a
    // component) but split long chains into multiple clusters.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds — " +
        "a component's diameter exceeds ~2^maxIter hops under path " +
        "halving; raise maxIter rather than consuming truncated labels")
    labels
  }

  /** Incremental ("warm-start") connected components: re-resolve
    * duplicate clusters after APPENDING pairs without re-running CC over
    * the historical pair set — the daily-increment mode at corpus scale,
    * where the new crawl's pair table is orders of magnitude smaller
    * than the accumulated one. `init` is a prior (id, component)
    * assignment (this function's own output, or [[connectedComponents]]'s);
    * it enters the propagation as a spanning STAR per prior component
    * (one id -> component edge per row), which has exactly the prior
    * pair set's connectivity classes, so the result is IDENTICAL to a
    * cold run over (prior pairs UNION pairs) — min-id labeling is a pure
    * function of the component's member set. The win is round count:
    * prior components re-collapse at diameter <= 2 regardless of how
    * long the chains that built them were, so convergence tracks the NEW
    * pairs' structure (spec-pinned: a 64-hop chain that throws cold at
    * maxIter=4 confirms warm in 2 rounds from its prior assignment).
    * Prior singletons (id == component rows with no new pair) pass
    * through unchanged — self-loop edges are no-ops in min-label
    * propagation — so the output remains a full assignment over every
    * id ever seen. */
  def connectedComponentsWarm(pairs: DataFrame, init: DataFrame,
                              maxIter: Int = 10): DataFrame =
    connectedComponents(
      pairs.select(col("id_a"), col("id_b")).union(
        init.select(col("id").as("id_a"), col("component").as("id_b"))),
      maxIter)

  /** Cluster resolution keeping the highest-QUALITY member instead of
    * the smallest id: what a real pretraining pipeline wants — when
    * near-duplicates collapse, survive the best-written copy, not the
    * one with the lexicographically smallest key. Compose with any
    * per-doc score ([[CorpusClean.gopherFlags]] rule stats,
    * [[CorpusClean.lmScore]]'s avg_logp).
    *
    * `members`: (id, component) from [[connectedComponents]];
    * `quality`: (idCol, scoreCol) per doc — members without a score
    * lose to any scored member. Winner per component = max (score,
    * ties to the smallest id). One per-component struct-max aggregate
    * (map-side combine, one row per component) + a join back on
    * component — same shuffle shape as the labeling itself.
    */
  def resolveByQuality(members: DataFrame, quality: DataFrame,
                       idCol: String, scoreCol: String): DataFrame = {
    val m = members.join(
        quality.select(col(idCol).as("id"),
          col(scoreCol).cast("double").as("_q")),
        Seq("id"), "left")
      .withColumn("_q", coalesce(col("_q"), lit(Double.MinValue)))
    // max(struct(q, -id)): largest quality, ties -> largest -id = smallest id
    val winners = m
      .groupBy("component")
      .agg(max(struct(col("_q"), (-col("id")).as("_nid"))).as("w"))
      .select(col("component"), (-col("w._nid")).as("winner"))
    m.join(winners, Seq("component"))
      .withColumn("keep", col("id") === col("winner"))
      .drop("_q")
  }

  /** Hamming distance between two simhash columns (popcount of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Banded Hamming near-dup pairs from an already-fingerprinted
    * `(id, <sigCol>)` frame: candidates block on `nBands` segments of
    * `segBits` bits each (pigeonhole: a pair within Hamming distance
    * `nBands - 1` must agree on at least one segment), then the exact
    * popcount-of-xor distance verifies — banded, never quadratic in
    * the JOIN, and the exchanges carry 8-byte signatures only.
    * Complete for `maxDist <= nBands - 1`; callers wanting a larger
    * radius must raise `nBands`. Shared by [[hammingClusters]],
    * [[Multimodal.phashPairs]] (4 x 16-bit segments of a 64-bit image
    * dHash) and [[Multimodal.audioFpPairs]].
    *
    * Skew posture (the r8 BoundedIds lesson applied to the Hamming
    * family): the banded self-join runs over DISTINCT signatures, so a
    * flood of identical fingerprints — byte-identical images, blank
    * pages, boilerplate docs, the common case at crawl scale —
    * collapses to ONE row per band before the join (the groupBy's
    * map-side combine absorbs the hot key) instead of an n^2 candidate
    * bucket. The class-level candidate set is also deduped on 16-byte
    * signature pairs, not id pairs — orders of magnitude smaller under
    * duplication. Class pairs then expand back to id pairs via two
    * sig-keyed joins whose volume is proportional to the TRUE pair
    * output (inherent to the pairs contract; a hot true-dup class is
    * AQE-splittable there, and callers wanting linear output under
    * mass duplication should collapse exact dups first — [[exactGroups]]
    * — exactly as the reference pipelines do). */
  private[graft] def hammingBandedPairs(sig0: DataFrame, sigCol: String,
      segBits: Int, nBands: Int, maxDist: Int): DataFrame = {
    require(maxDist <= nBands - 1,
      s"banding with $nBands segments is only complete for dist <= ${nBands - 1}, got maxDist=$maxDist")
    // Persisted (r16): the signature frame feeds THREE consumers below
    // (the distinct class set and both expansion sides) — unpersisted,
    // an upstream fingerprint EXPRESSION (SimHash tokenize, PHash/
    // AudioFp media decode) re-evaluates per consumer. The cache is two
    // narrow columns (id + 8-byte signature), never the media bytes.
    // Held through the DfCache registry (r17): a bare persist here
    // outlived the query and leaked one pinned signature table per
    // serving request — the registry keys it to this callsite (each
    // call evicts the previous) and releaseCaches() drains it at
    // request boundaries.
    val sig = DfCache.holdCached("hammingBandedPairs.sig",
      sig0.select(col("id"), col(sigCol)))
    val segs = sig.sparkSession.range(nBands).select(col("id").cast("int").as("seg"))
    val mask = (1L << segBits) - 1
    val distinctSigs = sig.select(col(sigCol)).distinct()
    // arithmetic shiftright is safe under the mask even for a negative
    // 64-bit signature (sign-extension bits are masked off)
    val banded = distinctSigs.crossJoin(broadcast(segs))
      .withColumn("segval", expr(s"shiftright($sigCol, seg * $segBits) & $mask"))
    val l = banded.select(col("seg"), col("segval"), col(sigCol).as("sig_a"))
    val r = banded.select(col("seg"), col("segval"), col(sigCol).as("sig_b"))
    // canonical class pair (sig_a <= sig_b); == carries the
    // identical-signature (dist 0) classes
    val classPairs = l.join(r, Seq("seg", "segval"))
      .filter(col("sig_a") <= col("sig_b"))
      .select(col("sig_a"), col("sig_b")).distinct()
      .withColumn("dist", hammingDistance(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= maxDist)
    val a = sig.select(col("id").as("ia"), col(sigCol).as("sig_a"))
    val b = sig.select(col("id").as("ib"), col(sigCol).as("sig_b"))
    // Cross-class pairs appear exactly once in the product (an id has
    // one signature), so least/greatest normalization introduces no
    // duplicates; intra-class products keep one orientation via ia < ib.
    classPairs.join(a, Seq("sig_a")).join(b, Seq("sig_b"))
      .filter(col("sig_a") =!= col("sig_b") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
  }

  /** Hamming near-dup CLUSTERS with linear output under mass
    * duplication — the scale path next to [[hammingBandedPairs]]'s
    * pairs contract. A cluster of m identical fingerprints is m(m-1)/2
    * rows as pairs but m rows as ownership; this formulation never
    * materializes the intra-class pair table:
    *
    *  1. collapse identical signatures to (sig, rep = min id) — one
    *     map-side-combined groupBy, skew-free under any flood;
    *  2. banded pairs + min-label connected components over CLASS REPS
    *     only (one row per distinct signature — graph size is
    *     signature diversity, not corpus size);
    *  3. members join their rep's component back (linear; singleton
    *     classes keep their rep as component).
    *
    * Equivalent to `connectedComponents(hammingBandedPairs(...))` —
    * class members are mutually at distance 0 and connect to exactly
    * the classes their signature is near, so the component sets and
    * min-id labels coincide (pinned by the parity spec). Returns
    * (id, component, keep) with component = min id of the cluster. */
  private[graft] def hammingClusters(sig: DataFrame, sigCol: String,
      segBits: Int, nBands: Int, maxDist: Int, maxIter: Int = 10): DataFrame = {
    // Persisted (r16, the [[hammingBandedPairs]] rationale): `s` feeds
    // the class-rep aggregation AND the membership join-back; the
    // upstream fingerprint expression must not re-decode per consumer.
    // Registry-held (r17) so releaseCaches() covers it — see the
    // hammingBandedPairs note.
    val s = DfCache.holdCached("hammingClusters.s",
      sig.select(col("id"), col(sigCol).as("__sig")))
    val reps = s.groupBy("__sig").agg(min(col("id")).as("rep"))
    val classPairs = hammingBandedPairs(
      reps.select(col("rep").as("id"), col("__sig").as(sigCol)),
      sigCol, segBits, nBands, maxDist)
    val comps = connectedComponents(classPairs.select("id_a", "id_b"), maxIter)
      .withColumnRenamed("id", "rep")
    s.join(reps, Seq("__sig"))
      .join(comps, Seq("rep"), "left")
      .select(col("id"),
        coalesce(col("component"), col("rep")).as("component"))
      .withColumn("keep", col("component") === col("id"))
  }

  /** SimHash near-dup clusters (linear-output ownership; see
    * [[hammingClusters]]): (id, component, keep). */
  def simhashClusters(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int): DataFrame =
    hammingClusters(simhash(docs, idCol, textCol), "simhash",
      segBits = 15, nBands = 4, maxDist = maxDist)

  /** Embedding near-dup pairs via random-hyperplane LSH bucketing:
    * vectors sharing a `bits`-bit sign signature are candidates, then
    * exact cosine verifies. The bucket join replaces the all-pairs
    * product — the LSH analog of [[embeddingTopPairs]]'s explicit
    * blocking column when no cluster assignment exists yet.
    *
    * Duplicate-flood posture (the [[hammingBandedPairs]]
    * distinct-signature stance lifted to raw vectors): identical
    * vectors collapse to one CLASS before the bucket self-join, so a
    * vector with m mirrored copies is bucketed, candidate-paired and
    * cosine-VERIFIED once, not m^2 times; class pairs that pass the
    * threshold expand back to member pairs afterwards, so expansion
    * volume is proportional to the TRUE pair output — inherent to the
    * pairs contract (callers wanting linear output under mass
    * duplication compose with [[connectedComponents]] / [[hammingClusters]]'
    * ownership shape instead). */
  def embeddingLshPairs(emb: DataFrame, idCol: String, vecCol: String,
                        dims: Int, bits: Int, minCosine: Double): DataFrame = {
    val base = emb.select(col(idCol).as("id"),
      VectorFunctions.asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull)
    // identical-vector classes: one map-side-combined groupBy (hot
    // classes absorb in the combiner) + one membership join back — the
    // only vector-carrying exchanges in the plan
    val cls = base.groupBy("v")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("cnt"))
      .withColumn("n", VectorFunctions.l2Norm(col("v")))
      .withColumn("bucket", Knn.signLshKey(col("v"), dims, bits))
    val members = base.join(cls.select("v", "rep"), Seq("v"))
      .select("id", "rep")
    val a = cls.select(col("bucket"), col("rep").as("rep_a"),
      col("v").as("v_a"), col("n").as("n_a"))
    val b = cls.select(col("bucket"), col("rep").as("rep_b"),
      col("v").as("v_b"), col("n").as("n_b"), col("cnt").as("cnt_b"))
    // class pairs: cross (rep_a < rep_b, once per unordered class pair
    // since a class has ONE bucket) + intra (a multi-member class's
    // copies are mutual candidates at the self-cosine)
    val classPairs = a.join(b, "bucket")
      .filter(col("rep_a") < col("rep_b") ||
        (col("rep_a") === col("rep_b") && col("cnt_b") >= 2))
      .select(col("rep_a"), col("rep_b"),
        round6(VectorFunctions.dot(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
    // expand verified class pairs to member pairs: disjoint member sets
    // give each unordered pair exactly once (intra keeps ia < ib)
    classPairs
      .join(members.select(col("rep").as("rep_a"), col("id").as("ia")),
        Seq("rep_a"))
      .join(members.select(col("rep").as("rep_b"), col("id").as("ib")),
        Seq("rep_b"))
      .filter(col("rep_a") =!= col("rep_b") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): embeddings are grouped into
    * clusters (KMeans centroid id in production — the IVF layout's
    * partition column — or any deterministic blocking column for the
    * oracle), and within each cluster a row is marked `is_dup` when an
    * EARLIER member (id order) sits within the cosine threshold `tau`.
    *
    * Survivor policy: pair-dominance by id — deterministic and
    * engine-portable, and strictly at-least-as-aggressive as the
    * paper's keep-one-per-ε-group (every non-first member of a mutually
    * similar group has an earlier τ-neighbor). For exact
    * connected-component survivor semantics compose the pair output of
    * [[embeddingTopPairs]]/[[embeddingLshPairs]] with [[connectedComponents]];
    * at SemDeDup's operating τ (≈0.95+) ε-groups are near-cliques and
    * the two policies coincide.
    *
    * Scale: ONE co-partitioned self-join per cluster block (on a table
    * partitioned by `centroid_id` this shuffles nothing that the layout
    * has not already placed); cluster sizes bound the pair blowup the
    * same way they bound IVF scan cost — rebalance hot clusters rather
    * than pay their quadratic corner. Cosines round to 6 before the
    * threshold compare so the flag is engine-portable. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, tau: Double): DataFrame = {
    // norms hoisted per ROW before the pair join (one dot per pair
    // instead of three — bit-identical: same sequential self-dot, same
    // division shape the oracle replays). The join key is the
    // null-sentinel block form (Knn.blockKey): a NULL cluster must
    // dedup against its fellow null-cluster rows, not silently exempt
    // itself from the equi-join; the OUTPUT cluster column keeps the
    // original value.
    val base = emb.select(col(clusterCol).as("cluster"),
      Knn.blockKey(Some(clusterCol)).as("blk"),
      col(idCol).as("id"), VectorFunctions.asDouble(col(vecCol)).as("v"))
      .withColumn("n", VectorFunctions.l2Norm(col("v")))
    val earlier = base.select(col("blk"), col("id").as("id_b"),
      col("v").as("v_b"), col("n").as("n_b"))
    val dupIds = base.join(earlier, "blk")
      .filter(col("id_b") < col("id"))
      .filter(round6(VectorFunctions.dot(col("v"), col("v_b")) /
        (col("n") * col("n_b"))) >= tau)
      .select("id").distinct()
      .withColumn("is_dup", lit(true))
    base.select("cluster", "id")
      .join(dupIds, Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** The pair-table form of [[semanticDedup]]: same cluster-blocked
    * join, same hoisted norms and 6-decimal rounded cosine, but
    * returning the near-duplicate PAIRS (id_a, id_b, cosine) with
    * id_a < id_b instead of collapsing to the smallest-id survivor —
    * the shape [[connectedComponents]] + [[resolveByQuality]] consume
    * when the survivor policy is quality-keyed rather than
    * smallest-id (the CLI `dedup --method semantic` path). */
  def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, tau: Double): DataFrame = {
    // null-sentinel block key, like semanticDedup: null-cluster rows
    // pair among themselves instead of vanishing from the equi-join
    val base = emb.select(Knn.blockKey(Some(clusterCol)).as("blk"),
      col(idCol).as("id"), VectorFunctions.asDouble(col(vecCol)).as("v"))
      .withColumn("n", VectorFunctions.l2Norm(col("v")))
    val other = base.select(col("blk"), col("id").as("id_b"),
      col("v").as("v_b"), col("n").as("n_b"))
    base.join(other, "blk")
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"),
        round6(VectorFunctions.dot(col("v"), col("v_b")) /
          (col("n") * col("n_b"))).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Winnowing window INSTANCES: one row per full w-window of k-gram
    * hashes, carrying the window's start position (0-based shingle =
    * token index) and its min hash. [[winnowFingerprints]] is the
    * distinct (id, fp) view; [[removeSharedSpans]] needs the positions.
    * Windows never span two input rows, so an id on several rows
    * fingerprints each of its texts on its own. */
  private[graft] def winnowWindows(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    // the token array, then the k-gram hash array, each behind a
    // projection boundary (see kgrams): the window mins slice `h` once
    // per window
    val h = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), transform(kgrams(col("toks"), k), md5Hash64(_)).as("h"))
    // full windows only; guarded like kgrams, since sequence(1, x) with
    // x <= 0 would count down
    val nWin = size(col("h")) - (w - 1)
    val mins = when(nWin >= 1,
      transform(sequence(lit(1), greatest(nWin, lit(1))),
        s => array_min(slice(col("h"), s, lit(w))))
    ).otherwise(array().cast("array<bigint>"))
    h.select(col("id"), posexplode(mins).as(Seq("pos", "fp")))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS algorithm): hash every word k-gram, slide a w-window
    * over the hash sequence, keep each window's minimum. Guarantee:
    * any shared token run of length ≥ w + k - 1 contributes at least
    * one shared fingerprint, while only ~2/(w+1) of the hashes are
    * stored — the local-fingerprint dedup that catches PARTIAL overlap
    * (a quoted paragraph, a copied function) which whole-doc
    * fingerprints miss.
    *
    * Selection keeps the window min VALUE (the paper's rightmost-min
    * position refinement only matters when positions survive into the
    * set; here they don't) — min is associative and engine-portable.
    * Plan: shingle hashes behind a projection boundary, the window
    * minima as an array map over each row (no exchange), distinct. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame =
    winnowWindows(docs, idCol, textCol, k, w).select("id", "fp").distinct()

  /** Cross-document span REMOVAL (the dedup that edits documents
    * instead of dropping them — Lee et al. 2021's "deduplicating
    * training data makes language models better", approximated at
    * winnowing-window granularity): every span whose winnow fingerprint
    * appears in more than one document is removed from every document
    * EXCEPT the one with the smallest id (keep-first). Catches the
    * quoted paragraph / copied license header that whole-doc dedup
    * can't touch without discarding the whole document.
    *
    * Granularity caveat, by design: spans are fingerprint WINDOWS
    * (w+k-1 tokens), so a shared run is removed to within w+k-2 tokens
    * of its true edges, and a window straddling a run edge can take up
    * to w+k-2 unshared tokens with it. Within-doc repetition is NOT
    * removed (ownership counts distinct docs) — that's
    * CorpusClean.repetitionFlags' job.
    *
    * Plan shape: the winnow windows (a map over each row), an
    * fp-keyed ownership aggregate, an fp-keyed join back (LINEAR in
    * window instances — no pair join, so hot boilerplate fps are fine
    * here, unlike winnowPairs), a bounded mark explosion (≤ w+k-1
    * tokens per marked window), and one doc-keyed reassembly. Returns
    * (id, n_tokens, n_kept, text_deduped). */
  def removeSharedSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, w: Int = 4): DataFrame = {
    val span = w + k - 2 // window at pos covers tokens [pos, pos+span]
    // Ownership and mark generation both read the windows. The window
    // table must stay a LAZY persist (measured: localCheckpoint's
    // eager corpus-scale block write runs ~3x this query; recomputing
    // the window pass per branch ~4x) — deferred release via
    // DfCache.holdCached keeps the session cache bounded at one entry.
    val wins = DfCache.holdCached("removeSharedSpans",
      winnowWindows(docs, idCol, textCol, k, w))
    val owners = wins.select("id", "fp").distinct()
      .groupBy("fp")
      .agg(min("id").as("owner"), countDistinct("id").as("nd"))
      .filter(col("nd") >= 2)
      .select("fp", "owner")
    val marks = wins.join(owners, "fp")
      .filter(col("id") =!= col("owner"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(span))).as("tpos"))
      .distinct()
    val toks = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("tpos", "word")))
    toks
      .join(marks.withColumn("_rm", lit(true)), Seq("id", "tpos"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_rm").isNull, 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("_rm").isNull, struct(col("tpos"), col("word"))))),
          s => s.getField("word"))).as("text_deduped"))
  }

  /** Exact line-granular dedup across documents (C4's "discard all but
    * one of any three-sentence span occurring more than once", Raffel
    * et al. 2020 §2.2, at the line unit the crawl actually ships):
    * every line whose trimmed content also occurs elsewhere in the
    * corpus is removed from all documents except its FIRST occurrence
    * in (doc id, line position) order. Complements
    * [[removeSharedSpans]]: this is the exact tier (byte-identical
    * lines only), winnowing is the approximate tier (shared token runs
    * inside differing lines).
    *
    * Lines with fewer than `minWords` whitespace words do not
    * participate (headers, bullets, blank separators are structure, not
    * duplicated prose — removing every second occurrence of "" would
    * shred formatting).
    *
    * Plan shape, LINEAR end-to-end (no pair join, so a boilerplate
    * line in a million docs costs one ownership row joined a million
    * times, never a million² pair table): one posexplode, one
    * line-keyed ownership aggregate (`min(struct(id, pos))` — the
    * first-occurrence rule as a single struct-min, map-side combined),
    * one key join back, one doc-keyed reassembly. Hash key = md5 of the
    * trimmed line, so the shuffle carries 16-byte keys, not line text.
    *
    * Returns (id, n_lines, n_kept, text_deduped). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minWords: Int = 3): DataFrame = {
    val lines = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val keyed = lines.select(col("id"), col("pos"), col("line"),
      (size(filter(split(col("line"), "\\s+"), w => length(w) > 0)) >= minWords)
        .as("participates"),
      md5(trim(col("line"))).as("key"))
    val owners = keyed.filter(col("participates"))
      .groupBy("key")
      .agg(min(struct(col("id"), col("pos"))).as("first"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2) // unique lines never need the join row
      .select(col("key"), col("first.id").as("own_id"), col("first.pos").as("own_pos"))
    keyed
      .join(owners, Seq("key"), "left")
      .withColumn("_rm", col("participates") && col("own_id").isNotNull &&
        !(col("id") === col("own_id") && col("pos") === col("own_pos")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lines"),
        count(when(!col("_rm"), 1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(!col("_rm"), struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text_deduped"))
  }

  /** Pairs sharing at least `minShared` winnow fingerprints — partial-
    * overlap candidates, counted by the [[postingTier]] inverted index
    * over each doc's fingerprint SET ([[winnowFingerprints]]): the
    * shuffle carries posting lists, never the all-pairs product;
    * `maxFpDf > 0` drops fingerprints appearing in more docs than that
    * (boilerplate runs, the quadratic corner). Ids and set semantics:
    * see [[postingTier]]. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, w: Int = 4, minShared: Long = 2,
                  maxFpDf: Int = 0): DataFrame =
    if (postingTier(docs, idCol, maxFpDf, "winnowPairs"))
      PairKernel.pairs(docs, idCol, textCol, PairKernel.Winnow(k, w), maxFpDf,
        pairSchema(StructField("shared", LongType, nullable = false))) {
        (a, b, shared, _, _, row) =>
          row.setLong(0, a); row.setLong(1, b); row.setLong(2, shared)
          shared >= minShared
      }
    else pairCounts(winnowFingerprints(docs, idCol, textCol, k, w),
      "fp", "shared", maxFpDf, "winnowPairs")._1
      .filter(col("shared") >= minShared)

  /** Top-N most-similar embedding pairs within a blocking column (label
    * or IVF centroid id): the scale-safe cosine near-dup report.
    * Requires a numeric (Long-castable) id column: ids are cast to
    * Long for the bounded smallest-ids aggregate.
    *
    * Duplicate-flood posture (see [[embeddingLshPairs]]): identical
    * (block, vector) rows collapse to one CLASS before the block
    * self-join, so pair SCORING is quadratic in a block's distinct
    * vectors, never its row count. The global top-N then resolves at
    * class level first — class pairs ranked by (cosine desc, smallest
    * member pair asc), where a cross pair's smallest member pair is
    * (rep_a, rep_b) (reps ARE the class minima) and an intra pair's is
    * (rep, 2nd-smallest): any class pair ranked above another supplies
    * at least one member pair that outranks all of the other's, so the
    * global top-N only ever draws from the top-N class pairs. Those
    * expand through each class's N+1 smallest member ids (a member pair
    * using any id outside that window is dominated by N+1 smaller
    * pairs) — at most N^3 bounded rows into the final ordered limit,
    * identical output to the id-level formulation. */
  def embeddingTopPairs(emb: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, topN: Int): DataFrame = {
    val base = emb.select(Knn.blockKey(Some(blockCol)).as("blk"),
      col(idCol).cast("long").as("id"),
      VectorFunctions.asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull)
    val cls = base.groupBy("blk", "v")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("cnt"))
      .withColumn("n", VectorFunctions.l2Norm(col("v")))
    // N+1 smallest member ids per class (constant score -> the
    // (score desc, id asc) order collapses to id asc: an exact bounded
    // smallest-ids aggregator; native TopKScored, r16)
    val smallIds = base.join(cls.select("blk", "v", "rep"), Seq("blk", "v"))
      .groupBy(col("rep"))
      .agg(graft.functions.expressions.TopKScored
        .topk(lit(0.0), col("id"), topN + 1).as("top"))
      .select(col("rep"), col("top.id").as("ids"))
    // per-side norm hoist (see semanticDedup): one dot per pair
    val a = cls.select(col("blk"), col("rep").as("rep_a"),
      col("v").as("v_a"), col("n").as("n_a"))
    val b = cls.select(col("blk"), col("rep").as("rep_b"),
      col("v").as("v_b"), col("n").as("n_b"), col("cnt").as("cnt_b"))
    val classPairs = a.join(b, "blk")
      .filter(col("rep_a") < col("rep_b") ||
        (col("rep_a") === col("rep_b") && col("cnt_b") >= 2))
      .select(col("rep_a"), col("rep_b"),
        round6(VectorFunctions.dot(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b"))).as("cosine"))
    // top-N class pairs by (cosine desc, smallest member pair asc)
    val topCls = classPairs
      .join(smallIds.select(col("rep").as("rep_a"), col("ids").as("ids_a")),
        Seq("rep_a"))
      .join(smallIds.select(col("rep").as("rep_b"), col("ids").as("ids_b")),
        Seq("rep_b"))
      .withColumn("tie1", when(col("rep_a") === col("rep_b"),
        element_at(col("ids_a"), 1)).otherwise(col("rep_a")))
      .withColumn("tie2", when(col("rep_a") === col("rep_b"),
        element_at(col("ids_a"), 2)).otherwise(col("rep_b")))
      .orderBy(desc("cosine"), col("tie1"), col("tie2"))
      .limit(topN)
    // expand the <= N selected class pairs (constant-bounded tail) and
    // take the global top-N member pairs
    topCls
      .select(col("cosine"), col("rep_a"), col("rep_b"),
        explode(col("ids_a")).as("ia"), col("ids_b"))
      .select(col("cosine"), col("rep_a"), col("rep_b"), col("ia"),
        explode(col("ids_b")).as("ib"))
      .filter(col("rep_a") =!= col("rep_b") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cosine"))
      .orderBy(desc("cosine"), col("id_a"), col("id_b"))
      .limit(topN)
  }
}

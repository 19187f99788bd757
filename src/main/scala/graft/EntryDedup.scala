package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.MetadataFilterDsl
import graft.operators.{BM25, Dedup, Expansion, Graph, Knn}

/** Dedup + corpus-provenance + multimodal rows.
  *
  * One family slice of the [[SparkEntry]] driver contract (split in
  * r15 so per-round diffs stay reviewable): `queries` entries and
  * their DuckDB `oracle` SQL live side by side; [[SparkEntry]]
  * aggregates the families. Shared fixtures: [[EntryFixtures]];
  * shared oracle CTE builders: [[OracleCtes]]. The determinism
  * rules (DECIMAL money, 6-decimal score rounding before ranking,
  * id tie-breaks, explicit ORDER BY under LIMIT) are documented
  * once on [[SparkEntry]]. */
private[graft] object EntryDedup {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----- dedup operators (training-data pipeline) -----
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("fp").limit(200)
    }),

    "dedup_jaccard" -> ((s, dir) => {
      // maxShingleDf caps the inverted-index fanout: a shingle shared by
      // d docs contributes d^2 join rows, so on a skewed real corpus the
      // hottest shingles dominate the shuffle. The benchmarked query
      // runs WITH the cap on (the 100 TB posture); the oracle computes
      // the same capped-set Jaccard.
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, minJ = 0.5, maxShingleDf = 20)
        .orderBy("id_a", "id_b")
    }),

    // Asymmetric containment pairs — the near-SUPERSET dedup read
    // (wrapper pages swallowing short docs score jaccard -> 0 but
    // containment 1.0 on the contained side); capped-set semantics
    // like dedup_jaccard, min-side normalizer.
    "dedup_containment" -> ((s, dir) => {
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, minC = 0.8, maxShingleDf = 20)
        .orderBy("id_a", "id_b")
    }),

    "dedup_minhash" -> ((s, dir) => {
      Dedup.minhashDedup(Tables.documents(s, dir), "doc_id", "text",
          n = 3, numHashes = 8, bandSize = 2, minJ = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // Dedup-method eval harness: precision/recall/F1 of the banded
    // MinHash tier and the winnowing tier against the capped exact
    // Jaccard ground truth — the dedup ladder's eval_retrieval. The
    // corpus-scale work is the three dedup operators; the metric pass
    // touches only their pair outputs.
    "dedup_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, minJ = 0.5, maxShingleDf = 20)
      val minhash = Dedup.minhashDedup(docs, "doc_id", "text",
        n = 3, numHashes = 8, bandSize = 2, minJ = 0.5)
      val winnow = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 2, maxFpDf = 20)
      graft.operators.Eval.pairMetricsMany(truth,
          Seq("minhash" -> minhash, "winnow" -> winnow))
        .orderBy("method")
    }),

    // Fuzzy decontamination: corpus docs near-duplicating a benchmark
    // doc (cross-corpus MinHash-LSH + true-Jaccard verify; broadcast
    // bench side). The "benchmark" is every 40th doc truncated to 80%
    // of its words — the paraphrased/truncated leakage exact n-gram
    // decontamination misses.
    "decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
      val bench = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("bench_id"),
          array_join(slice(ws, lit(1), ceil(size(ws) * lit(0.8)).cast("int")), " ")
            .as("text"))
      Dedup.minhashDecontaminate(docs, "doc_id", "text",
          bench, "bench_id", "text",
          n = 3, numHashes = 8, bandSize = 2, minJ = 0.3)
        .orderBy("id_a", "id_b")
    }),

    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id").limit(100)
    }),

    // SimHash near-dup CLUSTERS (r15): the linear-output ownership
    // shape (Dedup.simhashClusters = class collapse on identical
    // signatures -> banded Hamming pairs over class reps -> CC ->
    // membership join) over the first 300 documents' NATURAL text at
    // maxDist = 3. The oracle replays the simhash bits, the oracle-
    // tier all-pairs Hamming graph, and resolves components by a
    // RECURSIVE reachability closure (component = min reachable id) —
    // diameter-free, so the replay is exact at any SF without a
    // bounded-rounds assumption (unlike the fixture-diameter phash
    // row); closure size is bounded by true near-dup cluster mass.
    "dedup_simhash_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .orderBy("doc_id").limit(300).select("doc_id", "text")
      Dedup.simhashClusters(docs, "doc_id", "text", maxDist = 3)
        .orderBy("id")
    }),

    // Image near-dup tier: perceptual dHash (PHash64 expression) +
    // the banded Hamming pair join shared with the simhash tier. The
    // media fixture is generated IN the plan from md5 pixel arithmetic
    // (9x8 grayscale PNGs; 25 groups x 8 one-pixel variants), so the
    // oracle can replay the exact pixel values and dHash bit fold in
    // SQL while Spark runs the full encode -> ImageIO decode -> hash
    // path — the lossless round-trip is precisely what's under test.
    "dedup_phash" -> ((s, dir) => {
      import graft.operators.Multimodal
      Multimodal.phashPairs(phashFixtureMedia(s, dir), "id", "content", maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // Linear-output near-dup CLUSTERING over the same phash fixture:
    // identical sigs collapse to class reps, min-label CC runs over
    // class reps only, members join the component back
    // (Dedup.hammingClusters). The oracle replays the fingerprints and
    // the pair graph, then runs EIGHT rounds of min-label propagation
    // in chained CTEs — exact because the fixture's pair graph is
    // SF-independent (first 200 doc_ids + md5 arithmetic) and its
    // cluster diameter is bounded by the 8-variant group size.
    "dedup_phash_clusters" -> ((s, dir) => {
      import graft.operators.Multimodal
      Multimodal.phashClusters(phashFixtureMedia(s, dir), "id", "content", maxDist = 3)
        .orderBy("id")
    }),

    // INCREMENTAL connected components (Dedup.connectedComponentsWarm):
    // the daily-increment dedup mode — prior clusters enter as spanning
    // stars, so only the NEW pairs' structure pays propagation rounds.
    // Fixture (ids = first 200 doc_ids, dense 0..199, blocks of 8):
    // "prior" pairs chain positions 0..6 of each block ((i, i+1) for
    // i%8 <= 5); the "increment" attaches each block's position-7 tail
    // ((i, i+1) for i%8 == 6) and merges even blocks with their
    // successor head-to-head ((i, i+8) for i%16 == 0). Spark runs
    // cold CC over the prior pairs, then the WARM pass over increment +
    // prior assignment; the oracle replays a COLD min-label CC over the
    // full pair union in chained CTEs (9 rounds: merged components span
    // two 8-chains joined at the heads, so eccentricity from the min id
    // is 8) — passing proves warm == cold, the operator's contract.
    "dedup_components_warm" -> ((s, dir) => {
      import graft.operators.Dedup
      val ids = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val prior = ids.filter(col("doc_id") % 8 <= 5)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val tails = ids.filter(col("doc_id") % 8 === 6)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val merges = ids.filter(col("doc_id") % 16 === 0 &&
          col("doc_id") + 8 <= 199)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 8).as("id_b"))
      Dedup.connectedComponentsWarm(
        tails.union(merges), Dedup.connectedComponents(prior))
        .orderBy("id")
    }),

    // Cross-source n-gram containment matrix (Dedup.sourceOverlap):
    // for every ordered source pair, shared distinct 3-gram shingles
    // and the A→B containment ratio — the provenance read before
    // mixture weighting (asymmetric by design: a mirror is ~1 both
    // ways, an aggregator is high one way only). Runs over the full
    // documents table; the oracle rebuilds the same tokenizer +
    // 3-gram shingle sets per source in SQL.
    "corpus_source_overlap" -> ((s, dir) => {
      import graft.operators.Dedup
      Dedup.sourceOverlap(Tables.documents(s, dir), "text", "source")
        .orderBy("src_a", "src_b")
    }),

    // The sketch tier: per-source wide-form MinHash signatures (one
    // groupBy pass, no seed cross join) → pairwise Jaccard estimates.
    // k/64 estimates are dyadic, so Spark and DuckDB agree exactly;
    // the oracle replays the md5-base + universal-hash family per
    // source in its long form (min over seed), which the wide form is
    // spec-pinned to equal.
    "corpus_source_overlap_sketch" -> ((s, dir) => {
      import graft.operators.Dedup
      Dedup.sourceOverlapSketch(Tables.documents(s, dir), "text", "source",
        numHashes = 64)
        .orderBy("src_a", "src_b")
    }),

    // The DOMAIN-CARDINALITY overlap tier under the hash gate: banded
    // per-source-signature candidate generation instead of the S×S
    // cross join (no maxSources guard — the millions-of-domains
    // regime). The fixture doubles the corpus under '__m'-suffixed
    // mirror source names, so identical-signature pairs exist and MUST
    // collide on every band (j_est = 1 rows), while the quadratic bulk
    // of near-zero cross pairs is exactly what banding refuses to
    // materialize. Membership is a pure function of the signatures
    // (full ordered band keys), so the oracle replays emit-or-not
    // exactly — not just the estimates.
    "corpus_source_overlap_banded" -> ((s, dir) => {
      import graft.operators.Dedup
      val d = Tables.documents(s, dir)
      val mirrored = d.unionByName(
        d.withColumn("source", concat(col("source"), lit("__m"))))
      Dedup.sourceOverlapBanded(mirrored, "text", "source",
        numHashes = 64, bandSize = 8)
        .orderBy("src_a", "src_b")
    }),

    // Audio near-dup tier: banded-energy fingerprint (AudioFp64
    // expression, the Haitsma-Kalker sign-of-energy-delta bit rule
    // over time-domain block energies) + the same banded Hamming pair
    // join as phash/simhash. The media fixture is generated IN the
    // plan from md5 sample arithmetic (1296-sample 16-bit PCM WAVs; 25
    // groups x 8 one-sample variants), so the oracle can replay the
    // exact samples, block energies and sign bits in SQL while Spark
    // runs the full WAV encode -> AudioSystem decode -> fingerprint
    // path — the lossless PCM round-trip is precisely what's under
    // test.
    "dedup_audio" -> ((s, dir) => {
      import graft.operators.Multimodal
      Multimodal.audioFpPairs(audioFixtureMedia(s, dir), "id", "content",
          maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // Audio near-dup OWNERSHIP clusters (r15 — the clusters family's
    // last spec-only member): audioFpClusters over the same WAV
    // fixture. The oracle replays the fingerprints + pair graph, then
    // resolves components by the recursive reachability closure (the
    // dedup_simhash_clusters discipline) — diameter-free, exact at
    // any SF without a bounded-rounds assumption.
    "dedup_audio_clusters" -> ((s, dir) => {
      import graft.operators.Multimodal
      Multimodal.audioFpClusters(audioFixtureMedia(s, dir), "id", "content",
          maxDist = 3)
        .orderBy("id")
    }),

    // Video container metadata: the Mp4Meta ISO BMFF box parser behind
    // Multimodal.decode's video arm. Fixture MP4s (ftyp + moov/mvhd +
    // video/audio traks) are generated IN the plan from doc_id + md5
    // arithmetic, so the oracle can recompute the expected metadata
    // (incl. the duration*1000/timescale integer division) in SQL
    // while Spark runs the full box encode -> parse path.
    "multimodal_video" -> ((s, dir) => {
      import graft.operators.{Multimodal, Mp4Meta}
      val mp4Udf = udf((ts: Long, dur: Long, w: Int, h: Int, n: Long, audio: Boolean) =>
        Mp4Meta.minimalMp4(ts, dur, w, h, n, audio))
      val docs = Tables.documents(s, dir).select(col("doc_id"))
        .orderBy("doc_id").limit(200)
      val ts = lit(1000L) + (col("doc_id") % 7) * 250L
      val dur = conv(substring(md5(concat(lit("vd:"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
      val w = (lit(160) + (col("doc_id") % 16) * 16).cast("int")
      val h = (lit(90) + (col("doc_id") % 9) * 30).cast("int")
      val n = conv(substring(md5(concat(lit("vs:"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") % 10000
      val audio = (col("doc_id") % 2) === 0
      val media = docs.select(col("doc_id").as("media_id"),
        lit("video").as("media_type"),
        mp4Udf(ts, dur, w, h, n, audio).as("content"))
      Multimodal.decode(media)
        .select(col("media_id").as("id"), col("decoded"), col("width"),
          col("height"), col("n_frames"), col("duration_ms"))
        .orderBy("id")
    }),

    // Pixel-level resize: exact integer block-average downscale
    // (Multimodal.resizeImages) of the dedup_phash PNG fixture from
    // 9x8 to 3x4, then re-decode and emit every resized gray value —
    // the oracle replays the per-block pixel sums with floor division,
    // so the match proves decode -> block-average -> PNG re-encode ->
    // decode end to end.
    "multimodal_resize" -> ((s, dir) => {
      import graft.operators.Multimodal
      val grayUdf = udf((bytes: Array[Byte]) => {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        (0 until img.getHeight).flatMap(y => (0 until img.getWidth).map(x =>
          img.getRGB(x, y) & 0xff)) // r=g=b for gray fixtures
      })
      Multimodal.resizeImages(phashFixtureMedia(s, dir), "id", "content",
          targetW = 3, targetH = 4)
        .select(col("id"), posexplode(grayUdf(col("resized"))).as(Seq("pos", "v")))
        .orderBy("id", "pos")
    }),

    "dedup_embed" -> ((s, dir) => {
      Dedup.embeddingTopPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", topN = 20)
    }),

    // Winnowing (Schleimer et al. 2003): partial-overlap candidates via
    // shared local fingerprints — sliding-min over k-gram hashes, then
    // the jaccard-style inverted-index join with the hot-key cap on.
    "dedup_winnow" -> ((s, dir) => {
      Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 2, maxFpDf = 20)
        .orderBy(desc("shared"), col("id_a"), col("id_b")).limit(100)
    }),

    // Cross-document span REMOVAL (Lee et al. 2021 at winnow-window
    // granularity): spans whose fingerprint appears in >1 doc are cut
    // from every doc except the smallest-id owner; documents are
    // edited, not dropped.
    "dedup_span_removal" -> ((s, dir) => {
      Dedup.removeSharedSpans(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // SemDeDup (Abbas et al. 2023): per-cluster cosine dedup decision
    // for EVERY row. tau=0.3 exercises both arms on the synthetic
    // embeddings (no true near-dups exist there: max cosine 0.47).
    "dedup_semantic" -> ((s, dir) => {
      Dedup.semanticDedup(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", tau = 0.3)
        .orderBy("id")
    }),

    // Exact line-granular cross-document dedup (C4's repeated-span
    // discard at line granularity): each repeated line survives only at
    // its first (doc, pos) occurrence. Linear plan — ownership agg +
    // key join back, no pair join.
    "dedup_lines" -> ((s, dir) => {
      Dedup.dedupLines(
          Tables.documents(s, dir)
            .select(col("doc_id"), linified(col("text")).as("text")),
          "doc_id", "text", minWords = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Corpus vocabulary profile via the SpaceSaving heavy-hitters
    // Aggregator: capacity-bounded state per task instead of shuffling
    // every distinct term. Capacity (10k) >> this vocabulary, so the
    // summary is EXACT (err=0) and hash-checkable; the approximation
    // regime (eviction, error bounds) is pinned in HeavyHittersSpec.
    "corpus_top_terms" -> ((s, dir) => {
      import s.implicits._
      val hh = new graft.functions.HeavyHitters(capacity = 10000)
      Tables.documents(s, dir)
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .as[String]
        .select(hh.toColumn) // typed select — the Aggregator needs the input encoder
        .toDF("summary")
        .select(explode(col("summary")).as("tc"))
        .select(col("tc.term").as("term"), col("tc.count").as("n"))
        .orderBy(desc("n"), col("term")).limit(50)
    }),

    // Which sources skew the token mix: per-slice unigram KL divergence
    // vs the corpus distribution. One corpus-scale shuffle (the
    // map-side-combined (slice, term) count); all later stages run on
    // aggregated term tables.
    "corpus_divergence" -> ((s, dir) => {
      graft.operators.Profile.tokenDivergence(
        Tables.documents(s, dir), "source", "text")
    }),

    // Test-set decontamination: every 50th doc plays the benchmark set;
    // corpus docs sharing a 5-gram with it are flagged with their
    // overlap count (the anti-join input for a clean training split).
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.CorpusClean.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 5)
        .orderBy("doc_id").limit(500)
    }),

    // Sketch tier: HLL++ distinct + approximate quantiles — constant
    // state per group, no SQL-portable oracle (sketch algorithms differ
    // across engines) → driver records the rows-only check; ProfileSpec
    // bounds the sketches against the exact tier.
    "corpus_profile" -> ((s, dir) => {
      graft.operators.Profile.corpusProfile(Tables.documents(s, dir))
    }),

    // Per-source curation scorecard — the drop-this-source-wholesale
    // decision table (volume, mean length, exact-dup pressure, Gopher
    // pass-rate per source). Flags + fingerprint in one zero-shuffle
    // projection, ONE (source, fp)-keyed corpus exchange, rollup
    // cardinality = sources; no countDistinct (the Expand trap) — the
    // second stage counts distinct fingerprints as plain count(1).
    "corpus_source_scorecard" -> ((s, dir) => {
      graft.operators.Profile.sourceScorecard(Tables.documents(s, dir))
    }),

    // ----- multimodal: binary columns with byte-level stats -----
    "multimodal_stats" -> ((s, dir) => {
      import graft.operators.Multimodal
      Tables.documents(s, dir).select(
        col("doc_id"),
        Multimodal.sizeBytes(col("text").cast("binary")).as("size_bytes"),
        Multimodal.contentDigest(col("text").cast("binary")).as("digest"))
        .orderBy("doc_id").limit(200)
    }),
  )

  def oracle: Map[String, String] = Map(

    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |       count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY fp
        |LIMIT 200""".stripMargin,

    "dedup_jaccard" ->
      // Capped-set semantics (maxShingleDf=20), mirroring jaccardPairs:
      // intersections AND set sizes both come from the retained shingles.
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM tk),
        |dfs AS (SELECT s, count(*) AS shdf FROM sh0 GROUP BY 1),
        |sh AS (SELECT sh0.id, sh0.s FROM sh0 JOIN dfs USING (s) WHERE shdf <= 20),
        |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b USING (s)
        |  WHERE a.id < b.id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT id_a, id_b,
        |         round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        |  FROM pairs
        |  JOIN sz sa ON id_a = sa.id
        |  JOIN sz sb ON id_b = sb.id)
        |SELECT id_a, id_b, jaccard FROM jac
        |WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // The dedup_jaccard recursion with the min-side normalizer: both
    // directional containments, kept when either reaches the floor.
    "dedup_containment" ->
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM tk),
        |dfs AS (SELECT s, count(*) AS shdf FROM sh0 GROUP BY 1),
        |sh AS (SELECT sh0.id, sh0.s FROM sh0 JOIN dfs USING (s) WHERE shdf <= 20),
        |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b USING (s)
        |  WHERE a.id < b.id
        |  GROUP BY 1, 2),
        |cont AS (
        |  SELECT id_a, id_b,
        |         round(inter / sa.sz, 6) AS c_a,
        |         round(inter / sb.sz, 6) AS c_b
        |  FROM pairs
        |  JOIN sz sa ON id_a = sa.id
        |  JOIN sz sb ON id_b = sb.id)
        |SELECT id_a, id_b, c_a, c_b FROM cont
        |WHERE greatest(c_a, c_b) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $shingleCtes,
         |sig AS (
         |  SELECT id, seed,
         |         min(((h % 2147483647) * (2 * seed + 1) + seed + 1) % 2147483647) AS minh
         |  FROM (SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh)
         |  CROSS JOIN range(0, 8) r(seed)
         |  GROUP BY id, seed),
         |bands AS (
         |  SELECT id, seed // 2 AS band, min(minh) AS b_lo, max(minh) AS b_hi
         |  FROM sig GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b USING (band, b_lo, b_hi)
         |  WHERE a.id < b.id)
         |SELECT jac.id_a, jac.id_b, jac.jaccard
         |FROM jac JOIN cand USING (id_a, id_b)
         |WHERE jaccard >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // The three pair generators replayed (capped jaccard = truth,
    // banded minhash with uncapped verify, winnow fingerprint pairs),
    // then scalar-subquery counts per method; f1 computed FROM the
    // rounded precision/recall exactly as pairMetricsMany does.
    // "precision" is quoted — bare, DuckDB reads it as the DOUBLE
    // PRECISION type keyword.
    "dedup_eval" ->
      s"""WITH $shingleCtes,
         |tr AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT p.id_a, p.id_b,
         |           round(p.inter / (sa.sz + sb.sz - p.inter), 6) AS jaccard
         |    FROM (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |          FROM (SELECT sh.id, sh.s FROM sh
         |                JOIN (SELECT s, count(*) AS shdf FROM sh GROUP BY 1) d
         |                  USING (s) WHERE d.shdf <= 20) a
         |          JOIN (SELECT sh.id, sh.s FROM sh
         |                JOIN (SELECT s, count(*) AS shdf FROM sh GROUP BY 1) d
         |                  USING (s) WHERE d.shdf <= 20) b USING (s)
         |          WHERE a.id < b.id GROUP BY 1, 2) p
         |    JOIN (SELECT id, count(*) AS sz FROM
         |            (SELECT sh.id, sh.s FROM sh
         |             JOIN (SELECT s, count(*) AS shdf FROM sh GROUP BY 1) d
         |               USING (s) WHERE d.shdf <= 20)
         |          GROUP BY 1) sa ON p.id_a = sa.id
         |    JOIN (SELECT id, count(*) AS sz FROM
         |            (SELECT sh.id, sh.s FROM sh
         |             JOIN (SELECT s, count(*) AS shdf FROM sh GROUP BY 1) d
         |               USING (s) WHERE d.shdf <= 20)
         |          GROUP BY 1) sb ON p.id_b = sb.id)
         |  WHERE jaccard >= 0.5),
         |sig AS (
         |  SELECT id, seed,
         |         min(((h % 2147483647) * (2 * seed + 1) + seed + 1) % 2147483647) AS minh
         |  FROM (SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh)
         |  CROSS JOIN range(0, 8) r(seed)
         |  GROUP BY id, seed),
         |bands AS (
         |  SELECT id, seed // 2 AS band, min(minh) AS b_lo, max(minh) AS b_hi
         |  FROM sig GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b USING (band, b_lo, b_hi)
         |  WHERE a.id < b.id),
         |mh AS (
         |  SELECT jac.id_a, jac.id_b
         |  FROM jac JOIN cand USING (id_a, id_b)
         |  WHERE jaccard >= 0.5),
         |shp AS (
         |  SELECT id,
         |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         |           i -> struct_pack(pos := i,
         |                  h := CAST(('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)))) AS ph
         |  FROM tk),
         |sh2 AS (SELECT id, ph.pos AS pos, ph.h AS h FROM shp),
         |wmin AS (
         |  SELECT id,
         |         min(h) OVER (PARTITION BY id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |         count(*) OVER (PARTITION BY id ORDER BY pos
         |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
         |  FROM sh2),
         |fps0 AS (SELECT DISTINCT id, fp FROM wmin WHERE wn = 4),
         |dfc AS (SELECT fp, count(*) AS c FROM fps0 GROUP BY 1),
         |fps AS (SELECT fps0.id, fps0.fp FROM fps0 JOIN dfc USING (fp) WHERE c <= 20),
         |wp AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
         |    FROM fps a JOIN fps b USING (fp) WHERE a.id < b.id GROUP BY 1, 2)
         |  WHERE shared >= 2),
         |m AS (
         |  SELECT 'minhash' AS method,
         |         (SELECT count(*) FROM tr) AS n_truth,
         |         (SELECT count(*) FROM mh) AS n_cand,
         |         (SELECT count(*) FROM mh JOIN tr USING (id_a, id_b)) AS n_hit
         |  UNION ALL
         |  SELECT 'winnow',
         |         (SELECT count(*) FROM tr),
         |         (SELECT count(*) FROM wp),
         |         (SELECT count(*) FROM wp JOIN tr USING (id_a, id_b))),
         |pr AS (
         |  SELECT method, n_truth, n_cand, n_hit,
         |         round(CASE WHEN n_cand > 0 THEN n_hit::DOUBLE / n_cand ELSE 0.0 END, 6) AS "precision",
         |         round(CASE WHEN n_truth > 0 THEN n_hit::DOUBLE / n_truth ELSE 0.0 END, 6) AS recall
         |  FROM m)
         |SELECT method, n_truth, n_cand, n_hit, "precision", recall,
         |       round(CASE WHEN "precision" + recall > 0
         |                  THEN 2.0 * "precision" * recall / ("precision" + recall)
         |                  ELSE 0.0 END, 6) AS f1
         |FROM pr
         |ORDER BY method""".stripMargin,

    // Cross-corpus variant of the dedup_minhash machinery: the A side
    // reuses the shared shingle CTEs, the B side rebuilds them over the
    // truncated bench docs (0.8 is forced to DOUBLE — DuckDB would
    // otherwise do exact DECIMAL arithmetic where Spark does IEEE
    // doubles, and ceil could land differently).
    "decontaminate_fuzzy" ->
      s"""WITH $shingleCtes,
         |bench AS (
         |  SELECT doc_id AS bid,
         |         array_to_string(list_slice(ws, 1,
         |           CAST(ceil(len(ws) * 0.8::DOUBLE) AS BIGINT)), ' ') AS text
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS ws
         |        FROM documents WHERE doc_id % 40 = 0)),
         |tkb AS (
         |  SELECT bid,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                     t -> length(t) > 1) AS toks
         |  FROM bench),
         |shb AS (
         |  SELECT DISTINCT bid,
         |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
         |  FROM tkb),
         |siga AS (
         |  SELECT id, seed,
         |         min(((h % 2147483647) * (2 * seed + 1) + seed + 1) % 2147483647) AS minh
         |  FROM (SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh)
         |  CROSS JOIN range(0, 8) r(seed)
         |  GROUP BY id, seed),
         |sigb AS (
         |  SELECT bid, seed,
         |         min(((h % 2147483647) * (2 * seed + 1) + seed + 1) % 2147483647) AS minh
         |  FROM (SELECT bid, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM shb)
         |  CROSS JOIN range(0, 8) r(seed)
         |  GROUP BY bid, seed),
         |bandsa AS (
         |  SELECT id, seed // 2 AS band, min(minh) AS b_lo, max(minh) AS b_hi
         |  FROM siga GROUP BY 1, 2),
         |bandsb AS (
         |  SELECT bid, seed // 2 AS band, min(minh) AS b_lo, max(minh) AS b_hi
         |  FROM sigb GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.bid AS id_b
         |  FROM bandsa a JOIN bandsb b USING (band, b_lo, b_hi)),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh sa ON sa.id = c.id_a
         |  JOIN shb sb ON sb.bid = c.id_b AND sb.s = sa.s
         |  GROUP BY 1, 2),
         |szb AS (SELECT bid, count(*) AS sz FROM shb GROUP BY 1)
         |SELECT i.id_a, i.id_b,
         |       round(i.inter / (sza.sz + szb.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sz sza ON i.id_a = sza.id
         |JOIN szb ON i.id_b = szb.bid
         |WHERE round(i.inter / (sza.sz + szb.sz - i.inter), 6) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            t -> length(t) > 1)) AS term
        |  FROM documents),
        |th AS (
        |  SELECT id, term, count(*) AS f,
        |         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
        |  FROM toks GROUP BY id, term),
        |bits AS (
        |  SELECT id, i, sum(f * (((h >> i) & 1) * 2 - 1)) AS s
        |  FROM th CROSS JOIN range(0, 60) r(i)
        |  GROUP BY 1, 2)
        |SELECT id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits
        |GROUP BY id
        |ORDER BY id
        |LIMIT 100""".stripMargin,

    // dedup_simhash's bit replay over the first 300 docs, the oracle-
    // tier all-pairs Hamming graph at dist <= 3 (banding is complete
    // there, so Spark's banded candidates match), then components via
    // a RECURSIVE reachability closure: walk dedups on UNION, so it
    // runs to the true fixpoint — no fixture-diameter assumption —
    // and component = min reachable id, exactly the min-label CC
    // Spark computes over class reps (class members share their rep's
    // component; the min over reps is the min over members).
    "dedup_simhash_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 300),
        |toks AS (
        |  SELECT doc_id AS id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            t -> length(t) > 1)) AS term
        |  FROM docs),
        |th AS (
        |  SELECT id, term, count(*) AS f,
        |         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
        |  FROM toks GROUP BY id, term),
        |bits AS (
        |  SELECT id, i, sum(f * (((h >> i) & 1) * 2 - 1)) AS s
        |  FROM th CROSS JOIN range(0, 60) r(i)
        |  GROUP BY 1, 2),
        |sh AS (
        |  SELECT id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY id),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |walk(id, reach) AS (
        |  SELECT id, id AS reach FROM sh
        |  UNION
        |  SELECT w.id, e.d AS reach FROM walk w JOIN e ON e.s = w.reach)
        |SELECT id, min(reach) AS component, (min(reach) = id) AS keep
        |FROM walk
        |GROUP BY id
        |ORDER BY id""".stripMargin,

    // Replays dedup_phash's full arithmetic: the fixture pixels (md5
    // values, one perturbed position per group), the dHash bit fold
    // (bit r*8+c set iff the right neighbor of cell (r,c) is brighter)
    // and the Hamming filter. Spark's path additionally round-trips the
    // pixels through PNG encode + ImageIO decode — lossless, so the
    // hashes must agree bit-for-bit. The oracle pair join is the full
    // cross product (200 docs — fine at oracle scale) while Spark's is
    // banded; banding is complete for dist <= 3, so the results match
    // exactly. Bit 63 can't be built as 1<<63 in DuckDB (overflow
    // check); the CASE supplies the min-long constant directly.
    "dedup_phash" ->
      """WITH docs AS (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
        |px AS (
        |  SELECT d.doc_id, t.i,
        |    CASE WHEN t.i = CAST(('0x' || substr(md5('pxpos:' || (d.doc_id % 25)), 1, 4)) AS BIGINT) % 72
        |         THEN (CAST(('0x' || substr(md5('px:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 256
        |               + (d.doc_id // 25) * 37) % 256
        |         ELSE CAST(('0x' || substr(md5('px:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 256
        |    END AS v
        |  FROM docs d CROSS JOIN generate_series(0, 71) t(i)),
        |bits AS (
        |  SELECT a.doc_id, (a.i // 9) * 8 + (a.i % 9) AS k,
        |         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 9 < 8),
        |ph AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN bit = 0 THEN 0
        |                       WHEN k = 63 THEN -9223372036854775807 - 1
        |                       ELSE (1::BIGINT << k) END) AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       bit_count(xor(a.phash, b.phash)) AS dist
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays dedup_phash's fingerprints + pair graph, then resolves
    // connected components by EIGHT rounds of min-label propagation in
    // chained CTEs — exact because the fixture's pair graph is
    // SF-independent (first 200 doc_ids, md5 arithmetic) and cluster
    // diameter is bounded by the 8-variant group size, so the labels
    // are at fixpoint by round 8. Spark runs the class-level CC
    // (hammingClusters); labels coincide because class reps are class
    // minima and the min over reps is the min over members.
    "dedup_phash_clusters" ->
      """WITH docs AS (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
        |px AS (
        |  SELECT d.doc_id, t.i,
        |    CASE WHEN t.i = CAST(('0x' || substr(md5('pxpos:' || (d.doc_id % 25)), 1, 4)) AS BIGINT) % 72
        |         THEN (CAST(('0x' || substr(md5('px:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 256
        |               + (d.doc_id // 25) * 37) % 256
        |         ELSE CAST(('0x' || substr(md5('px:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 256
        |    END AS v
        |  FROM docs d CROSS JOIN generate_series(0, 71) t(i)),
        |bits AS (
        |  SELECT a.doc_id, (a.i // 9) * 8 + (a.i % 9) AS k,
        |         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 9 < 8),
        |ph AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN bit = 0 THEN 0
        |                       WHEN k = 63 THEN -9223372036854775807 - 1
        |                       ELSE (1::BIGINT << k) END) AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |n0 AS (SELECT doc_id AS id, doc_id AS comp FROM ph),
        |n1 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n0 n LEFT JOIN e ON e.s = n.id LEFT JOIN n0 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n2 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n1 n LEFT JOIN e ON e.s = n.id LEFT JOIN n1 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n3 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n2 n LEFT JOIN e ON e.s = n.id LEFT JOIN n2 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n4 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n3 n LEFT JOIN e ON e.s = n.id LEFT JOIN n3 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n5 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n4 n LEFT JOIN e ON e.s = n.id LEFT JOIN n4 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n6 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n5 n LEFT JOIN e ON e.s = n.id LEFT JOIN n5 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n7 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n6 n LEFT JOIN e ON e.s = n.id LEFT JOIN n6 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n8 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n7 n LEFT JOIN e ON e.s = n.id LEFT JOIN n7 m ON m.id = e.d
        |  GROUP BY n.id, n.comp)
        |SELECT id, comp AS component, (comp = id) AS keep
        |FROM n8 ORDER BY id""".stripMargin,

    // COLD replay of the warm-start CC fixture: the full pair union
    // (prior chains + tail attachments + head-to-head block merges)
    // resolved by NINE rounds of min-label propagation — the merged
    // components are two 8-chains joined at the heads, so the farthest
    // member sits 8 hops from the component-min id and labels are at
    // fixpoint by n8 (n9 is margin). Equality against Spark's warm pass
    // is the operator's contract: warm(init, increment) == cold(union).
    "dedup_components_warm" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents ORDER BY doc_id LIMIT 200),
        |p AS (
        |  SELECT id AS id_a, id + 1 AS id_b FROM ids WHERE id % 8 <= 5
        |  UNION ALL
        |  SELECT id, id + 1 FROM ids WHERE id % 8 = 6
        |  UNION ALL
        |  SELECT id, id + 8 FROM ids WHERE id % 16 = 0 AND id + 8 <= 199),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |n0 AS (SELECT DISTINCT s AS id, s AS comp FROM e),
        |n1 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n0 n LEFT JOIN e ON e.s = n.id LEFT JOIN n0 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n2 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n1 n LEFT JOIN e ON e.s = n.id LEFT JOIN n1 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n3 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n2 n LEFT JOIN e ON e.s = n.id LEFT JOIN n2 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n4 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n3 n LEFT JOIN e ON e.s = n.id LEFT JOIN n3 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n5 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n4 n LEFT JOIN e ON e.s = n.id LEFT JOIN n4 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n6 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n5 n LEFT JOIN e ON e.s = n.id LEFT JOIN n5 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n7 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n6 n LEFT JOIN e ON e.s = n.id LEFT JOIN n6 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n8 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n7 n LEFT JOIN e ON e.s = n.id LEFT JOIN n7 m ON m.id = e.d
        |  GROUP BY n.id, n.comp),
        |n9 AS (
        |  SELECT n.id, least(n.comp, coalesce(min(m.comp), n.comp)) AS comp
        |  FROM n8 n LEFT JOIN e ON e.s = n.id LEFT JOIN n8 m ON m.id = e.d
        |  GROUP BY n.id, n.comp)
        |SELECT id, comp AS component FROM n9 ORDER BY id""".stripMargin,

    // Same tokenizer + 3-gram shingle construction as dedup_jaccard's
    // oracle, aggregated per SOURCE instead of per doc; containment =
    // shared / |A| (integer counts; DuckDB's int/int division is
    // float, matching Spark's long/long → double), rounded to 6 like
    // every ratio under the hash gate.
    // Per-source MinHash in long form: one md5-derived base hash per
    // distinct (source, shingle) — duplicates across docs are harmless
    // under min — seeded by the same universal family as dedup_minhash;
    // eq/64.0 is dyadic so round(,6) agrees with Spark bit-for-bit.
    "corpus_source_overlap_sketch" ->
      """WITH tk AS (
        |  SELECT source AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |sh AS (
        |  SELECT DISTINCT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM tk),
        |sig AS (
        |  SELECT id, seed,
        |         min(((h % 2147483647) * (2 * seed + 1) + seed + 1) % 2147483647) AS minh
        |  FROM (SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh)
        |  CROSS JOIN range(0, 64) r(seed)
        |  GROUP BY id, seed),
        |m AS (
        |  SELECT a.id AS src_a, b.id AS src_b,
        |         sum(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS eq
        |  FROM sig a JOIN sig b ON a.seed = b.seed AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, round(eq / 64.0, 6) AS j_est
        |FROM m ORDER BY src_a, src_b""".stripMargin,

    // The banded tier replayed exactly: same long-form signature CTE
    // over the mirror-doubled corpus, band keys = the 8 ordered minh
    // values per (id, seed // 8) group, candidates = pairs agreeing on
    // at least one full band, estimates = the sketch formula on the
    // candidate set only. List equality on the ordered band key is the
    // same predicate Spark's struct join key evaluates.
    "corpus_source_overlap_banded" ->
      """WITH tk AS (
        |  SELECT source AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |  UNION ALL
        |  SELECT source || '__m' AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |sh AS (
        |  SELECT DISTINCT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM tk),
        |sig AS (
        |  SELECT id, seed,
        |         min(((h % 2147483647) * (2 * seed + 1) + seed + 1) % 2147483647) AS minh
        |  FROM (SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh)
        |  CROSS JOIN range(0, 64) r(seed)
        |  GROUP BY id, seed),
        |bk AS (
        |  SELECT id, seed // 8 AS band, list(minh ORDER BY seed) AS key
        |  FROM sig GROUP BY id, seed // 8),
        |cand AS (
        |  SELECT DISTINCT a.id AS src_a, b.id AS src_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
        |                     AND a.id < b.id),
        |m AS (
        |  SELECT a.id AS src_a, b.id AS src_b,
        |         sum(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS eq
        |  FROM sig a JOIN sig b ON a.seed = b.seed AND a.id < b.id
        |  JOIN cand c ON c.src_a = a.id AND c.src_b = b.id
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, round(eq / 64.0, 6) AS j_est
        |FROM m ORDER BY src_a, src_b""".stripMargin,

    "corpus_source_overlap" ->
      """WITH tk AS (
        |  SELECT source,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |sh AS (
        |  SELECT DISTINCT source,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM tk),
        |sz AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
        |  FROM sh a JOIN sh b USING (s)
        |  WHERE a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.shared,
        |       round(p.shared / z.sz, 6) AS containment
        |FROM pairs p JOIN sz z ON z.source = p.src_a
        |ORDER BY p.src_a, p.src_b""".stripMargin,

    // Replays dedup_audio's full arithmetic: the fixture samples (md5
    // values in [-2000, 2000], one perturbed position per group), the
    // 9x9 block energies (n = 1296 is divisible by 81, so the block
    // index is simply i // 16 on both sides), the Haitsma-Kalker sign
    // bits (bit (f-1)*8+b set iff the band-delta grew vs the previous
    // frame) and the Hamming filter. Spark's path additionally
    // round-trips the samples through WAV encode + AudioSystem decode
    // — lossless 16-bit PCM, so the fingerprints must agree
    // bit-for-bit. The oracle pair join is the full cross product (200
    // docs — fine at oracle scale) while Spark's is banded; banding is
    // complete for dist <= 3, so the results match exactly. Bit 63
    // can't be built as 1<<63 in DuckDB (overflow check); the CASE
    // supplies the min-long constant directly.
    "dedup_audio" ->
      """WITH docs AS (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
        |smp AS (
        |  SELECT d.doc_id, t.i,
        |    CASE WHEN t.i = CAST(('0x' || substr(md5('aupos:' || (d.doc_id % 25)), 1, 4)) AS BIGINT) % 1296
        |         THEN (CAST(('0x' || substr(md5('au:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 4001
        |               + (d.doc_id // 25) * 1237) % 4001 - 2000
        |         ELSE CAST(('0x' || substr(md5('au:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 4001 - 2000
        |    END AS s
        |  FROM docs d CROSS JOIN generate_series(0, 1295) t(i)),
        |en AS (
        |  SELECT doc_id, i // 16 AS k, sum(s * s) AS e FROM smp GROUP BY 1, 2),
        |dd AS (
        |  SELECT a.doc_id, a.k // 9 AS f, a.k % 9 AS b, a.e - n.e AS d
        |  FROM en a JOIN en n ON n.doc_id = a.doc_id AND n.k = a.k + 1
        |  WHERE a.k % 9 < 8),
        |bits AS (
        |  SELECT c.doc_id, (c.f - 1) * 8 + c.b AS k,
        |         CASE WHEN c.d > p.d THEN 1 ELSE 0 END AS bit
        |  FROM dd c JOIN dd p ON p.doc_id = c.doc_id AND p.f = c.f - 1 AND p.b = c.b
        |  WHERE c.f >= 1),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN bit = 0 THEN 0
        |                       WHEN k = 63 THEN -9223372036854775807 - 1
        |                       ELSE (1::BIGINT << k) END) AS BIGINT) AS afp
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       bit_count(xor(a.afp, b.afp)) AS dist
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // dedup_audio's fingerprint replay + pair graph, components by the
    // recursive reachability closure (min reachable id — the
    // dedup_simhash_clusters discipline; diameter-free).
    "dedup_audio_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
        |smp AS (
        |  SELECT d.doc_id, t.i,
        |    CASE WHEN t.i = CAST(('0x' || substr(md5('aupos:' || (d.doc_id % 25)), 1, 4)) AS BIGINT) % 1296
        |         THEN (CAST(('0x' || substr(md5('au:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 4001
        |               + (d.doc_id // 25) * 1237) % 4001 - 2000
        |         ELSE CAST(('0x' || substr(md5('au:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 4001 - 2000
        |    END AS s
        |  FROM docs d CROSS JOIN generate_series(0, 1295) t(i)),
        |en AS (
        |  SELECT doc_id, i // 16 AS k, sum(s * s) AS e FROM smp GROUP BY 1, 2),
        |dd AS (
        |  SELECT a.doc_id, a.k // 9 AS f, a.k % 9 AS b, a.e - n.e AS d
        |  FROM en a JOIN en n ON n.doc_id = a.doc_id AND n.k = a.k + 1
        |  WHERE a.k % 9 < 8),
        |bits AS (
        |  SELECT c.doc_id, (c.f - 1) * 8 + c.b AS k,
        |         CASE WHEN c.d > p.d THEN 1 ELSE 0 END AS bit
        |  FROM dd c JOIN dd p ON p.doc_id = c.doc_id AND p.f = c.f - 1 AND p.b = c.b
        |  WHERE c.f >= 1),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN bit = 0 THEN 0
        |                       WHEN k = 63 THEN -9223372036854775807 - 1
        |                       ELSE (1::BIGINT << k) END) AS BIGINT) AS afp
        |  FROM bits GROUP BY doc_id),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.afp, b.afp)) <= 3),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |walk(id, reach) AS (
        |  SELECT doc_id, doc_id AS reach FROM fp
        |  UNION
        |  SELECT w.id, e.d AS reach FROM walk w JOIN e ON e.s = w.reach)
        |SELECT id, min(reach) AS component, (min(reach) = id) AS keep
        |FROM walk
        |GROUP BY id
        |ORDER BY id""".stripMargin,

    // Recomputes multimodal_video's fixture metadata directly: Spark's
    // values went through MP4 box encode + the Mp4Meta parser, so the
    // match proves the container round-trip (incl. 16.16 fixed-point
    // dims and the duration*1000/timescale integer division).
    "multimodal_video" ->
      """WITH docs AS (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200)
        |SELECT doc_id AS id, true AS decoded,
        |       CAST(160 + (doc_id % 16) * 16 AS INT) AS width,
        |       CAST(90 + (doc_id % 9) * 30 AS INT) AS height,
        |       CAST(CAST(('0x' || substr(md5('vs:' || doc_id), 1, 4)) AS BIGINT) % 10000 AS INT) AS n_frames,
        |       CAST(('0x' || substr(md5('vd:' || doc_id), 1, 4)) AS BIGINT) * 1000
        |         // (1000 + (doc_id % 7) * 250) AS duration_ms
        |FROM docs ORDER BY id""".stripMargin,

    // Replays multimodal_resize's block-average arithmetic: the md5
    // fixture pixels grouped into 3x2 blocks (9x8 -> 3x4 has exact
    // integer boundaries), summed and floor-divided per block. Spark's
    // path additionally round-trips through PNG encode -> ImageIO
    // decode -> integer resize -> PNG re-encode -> decode; every step
    // is lossless/exact, so the values match bit-for-bit.
    "multimodal_resize" ->
      """WITH docs AS (
        |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
        |px AS (
        |  SELECT d.doc_id, t.i,
        |    CASE WHEN t.i = CAST(('0x' || substr(md5('pxpos:' || (d.doc_id % 25)), 1, 4)) AS BIGINT) % 72
        |         THEN (CAST(('0x' || substr(md5('px:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 256
        |               + (d.doc_id // 25) * 37) % 256
        |         ELSE CAST(('0x' || substr(md5('px:' || (d.doc_id % 25) || ':' || t.i), 1, 4)) AS BIGINT) % 256
        |    END AS v
        |  FROM docs d CROSS JOIN generate_series(0, 71) t(i)),
        |grp AS (
        |  SELECT doc_id, (i // 9) // 2 AS r, (i % 9) // 3 AS c, v FROM px)
        |SELECT doc_id AS id, CAST(r * 3 + c AS INT) AS pos,
        |       CAST(sum(v) // 6 AS INT) AS v
        |FROM grp GROUP BY doc_id, r, c
        |ORDER BY id, pos""".stripMargin,

    "dedup_embed" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_inner_product(a.v, b.v) /
        |             (sqrt(list_inner_product(a.v, a.v)) *
        |              sqrt(list_inner_product(b.v, b.v))), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b
        |LIMIT 20""".stripMargin,

    "dedup_winnow" ->
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |shp AS (
        |  SELECT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |           i -> struct_pack(pos := i,
        |                  h := CAST(('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)))) AS ph
        |  FROM tk),
        |sh2 AS (SELECT id, ph.pos AS pos, ph.h AS h FROM shp),
        |wmin AS (
        |  SELECT id,
        |         min(h) OVER (PARTITION BY id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |         count(*) OVER (PARTITION BY id ORDER BY pos
        |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM sh2),
        |fps0 AS (SELECT DISTINCT id, fp FROM wmin WHERE wn = 4),
        |dfc AS (SELECT fp, count(*) AS c FROM fps0 GROUP BY 1),
        |fps AS (SELECT fps0.id, fps0.fp FROM fps0 JOIN dfc USING (fp) WHERE c <= 20),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        |      FROM fps a JOIN fps b USING (fp) WHERE a.id < b.id GROUP BY 1, 2)
        |SELECT id_a, id_b, shared FROM p WHERE shared >= 2
        |ORDER BY shared DESC, id_a, id_b
        |LIMIT 100""".stripMargin,

    // The winnow window CTEs with positions kept; ownership = min id
    // among the ≥2 distinct docs carrying the fingerprint; marks =
    // each non-owner window's token span [pos, pos+5] (w+k-2 = 5 at
    // k=3, w=4); string_agg skips NULLed (removed) words.
    "dedup_span_removal" ->
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |shp AS (
        |  SELECT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |           i -> struct_pack(pos := i,
        |                  h := CAST(('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)))) AS ph
        |  FROM tk),
        |sh2 AS (SELECT id, ph.pos AS pos, ph.h AS h FROM shp),
        |wmin AS (
        |  SELECT id, pos,
        |         min(h) OVER (PARTITION BY id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |         count(*) OVER (PARTITION BY id ORDER BY pos
        |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM sh2),
        |wins AS (SELECT id, pos, fp FROM wmin WHERE wn = 4),
        |own AS (
        |  SELECT fp, min(id) AS owner
        |  FROM (SELECT DISTINCT id, fp FROM wins)
        |  GROUP BY fp HAVING count(*) >= 2),
        |marks AS (
        |  SELECT DISTINCT id, tpos FROM (
        |    SELECT w.id, unnest(generate_series(w.pos, w.pos + 5)) AS tpos
        |    FROM wins w JOIN own o USING (fp) WHERE w.id <> o.owner)),
        |toks2 AS (
        |  SELECT id, pos AS tpos, toks[pos] AS word
        |  FROM (SELECT id, toks, unnest(generate_series(1, len(toks))) AS pos
        |        FROM tk)),
        |j AS (
        |  SELECT t.id, t.tpos, t.word, m.tpos IS NOT NULL AS rm
        |  FROM toks2 t LEFT JOIN marks m ON t.id = m.id AND t.tpos = m.tpos)
        |SELECT id AS doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN rm THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rm THEN NULL ELSE word END, ' '
        |                           ORDER BY tpos), '') AS text_deduped
        |FROM j GROUP BY id
        |ORDER BY doc_id""".stripMargin,

    "dedup_semantic" ->
      """WITH e AS (SELECT vec_id, label,
        |                  coalesce(label::VARCHAR, chr(0) || 'null') AS blk,
        |                  embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id, a.label AS cluster,
        |       EXISTS (SELECT 1 FROM e b
        |               WHERE b.blk = a.blk AND b.vec_id < a.vec_id
        |                 AND round(list_inner_product(a.v, b.v) /
        |                       (sqrt(list_inner_product(a.v, a.v)) *
        |                        sqrt(list_inner_product(b.v, b.v))), 6) >= 0.3) AS is_dup
        |FROM e a
        |ORDER BY id""".stripMargin,

    // The per-source scorecard replayed two-level: same Gopher
    // expressions as quality_gopher, fingerprint = the dedup_exact md5,
    // (source, fp) grain first, then the source rollup with distinct
    // texts as count(*) — mirroring the Spark plan's Expand-free shape.
    // Sums of BIGINT cast back from DuckDB's HUGEINT.
    "corpus_source_scorecard" ->
      """WITH base AS (
        |  SELECT source, n_chars, text,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS ws,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT source, n_chars, fp,
        |         CAST(len(ws) AS BIGINT) AS n_words,
        |         round(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)::DOUBLE
        |               / greatest(len(ws), 1)::DOUBLE, 6) AS mean_word_len,
        |         round(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
        |               / greatest(len(ws), 1)::DOUBLE, 6) AS alpha_word_ratio,
        |         round(((length(text) - length(regexp_replace(text, '[#]', '', 'g')))
        |                + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT))::DOUBLE
        |               / greatest(len(ws), 1)::DOUBLE, 6) AS symbol_ratio,
        |         CAST(len(list_filter(toks, t -> t IN %STOP%)) AS BIGINT) AS stop_hits
        |  FROM base),
        |d AS (
        |  SELECT source, fp, n_chars, n_words,
        |         CASE WHEN n_words >= 50 AND n_words <= 100000
        |               AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |               AND alpha_word_ratio >= 0.8 AND symbol_ratio <= 0.1
        |               AND stop_hits >= 2 THEN 1 ELSE 0 END AS pass
        |  FROM m),
        |pf AS (
        |  SELECT source, fp, count(*) AS copies, sum(n_chars) AS chars,
        |         sum(n_words) AS words, sum(pass) AS passed
        |  FROM d GROUP BY 1, 2)
        |SELECT source,
        |       CAST(sum(copies) AS BIGINT) AS docs,
        |       CAST(sum(chars) AS BIGINT) AS total_chars,
        |       round(sum(words)::DOUBLE / sum(copies), 6) AS mean_words,
        |       count(*) AS distinct_texts,
        |       CAST(sum(copies) - count(*) AS BIGINT) AS dup_docs,
        |       round((sum(copies) - count(*))::DOUBLE / sum(copies), 6) AS dup_rate,
        |       round(sum(passed)::DOUBLE / sum(copies), 6) AS gopher_pass_rate
        |FROM pf
        |GROUP BY 1
        |ORDER BY source""".stripMargin.replace("%STOP%", stopList),

    // First-occurrence line dedup: rank occurrences of each line key by
    // (doc, pos); rn > 1 is removed. string_agg skips NULLed lines,
    // mirroring concat_ws.
    "dedup_lines" ->
      s"""WITH $linifiedCtes,
         |ex AS (
         |  SELECT doc_id AS id, pos, lines[pos] AS line
         |  FROM (SELECT doc_id, lines, unnest(generate_series(1, len(lines))) AS pos
         |        FROM lnf)),
         |keyed AS (
         |  SELECT id, pos, line,
         |         len(list_filter(string_split_regex(line, '\\s+'), w -> length(w) > 0)) >= 3 AS participates,
         |         md5(trim(line)) AS key
         |  FROM ex),
         |occ AS (
         |  SELECT id, pos,
         |         row_number() OVER (PARTITION BY key ORDER BY id, pos) AS rn
         |  FROM keyed WHERE participates),
         |j AS (
         |  SELECT k.id, k.pos, k.line, coalesce(o.rn > 1, FALSE) AS rm
         |  FROM keyed k LEFT JOIN occ o ON k.id = o.id AND k.pos = o.pos)
         |SELECT id AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(sum(CASE WHEN rm THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN rm THEN NULL ELSE line END, chr(10) ORDER BY pos), '') AS text_deduped
         |FROM j GROUP BY id
         |ORDER BY doc_id""".stripMargin,

    "corpus_top_terms" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |t AS (SELECT unnest(toks) AS term FROM tk)
        |SELECT term, count(*) AS n
        |FROM t
        |GROUP BY term
        |ORDER BY n DESC, term
        |LIMIT 50""".stripMargin,

    "corpus_divergence" ->
      """WITH toks AS (
        |  SELECT source AS slice,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            t -> length(t) > 1)) AS term
        |  FROM documents),
        |st AS (SELECT slice, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |stot AS (SELECT slice, sum(c_st) AS n_s FROM st GROUP BY 1),
        |ct AS (SELECT term, sum(c_st) AS c_t FROM st GROUP BY 1),
        |g AS (SELECT sum(c_st) AS n_c FROM st)
        |SELECT st.slice, count(*) AS n_terms,
        |       CAST(sum(c_st) AS BIGINT) AS n_tokens,
        |       round(sum((c_st::DOUBLE / n_s) *
        |                 ln((c_st::DOUBLE / n_s) / (c_t::DOUBLE / n_c))), 6) AS kl_vs_corpus
        |FROM st JOIN ct USING (term) JOIN stot USING (slice) CROSS JOIN g
        |GROUP BY st.slice
        |ORDER BY slice""".stripMargin,

    "decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id AS id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT id,
        |         unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
        |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                                    || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
        |  FROM tk),
        |bg AS (SELECT DISTINCT s FROM g WHERE id % 50 = 0)
        |SELECT g.id AS doc_id, count(*) AS n_overlap_grams
        |FROM g JOIN bg ON g.s = bg.s
        |WHERE g.id % 50 <> 0
        |GROUP BY 1
        |ORDER BY doc_id
        |LIMIT 500""".stripMargin,

    "multimodal_stats" ->
      """SELECT doc_id, octet_length(text::BLOB) AS size_bytes, md5(text) AS digest
        |FROM documents
        |ORDER BY doc_id
        |LIMIT 200""".stripMargin,
  )
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.MetadataFilterDsl
import graft.operators.{BM25, Dedup, Expansion, Graph, Knn, Stop}

/** Train-export rows: mixtures, sampling, packing, curriculum, BPE.
  *
  * One family slice of the [[SparkEntry]] driver contract (split in
  * r15 so per-round diffs stay reviewable): `queries` entries and
  * their DuckDB `oracle` SQL live side by side; [[SparkEntry]]
  * aggregates the families. Shared fixtures: [[EntryFixtures]];
  * shared oracle CTE builders: [[OracleCtes]]. The determinism
  * rules (DECIMAL money, 6-decimal score rounding before ranking,
  * id tie-breaks, explicit ORDER BY under LIMIT) are documented
  * once on [[SparkEntry]]. */
private[graft] object EntryExport {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cluster-balanced sampling: exactly 30 embeddings per
    // deterministic k-means cluster (stratifiedSample composed over
    // kmeansAssign) — the topic-balancing draw that keeps a dominant
    // cluster from swamping a training mix. Same composition precedent
    // as tokenize_pack / curriculum_pack.
    "sample_cluster_balanced" -> ((s, dir) => {
      val clusters = graft.operators.Cluster.kmeansAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 4, Stop.Rounds(3))._1
      graft.operators.TrainExport.stratifiedSample(
          clusters, "id", "cluster", n = 30, seed = "r10")
        .select("id", "cluster").orderBy("id")
    }),

    // Curriculum ordering: short-to-long schedule (n_chars as the
    // difficulty score), 3 quantile strata, deterministic md5 shuffle
    // within each stratum, global position from the distributed prefix
    // sum — one range-partition shuffle total.
    "curriculum_order" -> ((s, dir) => {
      graft.operators.TrainExport.curriculumOrder(
          Tables.documents(s, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars", buckets = 3, seed = "curr5")
        .select("doc_id", "n_chars", "bucket", "pos")
        .orderBy("pos")
    }),

    // Curriculum → packing composition: the training-export chain laid
    // out easy-to-hard. packSequences' order key is the curriculum
    // position, so sequence boundaries follow the schedule, not doc id
    // (the tokenize_pack precedent for operator composition). Two
    // range-partition shuffles total (curriculum's + packing's prefix
    // sums); doc_id/bucket ride through packing as passenger columns —
    // no join back, the curriculum computes exactly once.
    "curriculum_pack" -> ((s, dir) => {
      val curr = graft.operators.TrainExport.curriculumOrder(
          Tables.documents(s, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars", buckets = 3, seed = "curr5")
        .select(col("pos"), col("doc_id"), col("bucket"),
          ceil(col("n_chars") / lit(4.0)).cast("long").as("n_tokens"))
      graft.operators.TrainExport.packSequences(
          curr, "pos", "n_tokens", budget = 2048)
        .select("pos", "doc_id", "bucket", "n_tokens", "seq_id", "seq_offset")
        .orderBy("pos")
    }),

    // First BPE iteration's merge candidates: adjacent-char pair
    // weights over the word-frequency table (the corpus is touched
    // once; pair stats run on the aggregated vocab). The iterative
    // trainer (Bpe.trainMerges) is spec-checked; this declarative
    // round-1 is the oracle surface.
    "bpe_pair_stats" -> ((s, dir) => {
      graft.operators.Bpe.pairStats(
          graft.operators.Bpe.wordFreqs(Tables.documents(s, dir), "text"))
        .orderBy(desc("weight"), col("a"), col("b")).limit(50)
    }),

    // Tokenizer APPLY: segment every doc under a fixed merge list (the
    // encode semantics are what's oracle-checked — training is covered
    // by bpe_pair_stats + BpeSpec). Segmentation runs per DISTINCT
    // word; occurrences recover subwords through a word-keyed join.
    "bpe_encode" -> ((s, dir) => {
      graft.operators.Bpe.encodeDocs(
          Tables.documents(s, dir), "doc_id", "text", BpeDemoMerges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          concat_ws(" ", col("tokens")).as("tokens_str"))
        .orderBy("doc_id").limit(500)
    }),

    // Tokenizer FERTILITY per source: tokens per raw character under
    // the fixed merge list — the tokenizer-health read (a source that
    // compresses badly under the vocab is the wrong language/domain
    // for it, or noise); feeds the scorecard -> plan loop when the
    // budget is counted in TOKENS of a specific tokenizer rather than
    // chars. Composes the bpe_encode path with a source rollup.
    "bpe_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val enc = graft.operators.Bpe.encodeDocs(
        docs, "doc_id", "text", BpeDemoMerges)
      enc.join(docs.select(col("doc_id").as("id"), col("source"),
          col("n_chars")), "id")
        .groupBy("source")
        .agg(sum("n_tokens").as("n_tokens"),
          sum("n_chars").as("n_chars"))
        .select(col("source"), col("n_tokens"), col("n_chars"),
          round(col("n_tokens") / col("n_chars"), 6).as("fertility"))
        .orderBy("source")
    }),

    // Token-ID encoding: the trainer-consumable output. Vocab = base
    // chars + one symbol per merge, a pure function of the merge list;
    // the id lookup is a zero-shuffle literal-map transform.
    "bpe_encode_ids" -> ((s, dir) => {
      graft.operators.Bpe.encodeDocsIds(
          Tables.documents(s, dir), "doc_id", "text", BpeDemoMerges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          concat_ws(" ", transform(col("token_ids"), i => i.cast("string")))
            .as("ids_str"))
        .orderBy("doc_id").limit(500)
    }),

    // The tokenize→pack composition: sequence packing over REAL BPE
    // token counts (pack_sequences uses the chars/4 proxy) — encode
    // feeds the distributed prefix sum directly.
    "tokenize_pack" -> ((s, dir) => {
      val enc = graft.operators.Bpe.encodeDocs(
        Tables.documents(s, dir), "doc_id", "text", BpeDemoMerges)
      graft.operators.TrainExport.packSequences(
          enc.select(col("id").as("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = 2048)
        .orderBy("doc_id")
    }),

    // ----- training-data export (TrainExport) -----
    // GPT-style concatenate-and-cut packing over the documents table.
    // The naive SQL is a single-partition window; the operator is the
    // two-pass distributed prefix sum (range partition + tiny
    // partition-sum collect + per-partition running sum), so the oracle
    // checks the scalable formulation against the naive one. Token
    // counts use the chars/4 proxy — tokenization itself is covered by
    // text_metrics.
    "pack_sequences" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("n_tokens"))
      graft.operators.TrainExport.packSequences(
          docs, "doc_id", "n_tokens", budget = 2048)
        .orderBy("doc_id")
    }),

    // Mixture-balanced downsampling: every doc of the rarest lang plus
    // an md5-uniform fraction of the others. One tiny count agg
    // broadcast back; the keep decision is a map-side filter, so the
    // operator has no full shuffle at any corpus size.
    "sample_mixture" -> ((s, dir) => {
      graft.operators.TrainExport.mixtureSample(
          Tables.documents(s, dir), "doc_id", "lang", "mix42")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // Token-budget mixture PLAN (water-filling): per-source
    // allocations at target weights under a total budget, capped
    // sources spilling their quota — the closed-form pivot scan under
    // the hash gate. Weights cycle powers of two over the sorted
    // source list (dyadic raw weights -> exact integer sum -> the
    // normalization divides identically in both engines); budget =
    // half the corpus chars (integer division both sides). The skewed
    // weights force real cascading caps at every SF.
    "mixture_plan" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sources = docs.select("source").where(col("source").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted
      val weights = sources.zipWithIndex
        .map { case (src, i) => src -> (1L << (i % 4)).toDouble }.toMap
      val budget = docs.agg(sum("n_chars")).collect()(0).getLong(0) / 2
      graft.operators.TrainExport.mixturePlan(
        docs, "source", "n_chars", weights, budget)
    }),

    // The epoch knob under the hash gate: full-total budget with
    // maxRate 2.5 makes the heavy-weight sources OVERSUBSCRIBE their
    // supply — capped rows land at rate 2.5 (upsampled epochs), the
    // rest absorb the spill. 2.5 is dyadic, so cap products are exact
    // in both engines.
    "mixture_plan_epochs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sources = docs.select("source").where(col("source").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted
      val weights = sources.zipWithIndex
        .map { case (src, i) => src -> (1L << (i % 4)).toDouble }.toMap
      val budget = docs.agg(sum("n_chars")).collect()(0).getLong(0)
      graft.operators.TrainExport.mixturePlan(
        docs, "source", "n_chars", weights, budget, maxRate = 2.5)
    }),

    // Epoch DRAW composed: floor(rate) full copies per doc plus an
    // md5-fractional extra — the repeat-high-quality-sources recipe
    // materialized, with the copy index as an epoch column.
    "sample_plan_epochs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sources = docs.select("source").where(col("source").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted
      val weights = sources.zipWithIndex
        .map { case (src, i) => src -> (1L << (i % 4)).toDouble }.toMap
      val budget = docs.agg(sum("n_chars")).collect()(0).getLong(0)
      val plan = graft.operators.TrainExport.mixturePlan(
        docs, "source", "n_chars", weights, budget, maxRate = 2.5)
      graft.operators.TrainExport.rateSampleEpochs(
          docs, "doc_id", "source", plan, "epoch42")
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")
    }),

    // Plan -> DRAW composed under the hash gate: the mixture_plan
    // rates applied by rateSample's md5-hex-threshold keep — the
    // training draw a planned recipe actually executes. Capped sources
    // (rate 1) survive whole; the rest thin at their planned rate.
    "sample_plan_draw" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sources = docs.select("source").where(col("source").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted
      val weights = sources.zipWithIndex
        .map { case (src, i) => src -> (1L << (i % 4)).toDouble }.toMap
      val budget = docs.agg(sum("n_chars")).collect()(0).getLong(0) / 2
      val plan = graft.operators.TrainExport.mixturePlan(
        docs, "source", "n_chars", weights, budget)
      graft.operators.TrainExport.rateSample(
          docs, "doc_id", "source", plan, "plan42")
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // Temperature-reweighted mixture (target class mass ∝ n^alpha):
    // alpha=0.5 thins common languages less aggressively than the
    // uniform mixture; same no-full-shuffle plan.
    "sample_mixture_temp" -> ((s, dir) => {
      graft.operators.TrainExport.mixtureSampleTemperature(
          Tables.documents(s, dir), "doc_id", "lang", alpha = 0.5, "t5")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // Fixed-SIZE per-class draw (mixtureSample is the fixed-RATE one):
    // n smallest md5 keys per class via the bounded top-k Aggregator —
    // the exchange carries at most n pairs per (task, class), never a
    // per-class sort of the corpus.
    "sample_stratified" -> ((s, dir) => {
      graft.operators.TrainExport.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang", n = 20, seed = "r5")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // DSIR importance resampling (Xie et al. 2023): weight every doc by
    // the hashed-ngram log-likelihood ratio of an English target slice
    // vs the raw corpus, then draw 100 docs without replacement via
    // Gumbel top-k. Bucket counts aggregate onto 10k-bounded keys; the
    // per-doc rollup is the one doc-keyed shuffle (NB-scoring shape).
    "sample_dsir" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.TrainExport.dsirSample(
          docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text",
          k = 100, seed = "dsir9", buckets = 10000)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Deterministic global shuffle + round-robin sharding: reproducible
    // md5-keyed permutation, global position via the distributed prefix
    // sum (row_number without the single-partition window), shard
    // sizes equal to ±1 by construction.
    "shuffle_export" -> ((s, dir) => {
      graft.operators.TrainExport.deterministicShuffle(
          Tables.documents(s, dir).select("doc_id", "lang"),
          "doc_id", "shuf7", nShards = 8)
        .select("doc_id", "pos", "shard").orderBy("pos")
    }),
  )

  def oracle: Map[String, String] = Map(

    // Cluster-balanced sampling replayed: the full k-means recursion,
    // then the md5-hex-key row_number draw per cluster (the
    // sample_stratified oracle shape).
    "sample_cluster_balanced" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |init AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v
        |         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
        |cent(iter, cluster, c) AS (
        |  SELECT 0, cluster, v FROM init
        |  UNION ALL
        |  SELECT iter + 1, cluster, list(cm ORDER BY pos)
        |  FROM (
        |    SELECT a.iter, a.cluster, p.pos, round(avg(a.v[p.pos]), 6) AS cm
        |    FROM (
        |      SELECT c.iter, e.vec_id, e.v,
        |             min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                    - 2 * list_inner_product(e.v, c.c)
        |                    + list_inner_product(c.c, c.c), 6),
        |                 cl := c.cluster)).cl AS cluster
        |      FROM cent c, e
        |      WHERE c.iter < 3
        |      GROUP BY c.iter, e.vec_id, e.v
        |    ) a, (SELECT unnest(generate_series(1, 64)) AS pos) p
        |    GROUP BY a.iter, a.cluster, p.pos
        |  )
        |  GROUP BY iter, cluster
        |),
        |fin AS (SELECT cluster, c FROM cent WHERE iter = 3),
        |asg AS (
        |  SELECT vec_id AS id, m.cl AS cluster
        |  FROM (
        |    SELECT e.vec_id,
        |           min(struct_pack(d := round(list_inner_product(e.v, e.v)
        |                  - 2 * list_inner_product(e.v, fin.c)
        |                  + list_inner_product(fin.c, fin.c), 6),
        |               cl := fin.cluster)) AS m
        |    FROM e, fin
        |    GROUP BY e.vec_id))
        |SELECT id, cluster FROM (
        |  SELECT id, cluster,
        |         row_number() OVER (
        |           PARTITION BY cluster
        |           ORDER BY substr(md5('r10:' || CAST(id AS VARCHAR)), 1, 8),
        |                    id) AS rn
        |  FROM asg)
        |WHERE rn <= 30
        |ORDER BY id""".stripMargin,

    // quantile_cont == Spark's interpolated percentile (q_percentiles-
    // pinned parity); q literals forced DOUBLE (DuckDB would parse
    // 1.0/3 as DECIMAL); thresholds and scores round to 6 before the
    // bucket CASE; pos replayed as row_number over the same composite
    // (padded bucket, md5 key, id) string key the prefix sum orders by.
    "curriculum_order" ->
      """WITH th AS (
        |  SELECT round(quantile_cont(n_chars, 0.3333333333333333::DOUBLE), 6) AS t1,
        |         round(quantile_cont(n_chars, 0.6666666666666666::DOUBLE), 6) AS t2
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars,
        |         CAST(CASE WHEN round(n_chars::DOUBLE, 6) > t2 THEN 2
        |                   WHEN round(n_chars::DOUBLE, 6) > t1 THEN 1
        |                   ELSE 0 END AS INT) AS bucket
        |  FROM documents, th),
        |k AS (
        |  SELECT doc_id, n_chars, bucket,
        |         lpad(bucket::VARCHAR, 4, '0') || ':' ||
        |         lower(substr(md5('curr5:' || doc_id), 1, 8)) || ':' || doc_id AS ck
        |  FROM b)
        |SELECT doc_id, n_chars, bucket,
        |       CAST(row_number() OVER (ORDER BY ck) AS BIGINT) AS pos
        |FROM k
        |ORDER BY pos""".stripMargin,

    // The curriculum_order CTEs + the pack_sequences cumsum, with the
    // window ordered by curriculum position instead of doc id.
    "curriculum_pack" ->
      """WITH th AS (
        |  SELECT round(quantile_cont(n_chars, 0.3333333333333333::DOUBLE), 6) AS t1,
        |         round(quantile_cont(n_chars, 0.6666666666666666::DOUBLE), 6) AS t2
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars,
        |         CAST(CASE WHEN round(n_chars::DOUBLE, 6) > t2 THEN 2
        |                   WHEN round(n_chars::DOUBLE, 6) > t1 THEN 1
        |                   ELSE 0 END AS INT) AS bucket
        |  FROM documents, th),
        |k AS (
        |  SELECT doc_id, n_chars, bucket,
        |         lpad(bucket::VARCHAR, 4, '0') || ':' ||
        |         lower(substr(md5('curr5:' || doc_id), 1, 8)) || ':' || doc_id AS ck
        |  FROM b),
        |o AS (
        |  SELECT doc_id, n_chars, bucket,
        |         CAST(row_number() OVER (ORDER BY ck) AS BIGINT) AS pos
        |  FROM k),
        |t AS (
        |  SELECT pos, doc_id, bucket,
        |         CAST(CEIL(n_chars / 4.0) AS BIGINT) AS n_tokens
        |  FROM o),
        |c AS (
        |  SELECT pos, doc_id, bucket, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT pos, doc_id, bucket, n_tokens,
        |       CAST(FLOOR(tok_start / 2048.0) AS BIGINT) AS seq_id,
        |       tok_start % 2048 AS seq_offset
        |FROM c
        |ORDER BY pos""".stripMargin,

    "bpe_pair_stats" ->
      """WITH w AS (
        |  SELECT term AS word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                              t -> length(t) > 1)) AS term
        |    FROM documents)
        |  GROUP BY 1),
        |p AS (
        |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, freq
        |  FROM (SELECT word, freq,
        |               unnest(generate_series(1, length(word) - 1)) AS i
        |        FROM w))
        |SELECT a, b, CAST(sum(freq) AS BIGINT) AS weight
        |FROM p GROUP BY 1, 2
        |ORDER BY weight DESC, a, b
        |LIMIT 50""".stripMargin,

    // Segmentation replayed per distinct word via boundary-anchored
    // replace chains (see bpeEncodeExpr); docs reassemble in position
    // order.
    "bpe_encode" ->
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> length(t) > 1) AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, pos, toks[pos] AS word
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS pos
        |        FROM tk)),
        |v AS (SELECT DISTINCT word FROM w),
        |seg AS (
        |  SELECT word, string_split(trim($bpeEncodeExpr, '_'), '__') AS subw
        |  FROM v)
        |SELECT w.doc_id,
        |       CAST(sum(len(subw)) AS BIGINT) AS n_tokens,
        |       string_agg(array_to_string(subw, ' '), ' ' ORDER BY pos) AS tokens_str
        |FROM w JOIN seg USING (word)
        |GROUP BY 1
        |ORDER BY doc_id
        |LIMIT 500""".stripMargin,

    // The bpe_encode replay rolled up per source (tokens / raw chars;
    // docs with zero valid tokens drop via the inner join on both
    // engines — the encode path never emits them).
    "bpe_fertility" ->
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> length(t) > 1) AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, pos, toks[pos] AS word
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS pos
        |        FROM tk)),
        |v AS (SELECT DISTINCT word FROM w),
        |seg AS (
        |  SELECT word, string_split(trim($bpeEncodeExpr, '_'), '__') AS subw
        |  FROM v),
        |doc_tok AS (
        |  SELECT w.doc_id, sum(len(subw)) AS n_tokens
        |  FROM w JOIN seg USING (word)
        |  GROUP BY 1)
        |SELECT d.source,
        |       CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
        |       sum(d.n_chars)::BIGINT AS n_chars,
        |       round(sum(t.n_tokens) / sum(d.n_chars), 6) AS fertility
        |FROM documents d JOIN doc_tok t USING (doc_id)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // bpe_encode's segmentation CTEs + the vocab as a literal VALUES
    // table reconstructed from the same merge-list constant.
    "bpe_encode_ids" ->
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> length(t) > 1) AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, pos, toks[pos] AS word
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS pos
        |        FROM tk)),
        |v AS (SELECT DISTINCT word FROM w),
        |seg AS (
        |  SELECT word, string_split(trim($bpeEncodeExpr, '_'), '__') AS subw
        |  FROM v),
        |voc(tok, tid) AS (VALUES $bpeVocabValues),
        |st AS (
        |  SELECT word, spos, subw[spos] AS tok
        |  FROM (SELECT word, subw,
        |               unnest(generate_series(1, len(subw))) AS spos
        |        FROM seg)),
        |wid AS (
        |  SELECT word, count(*) AS nw,
        |         string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY spos) AS ids
        |  FROM st JOIN voc USING (tok)
        |  GROUP BY word)
        |SELECT w.doc_id,
        |       CAST(sum(nw) AS BIGINT) AS n_tokens,
        |       string_agg(ids, ' ' ORDER BY pos) AS ids_str
        |FROM w JOIN wid USING (word)
        |GROUP BY 1
        |ORDER BY doc_id
        |LIMIT 500""".stripMargin,

    // bpe_encode's count CTEs + the pack window (naive single-partition
    // cumsum formulation the distributed prefix sum must reproduce).
    "tokenize_pack" ->
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> length(t) > 1) AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks[pos] AS word
        |  FROM (SELECT doc_id, toks,
        |               unnest(generate_series(1, len(toks))) AS pos
        |        FROM tk)),
        |v AS (SELECT DISTINCT word FROM w),
        |seg AS (
        |  SELECT word, len(string_split(trim($bpeEncodeExpr, '_'), '__')) AS nw
        |  FROM v),
        |t AS (
        |  SELECT doc_id, CAST(sum(nw) AS BIGINT) AS n_tokens
        |  FROM w JOIN seg USING (word)
        |  GROUP BY 1),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |       CAST(FLOOR(tok_start / 2048.0) AS BIGINT) AS seq_id,
        |       tok_start % 2048 AS seq_offset
        |FROM c
        |ORDER BY doc_id""".stripMargin,

    // The naive single-partition-window formulation the two-pass
    // distributed prefix sum must reproduce exactly. tok_start is cast
    // back to BIGINT because DuckDB widens windowed SUM(BIGINT) to
    // HUGEINT, which would drift the compared dtypes.
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(CEIL(n_chars / 4.0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |       CAST(FLOOR(tok_start / 2048.0) AS BIGINT) AS seq_id,
        |       tok_start % 2048 AS seq_offset
        |FROM c
        |ORDER BY doc_id""".stripMargin,

    // Keep-threshold compare in fixed-width lowercase hex: both engines
    // compute floor(min_cnt*2^32/cnt) in double then format 8 hex
    // digits, so the comparison is bit-identical.
    "sample_mixture" ->
      """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT MIN(cnt) AS min_cnt FROM c)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN c USING (lang) CROSS JOIN m
        |WHERE c.cnt = m.min_cnt
        |   OR substr(md5('mix42:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < printf('%08x', CAST(FLOOR(min_cnt * 4294967296.0 / cnt) AS BIGINT))
        |ORDER BY doc_id""".stripMargin,

    // Water-filling replay: same weight family (powers of two cycling
    // over the sorted sources), same integer-division budget, same
    // cross-multiplied capped test on the raw-prefix scan, same
    // roundings (see TrainExport.mixturePlan's proof-sketch scaladoc).
    "mixture_plan" ->
      ("WITH\n" + mixturePlanCtes(2, "1.0") + s"""
        |SELECT f.source, f.available, round(f.w, 9) AS weight,
        |  $mixturePlanAllocated AS allocated,
        |  round(($mixturePlanAllocated) / f.available, 6) AS rate,
        |  CASE WHEN f.is_capped THEN 1 ELSE 0 END AS capped
        |FROM flag f, agg
        |ORDER BY f.source""".stripMargin),

    // The maxRate=2.5 plan (full-total budget): same chain, scaled
    // capacities.
    "mixture_plan_epochs" ->
      ("WITH\n" + mixturePlanCtes(1, "2.5") + s"""
        |SELECT f.source, f.available, round(f.w, 9) AS weight,
        |  $mixturePlanAllocated AS allocated,
        |  round(($mixturePlanAllocated) / f.available, 6) AS rate,
        |  CASE WHEN f.is_capped THEN 1 ELSE 0 END AS capped
        |FROM flag f, agg
        |ORDER BY f.source""".stripMargin),

    // Epoch expansion replay: floor(rate) full copies + the
    // md5-fractional extra, unrolled via generate_series.
    "sample_plan_epochs" ->
      ("WITH\n" + mixturePlanCtes(1, "2.5") + s""",
        |plan AS (SELECT f.source,
        |    round(($mixturePlanAllocated) / f.available, 6) AS rate
        |  FROM flag f, agg),
        |cp AS (SELECT d.doc_id, d.source,
        |    (floor(p.rate)::INT + CASE
        |       WHEN substr(md5('epoch42:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |            < printf('%08x', CAST(FLOOR((p.rate - floor(p.rate))
        |                * 4294967296.0) AS BIGINT))
        |       THEN 1 ELSE 0 END) AS copies
        |  FROM documents d JOIN plan p USING (source))
        |SELECT doc_id, source,
        |       unnest(generate_series(0, copies - 1))::INT AS epoch
        |FROM cp WHERE copies >= 1
        |ORDER BY doc_id, epoch""".stripMargin),

    // The plan's rates applied by the md5-hex-threshold draw (the
    // sample_mixture_temp mechanism with table-supplied rates).
    "sample_plan_draw" ->
      ("WITH\n" + mixturePlanCtes(2, "1.0") + s""",
        |plan AS (SELECT f.source,
        |    round(($mixturePlanAllocated) / f.available, 6) AS rate
        |  FROM flag f, agg)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN plan p USING (source)
        |WHERE p.rate >= 1.0
        |   OR substr(md5('plan42:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < printf('%08x', CAST(FLOOR(p.rate * 4294967296.0) AS BIGINT))
        |ORDER BY doc_id""".stripMargin),

    // rate rounds to 6 before the hex threshold so cross-engine pow
    // ulps can't flip boundary docs.
    "sample_mixture_temp" ->
      """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT MIN(cnt) AS min_cnt FROM c),
        |r AS (SELECT lang, round(power(min_cnt::DOUBLE / cnt, 0.5), 6) AS rate
        |      FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r USING (lang)
        |WHERE r.rate >= 1.0
        |   OR substr(md5('t5:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < printf('%08x', CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT))
        |ORDER BY doc_id""".stripMargin,

    // Hashed unigram+bigram buckets (md5 mod 10k), Laplace-smoothed
    // log-ratio model, per-doc sum rounded to 6, Gumbel key
    // log_w - ln(-ln(u)) with u = (hash32 + 0.5) / 2^32 — every
    // ingredient md5/double arithmetic both engines compute identically.
    "sample_dsir" ->
      """WITH tk AS (
        |  SELECT doc_id AS id, lang,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> length(t) > 1) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT id, lang, unnest(list_concat(toks,
        |           list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
        |                          i -> toks[i] || ' ' || toks[i+1]))) AS gram
        |  FROM tk),
        |b AS (SELECT id, lang,
        |             CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 10000 AS bkt
        |      FROM g),
        |rc AS (SELECT bkt, count(*) AS c_r FROM b GROUP BY 1),
        |tc AS (SELECT bkt, count(*) AS c_t FROM b WHERE lang = 'en' GROUP BY 1),
        |rt AS (SELECT sum(c_r) AS n_r FROM rc),
        |tt AS (SELECT sum(c_t) AS n_t FROM tc),
        |model AS (
        |  SELECT rc.bkt,
        |         ln((coalesce(tc.c_t, 0) + 1.0) / (tt.n_t + 10000.0)) -
        |         ln((rc.c_r + 1.0) / (rt.n_r + 10000.0)) AS lambda
        |  FROM rc LEFT JOIN tc USING (bkt) CROSS JOIN tt CROSS JOIN rt),
        |db AS (SELECT id, bkt, count(*) AS n_b FROM b GROUP BY 1, 2),
        |w AS (SELECT id, round(sum(n_b * lambda), 6) AS log_w
        |      FROM db JOIN model USING (bkt) GROUP BY 1),
        |sel AS (
        |  SELECT id AS doc_id, log_w,
        |         round(log_w - ln(-ln(
        |           (CAST(('0x' || substr(md5('dsir9:' || CAST(id AS VARCHAR)), 1, 8))
        |                 AS BIGINT) + 0.5) / 4294967296.0)), 6) AS gumbel
        |  FROM w
        |  ORDER BY gumbel DESC, doc_id
        |  LIMIT 100)
        |SELECT doc_id, log_w, gumbel FROM sel
        |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, source
        |FROM (SELECT doc_id, lang, source,
        |             row_number() OVER (
        |               PARTITION BY lang
        |               ORDER BY substr(md5('r5:' || CAST(doc_id AS VARCHAR)), 1, 8),
        |                        doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 20
        |ORDER BY doc_id""".stripMargin,

    // row_number over the md5 permutation key (suffixed with the id so
    // the order key is unconditionally unique in both engines).
    "shuffle_export" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY
        |           substr(md5('shuf7:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |             || ':' || CAST(doc_id AS VARCHAR)) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, CAST((pos - 1) % 8 AS INT) AS shard
        |FROM r
        |ORDER BY pos""".stripMargin,
  )
}

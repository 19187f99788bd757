package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus-cleaning operators for pretraining-data pipelines: rule-based
  * quality filtering (the Gopher heuristics), cross-document repeated
  * n-gram (boilerplate) detection, and PII redaction.
  *
  * These extend the reference's text surface (tokenizer/fingerprint,
  * `src/index/bm25.rs:127-132`) with the standard published cleaning
  * passes a 100 TB corpus needs before training: Gopher's document-level
  * rules (Rae et al. 2021, "Scaling Language Models: ... Gopher",
  * appendix A1.1), repeated-passage detection (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better"), and
  * regex PII scrubbing (the C4 pipeline's cleanup stage).
  *
  * Scale design: every rule is a pure per-row projection (codegen'd
  * Column expressions, zero shuffles); the only shuffles are the
  * n-gram inverted index (one groupBy on the gram — identical shape to
  * [[Dedup.shingleTable]], hot grams ARE the signal here so no df cap
  * is needed) and its count join back to docs. Nothing is collected to
  * the driver and nothing is quadratic. All arithmetic is small-int /
  * Double rounded to 6 decimals, so every operator is
  * DuckDB-oracle-checkable.
  */
object CorpusClean {

  /** Whitespace words (non-empty), the unit Gopher's rules count. */
  private def words(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Gopher-style document quality flags. Returns one row per doc with
    * the measured statistics, one boolean per rule, and `passes` = AND
    * of all rules. Thresholds are the published defaults scaled by the
    * caller (the 50-word minimum is the load-bearing one on short docs).
    *
    * Rules (Gopher A1.1 subset that is model-free and engine-portable):
    *  - word count in [minWords, maxWords]
    *  - mean word length in [3, 10]
    *  - fraction of words containing an alphabetic character >= 0.8
    *  - symbol-to-word ratio (# and ... occurrences) <= 0.1
    *  - at least `minStopHits` stopword tokens (the "real prose" test)
    *
    * All ratios are rounded to 6 decimals BEFORE threshold comparison in
    * both engines, so FP boundary behavior is identical by construction.
    *
    * `keepCols` threads extra input columns through unchanged (appended
    * after the flag columns) — the zero-join path for consumers that
    * aggregate flags by another key ([[graft.operators.Profile
    * .sourceScorecard]] groups by source; a doc_id re-join would be a
    * second corpus-scale shuffle for columns the scan already had).
    */
  def gopherFlags(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minStopHits: Int = 2, keepCols: Seq[String] = Nil): DataFrame = {
    val ws = words(col(textCol))
    val base = docs.select(
      (Seq(
        col(idCol).as("doc_id"),
        col(textCol).as("text"),
        ws.as("ws"),
        tokens(col(textCol)).as("toks")) ++ keepCols.map(col)): _*)
    val nWords = size(col("ws")).cast("long")
    val nWordsD = greatest(nWords, lit(1L)).cast("double")
    val meanWordLen = round(
      aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)).cast("double") / nWordsD, 6)
    val alphaWords = size(filter(col("ws"), w => w.rlike("[a-zA-Z]"))).cast("double")
    val alphaRatio = round(alphaWords / nWordsD, 6)
    // symbols: '#' characters plus '...' runs (each counted once)
    val hashes = charClassCount(col("text"), "[#]")
    val ellipses = ((length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val symbolRatio = round((hashes + ellipses).cast("double") / nWordsD, 6)
    val stopHits = size(filter(col("toks"), t => t.isin(stopwords.map(lit): _*))).cast("long")

    base.select(
        (Seq(
          col("doc_id"), nWords.as("n_words"), meanWordLen.as("mean_word_len"),
          alphaRatio.as("alpha_word_ratio"), symbolRatio.as("symbol_ratio"),
          stopHits.as("stop_hits")) ++ keepCols.map(col)): _*)
      .withColumn("pass_word_count", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_word_len", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("pass_alpha", col("alpha_word_ratio") >= 0.8)
      .withColumn("pass_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("pass_stops", col("stop_hits") >= minStopHits)
      .withColumn("passes",
        col("pass_word_count") && col("pass_word_len") && col("pass_alpha") &&
          col("pass_symbol") && col("pass_stops"))
  }

  /** Per-document boilerplate coverage: the fraction of a doc's distinct
    * n-grams that are corpus-repeated (appear in >= minDocs docs). The
    * pipeline filter drops docs above a coverage threshold. Two shuffles
    * total: the gram count and the doc rollup — the gram->doc join is a
    * broadcast when the repeated-gram set is small (it is: boilerplate
    * is by definition the head of the distribution).
    *
    * Docs with fewer than n tokens have no grams; they surface with
    * n_grams = 0 and coverage 0.0 (nothing repeated, nothing to strip).
    */
  def boilerplateCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    val grams = Dedup.shingleTable(docs, idCol, textCol, n)
    // shingleTable emits distinct (id, gram) pairs, so a plain count IS
    // the distinct-doc count — countDistinct here would force the
    // two-phase distinct-aggregate rewrite on the pass's biggest shuffle
    val repeated = grams.groupBy("sh")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("sh")
    val perDoc = grams
      .join(broadcast(repeated.withColumn("rep", lit(1L))), Seq("sh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("rep"), lit(0L))).as("n_repeated"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        round(coalesce(col("n_repeated"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)).cast("double"), 6).as("coverage"))
  }

  /** Test-set decontamination (the GPT-3 paper's appendix-C pass, Brown
    * et al. 2020: drop training docs that share an n-gram with an
    * evaluation set). Returns the contaminated corpus docs with their
    * distinct-overlapping-gram count — the filter a pipeline anti-joins
    * against before training.
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus
    * (eval suites are MBs, the corpus is TBs), so it broadcasts; the
    * corpus side is one zero-shuffle gram explode + the broadcast join +
    * one groupBy on doc id. The corpus is never shuffled by gram. */
  def decontaminate(corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchId: String, benchText: String,
      n: Int): DataFrame = {
    val corpusGrams = Dedup.shingleTable(corpus, corpusId, corpusText, n)
    val benchGrams = Dedup.shingleTable(bench, benchId, benchText, n)
      .select("sh").distinct()
    corpusGrams
      .join(broadcast(benchGrams), Seq("sh"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_overlap_grams"))
  }

  /** Word n-gram occurrences, one row per position (unlike
    * [[Dedup.shingleTable]], which dedups — repetition rules need the
    * multiset). Token array materialized behind a projection boundary. */
  private def gramOccurrences(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(kgrams(col("toks"), n)).as("g"))

  /** Gopher repetition rules (Rae et al. 2021 appendix A1.1, the
    * within-document repetition subset — [[gopherFlags]] covers the
    * length/symbol/stopword subset): documents dominated by repeated
    * lines or repeated word n-grams are templated/boilerplate, not
    * prose.
    *
    * Measured per doc, each ratio rounded to 6 decimals BEFORE its
    * threshold compare (engine-portable booleans):
    *  - `dup_line_frac`: occurrences belonging to lines that appear
    *    more than once / total nonempty trimmed lines (≤ 0.30)
    *  - `dup_line_char_frac`: characters in those occurrences / total
    *    line characters (≤ 0.20)
    *  - `top_2gram_char_frac`: chars covered by the most frequent word
    *    2-gram (count × gram length) / doc length (≤ 0.20); ties break
    *    to the lexicographically largest gram (struct-max ordering)
    *  - `dup_5gram_char_frac`: chars covered by word 5-grams occurring
    *    more than once, capped at 1.0 (≤ 0.15). Deviation from the
    *    paper, documented: Gopher counts each duplicated char position
    *    once; counting count×length over overlapping grams is the
    *    engine-portable proxy (same monotone signal, so the threshold
    *    keeps its meaning).
    *
    * Scale: every rollup is doc-keyed (explode → groupBy with map-side
    * combine — per-doc distinct lines/grams bound the shuffle), the
    * final assembly is joins on doc_id; nothing corpus-global, nothing
    * collected to the driver.
    */
  def repetitionFlags(docs: DataFrame, idCol: String, textCol: String,
      maxDupLine: Double = 0.30, maxDupLineChar: Double = 0.20,
      maxTop2: Double = 0.20, maxDup5: Double = 0.15): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("total_chars"))

    // ONE occurrence table for all three repetition units — lines
    // (kind 0), 2-grams (kind 2), 5-grams (kind 5) — so the whole
    // operator is two shuffles: the (doc, kind, unit) count and the
    // per-doc rollup. The first cut ran each unit through its own
    // groupBy chain plus a row_number window for the top 2-gram: same
    // answers, 6 shuffle stages, 4x the wall-clock at bench scale.
    val lineOcc = docs.select(col(idCol).as("doc_id"), lit(0).as("kind"),
      explode(filter(transform(split(col(textCol), "\n"), l => trim(l)),
        l => length(l) > 0)).as("g"))
    val occ = lineOcc
      .unionByName(gramOccurrences(docs, idCol, textCol, 2)
        .select(col("doc_id"), lit(2).as("kind"), col("g")))
      .unionByName(gramOccurrences(docs, idCol, textCol, 5)
        .select(col("doc_id"), lit(5).as("kind"), col("g")))
    val cnt = occ.groupBy("doc_id", "kind", "g").agg(count(lit(1)).as("c"))

    // Top 2-gram as a struct-max aggregate (largest count, ties to the
    // lexicographically LARGEST gram — struct ordering), instead of a
    // row_number window: no per-doc sort, combines map-side.
    val stats = cnt.groupBy("doc_id").agg(
      sum(when(col("kind") === 0, col("c"))).as("n_lines"),
      sum(when(col("kind") === 0 && col("c") > 1, col("c"))
        .otherwise(0L)).as("dup_occ"),
      sum(when(col("kind") === 0, col("c") * length(col("g")))
        .otherwise(0L)).as("line_chars"),
      sum(when(col("kind") === 0 && col("c") > 1, col("c") * length(col("g")))
        .otherwise(0L)).as("dup_line_chars"),
      max(when(col("kind") === 2, struct(col("c"), col("g")))).as("m2"),
      sum(when(col("kind") === 5 && col("c") > 1, col("c") * length(col("g")))
        .otherwise(0L)).as("dup5_chars"))
      .select(col("doc_id"), col("n_lines"), col("dup_occ"),
        col("line_chars"), col("dup_line_chars"),
        col("m2.g").as("top_2gram"),
        (col("m2.c") * length(col("m2.g"))).as("top2_chars"),
        col("dup5_chars"))

    val dupLineFrac = round(coalesce(col("dup_occ"), lit(0L)).cast("double") /
      greatest(coalesce(col("n_lines"), lit(0L)), lit(1L)), 6)
    val dupLineCharFrac = round(
      coalesce(col("dup_line_chars"), lit(0L)).cast("double") /
        greatest(coalesce(col("line_chars"), lit(0L)), lit(1L)), 6)
    val top2Frac = round(least(
      coalesce(col("top2_chars"), lit(0L)).cast("double") /
        greatest(col("total_chars"), lit(1L)), lit(1.0)), 6)
    val dup5Frac = round(least(
      coalesce(col("dup5_chars"), lit(0L)).cast("double") /
        greatest(col("total_chars"), lit(1L)), lit(1.0)), 6)

    base
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        dupLineFrac.as("dup_line_frac"),
        dupLineCharFrac.as("dup_line_char_frac"),
        coalesce(col("top_2gram"), lit("")).as("top_2gram"),
        top2Frac.as("top_2gram_char_frac"),
        dup5Frac.as("dup_5gram_char_frac"))
      .withColumn("pass_dup_line", col("dup_line_frac") <= maxDupLine)
      .withColumn("pass_dup_line_char", col("dup_line_char_frac") <= maxDupLineChar)
      .withColumn("pass_top_2gram", col("top_2gram_char_frac") <= maxTop2)
      .withColumn("pass_dup_5gram", col("dup_5gram_char_frac") <= maxDup5)
      .withColumn("passes",
        col("pass_dup_line") && col("pass_dup_line_char") &&
        col("pass_top_2gram") && col("pass_dup_5gram"))
  }

  /** Character-bigram language-model quality score (the model-free
    * stand-in for CCNet's KenLM perplexity filter, Wenzek et al. 2020):
    * train bigram statistics on the corpus itself, then score each
    * document by its mean log-probability under that model — fluent
    * prose lands near the corpus mode, mojibake/gibberish/boilerplate
    * code dumps land in the low tail. Complements [[gopherFlags]]'s
    * hard rules with a graded signal.
    *
    * Model: text normalized to `[a-z0-9 ]` (runs of anything else →
    * one space, trimmed); Laplace-smoothed conditionals
    * `p(b|a) = (cnt(ab)+1) / (cnt(a·)+37)` with the fixed 37-symbol
    * alphabet (26+10+space); score = round(mean over the doc's bigram
    * occurrences of ln p, 6).
    *
    * Scale: one groupBy(doc, bigram) — map-side combine caps the
    * shuffle at ≤37² rows per doc regardless of length; the model
    * itself is ≤37² rows (KBs) and broadcasts back. Both a corpus
    * statistic and per-doc scoring in ONE pass over the text — no
    * model files, no UDFs, every step DuckDB-expressible.
    *
    * Returns (doc_id, n_bigrams, avg_logp); docs whose normalized text
    * has no bigram (len < 2) are absent, as in the oracle.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NOT persisted (r16 tested-and-reverted): docGram feeds both the
    // model aggregation and the scoring join, so caching it looks like
    // the BM25-tf win — but measured at sf0.1 the columnar cache build
    // over the multi-million-row (doc_id, bg, n) table costs MORE than
    // the codegen'd normalize+explode+count pass it saves
    // (quality_lm 2.29 s -> 3.00 s, quality_ppl_buckets 2.96 -> 3.10).
    // The double pass is the cheaper shape at this row geometry.
    val docGram = bigramCounts(docs, idCol, textCol)
    docGram.join(broadcast(lmLogProbs(docGram)), Seq("bg"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        round(sum(col("n") * col("lp")) / sum("n"), 6).as("avg_logp"))
  }

  /** CCNet's perplexity bucketing (Wenzek et al. 2020 §4.3): split each
    * language into head / middle / tail terciles of the LM score — the
    * selection stage after scoring, where a pipeline keeps head(+middle)
    * for training. Higher `avg_logp` = lower perplexity = head.
    *
    * Thresholds are the per-language score terciles, rounded to 6 (like
    * the scores) before the bucket compare so the assignment is
    * engine-portable. `exact = true` (default, the oracle tier) uses
    * interpolated percentiles — per-language sort, O(group) memory;
    * `exact = false` is the 100 TB tier: `percentile_approx` sketches,
    * constant state per language, map-side combined (CCNet itself
    * thresholds from a sample — approximate cuts are the semantic).
    *
    * Returns (doc_id, lang, avg_logp, bucket); docs [[lmScore]] can't
    * score (no bigram) are absent. Plan: the lmScore shape + one id
    * join to recover the language + a tiny per-language threshold agg
    * broadcast back — bucket assignment is map-side. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, exact: Boolean = true): DataFrame = {
    // Persisted: the threshold agg and the final bucket join both
    // consume the scores — without this the whole lmScore pipeline
    // (two corpus passes) runs twice (the 2c70bd2 stance). Row-per-doc
    // with 4 narrow columns, so the cache is corpus-row-bounded.
    val scored = lmScore(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")),
        "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cut(p: Double) =
      if (exact) percentile(col("avg_logp"), lit(p))
      else percentile_approx(col("avg_logp"), lit(p), lit(10000))
    val thr = scored.groupBy("lang").agg(
      round(cut(1.0 / 3.0), 6).as("t1"),
      round(cut(2.0 / 3.0), 6).as("t2"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("avg_logp"),
        when(col("avg_logp") > col("t2"), lit("head"))
          .when(col("avg_logp") > col("t1"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Per-(doc, bigram) occurrence counts over the normalized text.
    *
    * The char ARRAY is materialized behind a projection boundary (same
    * stance as Dedup.shingleTable): referencing the normalized STRING
    * per lambda element would re-run the regex per element, and
    * UTF8String.substring is O(position), turning a doc into O(len²)
    * work — measured 17.8 s for quality_lm at sf0.1 vs 2.6 s with the
    * array form. split-by-"" can emit empty edge elements, which the
    * filter drops so bigram windows never see them.
    */
  private def bigramCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val normed = docs.select(col(idCol).as("doc_id"),
      filter(split(trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")),
          ""), c => length(c) > 0).as("_cs"))
    val cnt = size(col("_cs")) - 1
    // guard len<2: Spark's sequence(1, 0) counts DOWN ([1,0]) instead
    // of returning empty like generate_series — an unguarded short doc
    // would fabricate bigrams out of range
    val grams = when(cnt >= 1,
      transform(sequence(lit(1), greatest(cnt, lit(1))),
        i => concat(element_at(col("_cs"), i), element_at(col("_cs"), i + 1)))
    ).otherwise(array().cast("array<string>"))
    normed
      .select(col("doc_id"), explode(grams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
  }

  /** Laplace-smoothed bigram log-conditionals from per-doc counts
    * (≤37² rows).
    *
    * ctx(a) = Σ_b cnt(ab) is computed as a WINDOW over gramCnt
    * (r17, guide §2.4): the former `gramCnt.groupBy(c0)` + self-join
    * duplicated gramCnt's whole corpus subtree — a third full
    * normalize+explode+count pass over the text per quality_lm-shaped
    * query (visible as three `Scan parquet` branches in the r16 plan).
    * The window runs over the ≤37²-row aggregate instead. Values are
    * identical: the context sum is over LONG counts (exact, order-
    * independent), and the per-bigram arithmetic is unchanged. */
  private def lmLogProbs(docGram: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gramCnt = docGram.groupBy("bg").agg(sum("n").as("cnt"))
    val ctx = sum(col("cnt"))
      .over(Window.partitionBy(substring(col("bg"), 1, 1)))
    gramCnt
      .select(col("bg"),
        log((col("cnt") + lit(1.0)) / (ctx + lit(37.0))).as("lp"))
  }

  /** Train the bigram LM once on a reference corpus, for scoring OTHER
    * data with [[lmScoreWith]] — the CCNet deployment shape (model
    * trained on a clean corpus, applied to the crawl; also the
    * streaming shape: train batch, score each micro-batch). Returns
    * (logProbs: bg → lp, contexts: c0 → ctx), both ≤37²-row frames that
    * broadcast. */
  def lmModel(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    // NOT persisted — see [[lmScore]]'s tested-and-reverted note: the
    // gram-table cache build costs more than the pass it saves.
    val docGram = bigramCounts(docs, idCol, textCol)
    val gramCnt = docGram.groupBy("bg").agg(sum("n").as("cnt"))
    val logp = lmLogProbs(docGram)
    // ctx derives from gramCnt, not docGram (r17): Σ_n per context char
    // over docGram equals Σ_cnt over the ≤37²-row bg aggregate (exact
    // long sums) — and both returned frames now share the identical
    // docGram→gramCnt subtree, which exchange reuse collapses to ONE
    // corpus pass when a query consumes logp and ctx together.
    val ctx = gramCnt.groupBy(substring(col("bg"), 1, 1).as("c0"))
      .agg(sum("cnt").as("ctx"))
    (logp, ctx)
  }

  /** Score documents under a PRE-TRAINED [[lmModel]]. Bigrams the model
    * never saw back off to the Laplace floor `ln(1 / (ctx(a)+37))` —
    * and `ln(1/37)` when even the context char is unseen — so scoring
    * is total over any input. Same output shape as [[lmScore]];
    * `lmScore(d) == lmScoreWith(lmModel(d), d)` by construction
    * (pinned in CorpusCleanSpec). */
  def lmScoreWith(model: (DataFrame, DataFrame), docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (logp, ctx) = model
    bigramCounts(docs, idCol, textCol)
      .join(broadcast(logp), Seq("bg"), "left")
      .join(broadcast(ctx), substring(col("bg"), 1, 1) === col("c0"), "left")
      .select(col("doc_id"), col("n"),
        coalesce(col("lp"),
          log(lit(1.0) / (coalesce(col("ctx"), lit(0L)) + lit(37.0)))).as("lp"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        round(sum(col("n") * col("lp")) / sum("n"), 6).as("avg_logp"))
  }

  /** The whole hygiene pipeline as one call (CLI `clean`): Gopher
    * length/symbol/stopword rules AND repetition rules AND (optionally)
    * the LM quality floor, PII-scrubbed text on the survivors. Returns
    * (kept, report): `kept` = the surviving docs with `text` redacted
    * and the quality scores attached; `report` = one row per rule with
    * its failure count — the numbers a pipeline owner reads before
    * shipping a corpus.
    *
    * Composition stays one pass over the text per operator family (the
    * scale posture of each pass is documented on it); the rule joins
    * are doc-keyed. `minLmScore` NaN-safe: docs absent from lmScore
    * (no bigrams) fail the floor when one is set — an empty doc is not
    * trainable text.
    *
    * `classifierKeep` adds the GPT-3-style classifier gate: a trained
    * [[TextClassifier.NbModel]] plus the class(es) to keep — a doc
    * passes when its argmax prediction is in the set (token-less docs,
    * which the classifier cannot score, fail the gate). Train the model
    * on a labeled reference set (curated vs crawl, wanted language vs
    * rest) and the gate routes the corpus by it.
    */
  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50,
      minLmScore: Option[Double] = None,
      classifierKeep: Option[(TextClassifier.NbModel, Set[String])] = None)
      : (DataFrame, DataFrame) = {
    val g = gopherFlags(docs, idCol, textCol, minWords = minWords)
      .select(col("doc_id"), col("passes").as("pass_gopher"))
    val r = repetitionFlags(docs, idCol, textCol)
      .select(col("doc_id"), col("passes").as("pass_repetition"))
    val lm = lmScore(docs, idCol, textCol)
      .select(col("doc_id"), col("avg_logp"))
    val cls = classifierKeep.map { case (model, _) =>
      TextClassifier.predict(docs, model, idCol, textCol)
        .select(col("id").as("doc_id"), col("pred"))
    }
    val flagged0 = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(g, Seq("doc_id"), "left")
      .join(r, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
    val flagged = cls.fold(flagged0)(c => flagged0.join(c, Seq("doc_id"), "left"))
      .withColumn("pass_gopher", coalesce(col("pass_gopher"), lit(false)))
      .withColumn("pass_repetition", coalesce(col("pass_repetition"), lit(false)))
      .withColumn("pass_lm", minLmScore match {
        case None => lit(true)
        case Some(t) => coalesce(col("avg_logp") >= t, lit(false))
      })
      .withColumn("pass_classifier", classifierKeep match {
        case None => lit(true)
        case Some((_, keep)) =>
          coalesce(col("pred").isin(keep.toSeq: _*), lit(false))
      })
      .withColumn("keep",
        col("pass_gopher") && col("pass_repetition") && col("pass_lm") &&
          col("pass_classifier"))
    val report = flagged.agg(
        count(lit(1)).as("total"),
        sum(when(!col("pass_gopher"), 1L).otherwise(0L)).as("fail_gopher"),
        sum(when(!col("pass_repetition"), 1L).otherwise(0L)).as("fail_repetition"),
        sum(when(!col("pass_lm"), 1L).otherwise(0L)).as("fail_lm"),
        sum(when(!col("pass_classifier"), 1L).otherwise(0L)).as("fail_classifier"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      .selectExpr("stack(6, 'total', total, 'fail_gopher', fail_gopher, " +
        "'fail_repetition', fail_repetition, 'fail_lm', fail_lm, " +
        "'fail_classifier', fail_classifier, " +
        "'kept', kept) as (rule, n)")
    val kept = piiScrub(flagged.filter(col("keep")), "text",
        keep = Seq("doc_id", "avg_logp"))
      .withColumnRenamed("redacted", "text")
      .select("doc_id", "text", "avg_logp", "n_emails", "n_phones", "n_ips")
    (kept, report)
  }

  /** C4's line-level cleaning pass (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2 — the rules that turned Common Crawl into C4),
    * the missing granularity between the document-level Gopher rules
    * and the token-level span removal: lines are KEPT only when they
    *
    *  - end in terminal punctuation (`.` `!` `?` `"`) after trimming,
    *  - contain at least `minLineWords` whitespace words, and
    *  - contain none of `lineBlocklist` as a lowercase substring (C4's
    *    "any line with the word Javascript").
    *
    * Documents are then flagged (not silently dropped — the caller owns
    * the policy, as with [[gopherFlags]]): `has_block_phrase` when any
    * of `docBlockPhrases` occurs anywhere in the lowercased text (C4's
    * "lorem ipsum" rule), `has_brace` when a `{` survives (C4 drops
    * code pages), and `keep_doc` = no phrase ∧ no brace ∧ at least
    * `minKeptLines` surviving lines (C4's 3-sentence floor, at line
    * granularity).
    *
    * Returns (doc_id, n_lines, n_kept_lines, text_clean, has_block_phrase,
    * has_brace, keep_doc) where `text_clean` re-joins kept lines with
    * `\n`. Pure per-row projection — array lambdas over a split, zero
    * shuffles, safe as the first pass over 100 TB of crawl text. All
    * rules are substring/regex tests, so the operator is byte-exactly
    * reproducible in the DuckDB oracle.
    */
  def c4LineFlags(docs: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, minKeptLines: Int = 3,
      lineBlocklist: Seq[String] = Seq("javascript"),
      docBlockPhrases: Seq[String] = Seq("lorem ipsum"),
      dropBraces: Boolean = true): DataFrame = {
    val lines = split(col(textCol), "\n")
    def lineWords(l: Column) = size(filter(split(l, "\\s+"), w => length(w) > 0))
    def lineKeep(l: Column): Column = {
      val blocked = lineBlocklist
        .map(b => lower(l).contains(b))
        .reduceOption(_ || _).getOrElse(lit(false))
      trim(l).rlike("[.!?\"]$") && lineWords(l) >= minLineWords && !blocked
    }
    val kept = filter(lines, lineKeep(_))
    val hasPhrase = docBlockPhrases
      .map(p => lower(col(textCol)).contains(p))
      .reduceOption(_ || _).getOrElse(lit(false))
    val hasBrace = col(textCol).contains("{")
    docs.select(
        col(idCol).as("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        array_join(kept, "\n").as("text_clean"),
        hasPhrase.as("has_block_phrase"),
        hasBrace.as("has_brace"))
      .withColumn("keep_doc",
        !col("has_block_phrase") &&
          (if (dropBraces) !col("has_brace") else lit(true)) &&
          col("n_kept_lines") >= minKeptLines)
  }

  /** PII patterns: engine-portable (Java regex ∩ RE2) so the DuckDB
    * oracle applies the byte-identical scrub. Order matters — emails
    * contain dots and digits, so they are scrubbed before phones/IPs. */
  val EmailRegex = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
  val PhoneRegex = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Regex = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Redact emails, NANP-style phone numbers, and IPv4 addresses from a
    * text column; returns (n_emails, n_phones, n_ips, redacted). Pure
    * per-row regex projection — no shuffle, codegen'd, safe to run as
    * the first pass over 100 TB. */
  def piiScrub(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame = {
    val nEmails = size(regexp_extract_all(col(textCol), lit(EmailRegex), lit(0))).cast("long")
    val afterEmail = regexp_replace(col(textCol), EmailRegex, "[EMAIL]")
    val nPhones = size(regexp_extract_all(afterEmail, lit(PhoneRegex), lit(0))).cast("long")
    val afterPhone = regexp_replace(afterEmail, PhoneRegex, "[PHONE]")
    val nIps = size(regexp_extract_all(afterPhone, lit(Ipv4Regex), lit(0))).cast("long")
    val redacted = regexp_replace(afterPhone, Ipv4Regex, "[IP]")
    df.select(keep.map(col) ++ Seq(
      nEmails.as("n_emails"), nPhones.as("n_phones"), nIps.as("n_ips"),
      redacted.as("redacted")): _*)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions.round6

/** BM25 keyword search and hybrid score fusion as DataFrame plans.
  *
  * The reference rebuilds its corpus statistics on every query
  * (`Bm25Scorer::build`, `src/index/bm25.rs:33-74` — a known O(corpus)
  * inefficiency, see SURVEY §4). Here the statistics are *tables* —
  * `tf(id, term, tf)`, `doclen(id, dl)`, `df(term, df)` — built once as
  * distributed aggregations (map-side combined, shuffled on the group
  * keys) and joined per query. At 100 TB the stats build is one shuffle
  * over the tokenized corpus; a query touches only the rows of its (few)
  * query terms — broadcast-joined, no corpus scan.
  *
  * Math parity (`src/index/bm25.rs:77-106`): k1 = 1.2, b = 0.75,
  * idf = ln((N - df + 0.5) / (df + 0.5) + 1),
  * score = Σ_terms idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
  * with N = total docs and avgdl = total token count / N. Scores are
  * computed in Double and rounded to 6 decimals before ranking (the
  * reference uses f32; the DuckDB oracle fixes Double as the contract).
  */
object BM25 {
  val K1 = 1.2
  val B = 0.75

  /** Exploded (id, term) token stream. */
  def tokenStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))

  /** Corpus statistics: per-document term frequencies. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenStream(docs, idCol, textCol).groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** Document lengths in tokens (docs with zero tokens are absent; they
    * can never score anyway). */
  def docLengths(tf: DataFrame): DataFrame =
    tf.groupBy("id").agg(sum("tf").as("dl"))

  /** Document frequencies per term. */
  def docFrequencies(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  /** One-row (num_docs, avgdl) frame. N counts *all* documents, including
    * token-less ones, matching `Bm25Scorer::build`. */
  def corpusStats(docs: DataFrame, tf: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("num_docs"))
    val total = tf.agg(coalesce(sum("tf"), lit(0L)).as("total_tokens"))
    n.crossJoin(total)
      .select(col("num_docs"),
        (col("total_tokens").cast("double") / col("num_docs")).as("avgdl"))
  }

  /** Per-document BM25 scores for a query string; only docs containing at
    * least one query term appear (all scores > 0). Duplicate query tokens
    * contribute once per occurrence, as in `score_query`'s token loop. */
  def scores(docs: DataFrame, idCol: String, textCol: String, query: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The tf aggregation feeds four downstream consumers (df, dl, global
    // stats, per-term scores); persist it so the tokenize+shuffle runs
    // once per query instead of four times. The Index pipeline goes
    // further and persists these as tables (bm25_tf/dl/df/g) — this cache
    // is the ad-hoc-query analog.
    val tf = termFrequencies(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qterms = TextFunctions.tokenizeString(query)
      .groupBy(identity).view.mapValues(_.size).toSeq
      .toDF("term", "qn")
    val global = corpusStats(docs, tf)
    val perTerm = tf
      .join(broadcast(qterms), "term")
      .join(docFrequencies(tf), "term")
      .join(docLengths(tf), "id")
      .crossJoin(broadcast(global))
    val idf = log((col("num_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = lit(1.0) - B + lit(B) * (col("dl").cast("double") / col("avgdl"))
    val s = col("qn") * idf * (col("tf") * (K1 + 1.0)) / (col("tf") + lit(K1) * norm)
    perTerm.groupBy("id").agg(sum(s).as("score"))
  }

  /** BM25 top-k (`search`, `src/index/bm25.rs:109-122`), deterministic
    * tie-break on id. */
  def topK(docs: DataFrame, idCol: String, textCol: String, query: String, k: Int): DataFrame =
    scores(docs, idCol, textCol, query)
      .select(col("id"), round6(col("score")).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)

  /** Hybrid search with min-max fusion (`hybrid_rerank`,
    * `src/index/bm25.rs:135-170` + candidate union
    * `src/index/searcher.rs:152-165`):
    *
    *   - candidates = vector top-`fetchK` ∪ BM25 top-`fetchK` (BM25-only
    *     rows enter with vector score 0.0);
    *   - vector min/max over the candidate set, BM25 min/max over the
    *     *whole corpus* score vector (docs without query terms score 0);
    *   - combined = α·norm(vec) + (1−α)·norm(bm25), ranges floored at
    *     1e-6; descending, ties by id, truncated to k.
    *
    * `idJoin` aligns embedding ids with document ids (vec_id == doc_id in
    * the fixture tables).
    */
  def hybridTopK(docs: DataFrame, emb: DataFrame, query: String, queryVec: DataFrame,
                 k: Int, alpha: Double = 0.7, fetchK: Int = 50): DataFrame = {
    val vec = Knn.exactTopK(emb, queryVec, fetchK)
      .select(col("vec_id").as("id"), col("score").as("vscore"))
    // bmAll feeds three consumers (top-k, fusion join, min/max stats)
    val bmAll = docs.select(col("doc_id").as("id"))
      .join(scores(docs, "doc_id", "text", query), Seq("id"), "left")
      .select(col("id"), round6(coalesce(col("score"), lit(0.0))).as("bscore"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bmTop = bmAll.filter(col("bscore") > 0)
      .orderBy(desc("bscore"), col("id")).limit(fetchK)
      .select(col("id"))
    val cand = vec.join(bmTop, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("vscore"), lit(0.0)).as("vscore"))
    val vstats = cand.agg(min("vscore").as("vmin"), max("vscore").as("vmax"))
    val bstats = bmAll.agg(min("bscore").as("bmin"), max("bscore").as("bmax"))
    val fused = cand
      .join(bmAll, Seq("id"), "left")
      .crossJoin(broadcast(vstats))
      .crossJoin(broadcast(bstats))
      .select(col("id"), round6(
        lit(alpha) * (col("vscore") - col("vmin")) / greatest(col("vmax") - col("vmin"), lit(1e-6)) +
          lit(1.0 - alpha) * (coalesce(col("bscore"), lit(0.0)) - col("bmin")) /
            greatest(col("bmax") - col("bmin"), lit(1e-6))).as("score"))
    fused.orderBy(desc("score"), col("id")).limit(k)
  }
}

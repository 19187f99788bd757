package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text column functions: the reference's tokenizer plus the text-analysis
  * operators a large-scale training-data pipeline needs (language ID,
  * quality scoring, token counting, fingerprinting, shingling).
  *
  * Tokenizer parity: the reference tokenizes with regex `[a-zA-Z0-9]+`,
  * lowercased, dropping single-character tokens
  * (`src/index/bm25.rs:127-132`). Here that is `split(lower(text),
  * "[^a-z0-9]+")` + a length filter — pure Catalyst expressions, fully
  * codegen'd, and exactly reproducible in ANSI SQL for the DuckDB oracle.
  */
object TextFunctions {

  /** THE tokenizer pattern — every consumer (the Column tokenizer, the
    * SimHash64/MinHashSig scalar expressions, driver-side query
    * tokenization) must share this one constant: the oracle parity
    * contract requires their outputs to be bit-identical. */
  val TokenRegex: String = "[a-z0-9]{2,}"

  /** BM25 tokenizer (ref `src/index/bm25.rs:127-132`): lowercase alnum
    * runs, tokens of length > 1 only. `[a-z0-9]{2,}` expresses the
    * length filter inside the (codegen'd) regex pass — identical output
    * to `filter(split(...), len > 1)`, which would evaluate its lambda
    * interpreted per token. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenRegex), lit(0))

  /** Same tokenizer as a plain Scala function, for driver-side query
    * strings (the query is a scalar, not a column). */
  def tokenizeString(s: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(s.toLowerCase).filter(_.length > 1).toSeq

  /** Word k-grams of a token array, space-joined, in position order
    * (duplicates kept). Empty when there are < n tokens — guarded
    * because Spark's `sequence(1, x)` with x <= 0 would count *down*,
    * not return an empty array. `toks` is referenced once per gram
    * word, so pass a column reference (a materialized token array), not
    * a `tokens(...)` expression, on hot paths: an inlined tokenizer
    * re-runs its regex split per `element_at` (measured 4-5x slower). */
  def kgrams(toks: Column, n: Int): Column = {
    val count = size(toks) - (n - 1)
    when(count >= 1,
      transform(sequence(lit(1), greatest(count, lit(1))),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    ).otherwise(array().cast("array<string>"))
  }

  /** Whitespace-word count (the cheap "token count" a pipeline reports). */
  def wordCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish token-count estimate without a tokenizer model: alnum runs
    * count ~1 token per ceil(len/4) chars, plus one per non-space symbol.
    * Deterministic and SQL-expressible (no UDF). */
  def approxBpeTokenCount(text: Column): Column = {
    val words = filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
    val wordToks = aggregate(words, lit(0L), (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))
    val symbols = length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))
    wordToks + symbols
  }

  /** Number of characters matching a single-char regex class, via the
    * length-difference trick (portable: no regexp_count needed). */
  def charClassCount(text: Column, charClass: String): Column =
    length(text) - length(regexp_replace(text, charClass, ""))

  /** English stopwords (the reference's list, `src/index/query.rs:86-102`). */
  val stopwords: Seq[String] = Seq(
    "a", "an", "the", "is", "are", "was", "were", "be", "been", "being",
    "have", "has", "had", "do", "does", "did", "will", "would", "could",
    "should", "may", "might", "must", "shall", "can", "need", "dare",
    "ought", "used", "to", "of", "in", "for", "on", "with", "at", "by",
    "from", "as", "into", "through", "during", "before", "after", "above",
    "below", "between", "under", "again", "further", "then", "once", "here",
    "there", "when", "where", "why", "how", "all", "each", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own",
    "same", "so", "than", "too", "very", "just", "and", "but", "if", "or",
    "because", "until", "while", "this", "that", "these", "those", "it",
    "its", "i", "me", "my", "myself", "we", "our", "ours", "ourselves",
    "you", "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "her", "hers", "herself", "they", "them", "their",
    "theirs", "themselves", "what", "which", "who", "whom", "any", "both",
    "also", "about", "like", "using", "based", "within", "without")

  /** Code keywords the reference's expansion filter skips
    * (`src/index/query.rs:70-81`). */
  val codeKeywords: Seq[String] = Seq(
    "let", "const", "var", "fn", "func", "def", "pub", "mut", "impl",
    "struct", "enum", "type", "trait", "class", "interface", "async",
    "await", "return", "match", "case", "break", "continue", "loop",
    "while", "for", "if", "else", "elif", "try", "catch", "throw",
    "import", "export", "from", "require", "module", "use", "mod",
    "self", "super", "true", "false", "null", "none", "nil", "void",
    "int", "str", "bool", "float", "vec", "map", "set", "list", "dict",
    "assert", "assert_eq", "println", "print", "printf", "console", "log")

  /** Tiny per-language stopword profiles for the n-gram/stopword language
    * ID heuristic. Deterministic, SQL-expressible. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "for", "on", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des", "un", "une", "du", "dans"))

  /** Per-language stopword-hit count for language ID. */
  def langHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  /** Heuristic language ID: argmax of stopword hits, ties broken by
    * language code ascending; "und" (undetermined) when nothing hits. */
  def langId(text: Column): Column = {
    // greatest(hits...) then first profile (sorted by code) achieving it
    val hits = langProfiles.map { case (code, ws) => (code, langHits(text, ws)) }
    val best = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und"): Column) { case ((code, h), acc) =>
      when(best > 0 && h === best, lit(code)).otherwise(acc)
    }
  }

  /** Document quality score in [0,1]: blends alpha ratio, whitespace
    * sanity, stopword presence, and mean word length — the standard cheap
    * pretraining-quality heuristics (C4-style), no model needed. */
  def qualityScore(text: Column): Column = {
    val len = greatest(length(text), lit(1)).cast("double")
    val alpha = charClassCount(lower(text), "[a-z]").cast("double") / len
    val digits = charClassCount(text, "[0-9]").cast("double") / len
    val spaces = charClassCount(text, "[\\s]").cast("double") / len
    val toks = tokens(text)
    val ntok = greatest(size(toks), lit(1)).cast("double")
    val stopRatio = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double") / ntok
    val meanWordLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / ntok
    val wordLenOk = when(meanWordLen >= 3 && meanWordLen <= 10, lit(1.0)).otherwise(lit(0.5))
    val spacesOk = when(spaces >= 0.05 && spaces <= 0.4, lit(1.0)).otherwise(lit(0.5))
    round(least(lit(1.0),
      alpha * 0.4 + (lit(1.0) - digits) * 0.1 + stopRatio * 0.2 +
        wordLenOk * 0.15 + spacesOk * 0.15), 6)
  }

  /** Content fingerprint: md5 of the whitespace-collapsed, lowercased
    * text. The canonical exact-near-dup key (differences in case/spacing
    * don't break identity). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** 64-bit token hash derived from md5 (portable across engines: DuckDB
    * computes the identical value from the same hex substring). */
  def md5Hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Unicode NFC canonical composition (see
    * [[graft.functions.expressions.NfcNormalize]]). */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.expressions.NfcNormalize(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Canonical text cleanup for crawled corpora (the normalization
    * pass that runs before fingerprints/shingles/BM25 terms compare
    * bytes), in a fixed documented order:
    *
    *  1. Unicode NFC (composed and decomposed spellings unify);
    *  2. strip C0 control chars + DEL, KEEPING `\t` and `\n`
    *     (`[\x00-\x08\x0B-\x1F\x7F]`);
    *  3. collapse runs of spaces/tabs to one space;
    *  4. trim spaces around newlines (line-edge whitespace);
    *  5. collapse 3+ consecutive newlines to exactly two (paragraph
    *     break survives, blank-line spam doesn't);
    *  6. trim the ends.
    *
    * Every step is a codegen'd string expression (NFC included), so the
    * whole pipeline is one fused zero-shuffle projection; each regex is
    * in the Java-regex ∩ RE2 subset, so DuckDB reproduces the output
    * byte-identically (`nfc_normalize` + the same replaces). */
  def normalizeText(text: Column): Column = {
    val nfc = nfcNormalize(text)
    val noCtrl = regexp_replace(nfc, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    val oneSpace = regexp_replace(noCtrl, "[ \\t]+", " ")
    val lineEdges = regexp_replace(oneSpace, "[ ]*\\n[ ]*", "\n")
    val paragraphs = regexp_replace(lineEdges, "\\n{3,}", "\n\n")
    trim(paragraphs)
  }
}

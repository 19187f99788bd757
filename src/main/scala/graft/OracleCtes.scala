package graft

/** Shared DuckDB-dialect CTE builders and constants the Entry*
  * family `oracle` maps compose (the former OracleSql helper tier,
  * split out in r15). Shares constants (k, rounding, decimal casts,
  * query strings) with the Spark plans. */
private[graft] object OracleCtes {
  /** [[lpaRounds]] with weighted votes: sum(w) instead of count(*),
    * same (wv DESC, nl) row_number pick — the
    * weighted [[graft.operators.Graph.labelPropagation]] update. */
  def lpaWeightedRounds(n: Int): String =
    (1 to n).map { i =>
      s"""c$i AS (SELECT e.s AS id, n.label AS nl, sum(e.w) AS wv
         |       FROM e JOIN l${i - 1} n ON n.id = e.d GROUP BY e.s, n.label),
         |l$i AS (SELECT id, nl AS label FROM (
         |         SELECT id, nl,
         |                row_number() OVER (PARTITION BY id ORDER BY wv DESC, nl) AS rn
         |         FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** Unrolled synchronous-LPA replay rounds for the communities
    * oracles: `n` chained (count, struct-min pick) CTE pairs from
    * `l0` — round i reads l(i-1), exactly the graph_communities text
    * generalized to any round count. */
  def lpaRounds(n: Int): String =
    (1 to n).map { i =>
      s"""c$i AS (SELECT e.s AS id, n.label AS nl, count(*) AS c
         |       FROM e JOIN l${i - 1} n ON n.id = e.d GROUP BY e.s, n.label),
         |l$i AS (SELECT id, nl AS label FROM (
         |         SELECT id, nl,
         |                row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
         |         FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** The mixture_plan water-filling CTE chain (shared by the plan and
    * draw oracles): per-source available tokens, the dyadic weight
    * family over sorted sources, integer-division budget
    * (total // budgetDiv), capacities `available * maxRate` (the epoch
    * knob — pass dyadic maxRate literals so the products are exact),
    * and the cross-multiplied capped-prefix scan
    * (TrainExport.mixturePlan's proof-sketch scaladoc). Ends at `flag`
    * (per-source is_capped) and `agg` (capped sums). */
  def mixturePlanCtes(budgetDiv: Int, maxRate: String): String =
    s"""a AS (SELECT source, sum(n_chars)::BIGINT AS available
      |      FROM documents WHERE source IS NOT NULL GROUP BY source),
      |wr AS (SELECT source,
      |         (CASE (row_number() OVER (ORDER BY source) - 1) % 4
      |            WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8
      |          END)::DOUBLE AS wraw
      |       FROM a),
      |ws AS (SELECT sum(wraw) AS tot FROM wr),
      |w AS (SELECT source, wraw / tot AS w FROM wr, ws),
      |b AS (SELECT (sum(available) // $budgetDiv)::BIGINT AS budget FROM a),
      |s AS (SELECT a.source, a.available, a.available * $maxRate AS cap,
      |             w.w, round(a.available * $maxRate / w.w, 6) AS r
      |      FROM a JOIN w USING (source)),
      |scan AS (SELECT *,
      |    coalesce(sum(cap) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pc,
      |    coalesce(sum(w) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pw
      |  FROM s),
      |flag AS (SELECT scan.*, b.budget,
      |    (cap * (1.0 - pw) <= (budget - pc) * w) AS is_capped
      |  FROM scan, b),
      |agg AS (SELECT
      |    sum(CASE WHEN is_capped THEN cap ELSE 0.0 END) AS cc,
      |    sum(CASE WHEN is_capped THEN w ELSE 0.0 END) AS cw FROM flag)""".stripMargin

  /** The per-source allocation expression over `flag f, agg` (capped =
    * the full capacity; else the final water level times the weight). */
  val mixturePlanAllocated =
    """CASE WHEN f.is_capped THEN round(f.cap, 6)
      |       ELSE round((CASE WHEN agg.cw >= 1.0 THEN 0.0
      |              ELSE (f.budget - agg.cc) / (1.0 - agg.cw) END) * f.w, 6)
      |  END""".stripMargin

  /** Unrolled k-core peel rounds: each round recomputes degrees from
    * the prior edge set, keeps nodes at >= k, and filters both edge
    * endpoints — identity once the set settles, which is what lets a
    * fixed unroll replay Graph.kCore's converged result. */
  def kcoreRounds(n: Int, k: Int): String =
    (1 to n).map { i =>
      // each round reads e(i-1) TWICE (degree count + edge filter):
      // MATERIALIZED stops DuckDB's default CTE inlining from doubling
      // the plan per round (2^n base scans — observed as an fd blowup)
      s"""d$i AS (SELECT s, count(*) AS c FROM e${i - 1} GROUP BY s),
         |a$i AS (SELECT s FROM d$i WHERE c >= $k),
         |e$i AS MATERIALIZED (SELECT e.s, e.d FROM e${i - 1} e
         |        JOIN a$i x ON e.s = x.s JOIN a$i y ON e.d = y.s)""".stripMargin
    }.mkString(",\n")

  /** DuckDB CTEs reproducing BM25 stats over `documents` with the
    * reference tokenizer (`[a-zA-Z0-9]+` lowercased, len>1). */
  val bm25Ctes =
    """toks AS (
      |  SELECT doc_id AS id,
      |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                            t -> length(t) > 1)) AS term
      |  FROM documents),
      |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |g AS (SELECT (SELECT count(*) FROM documents) AS num_docs,
      |             ((SELECT count(*) FROM toks)::DOUBLE /
      |              (SELECT count(*) FROM documents)) AS avgdl)""".stripMargin

  def bm25ScoreCte(termsValues: String) =
    s"""$bm25Ctes,
       |q AS (SELECT * FROM (VALUES $termsValues) AS t(term, qn)),
       |s AS (
       |  SELECT tf.id,
       |         sum(q.qn * ln((g.num_docs::DOUBLE - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
       |             * (tf.tf * (1.2 + 1.0))
       |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl::DOUBLE / g.avgdl)))) AS score
       |  FROM tf
       |  JOIN q USING (term)
       |  JOIN dfreq USING (term)
       |  JOIN dl USING (id), g
       |  GROUP BY tf.id)""".stripMargin

  val discPrice =
    "l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))"

  def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  val stopList = sqlList(graft.functions.TextFunctions.stopwords)
  val kwList = sqlList(graft.functions.TextFunctions.codeKeywords)

  /** The bpe_encode oracle's per-word segmentation expression: each
    * symbol wrapped as `_sym_` (so every rule match is anchored on BOTH
    * symbol boundaries — a bare separator would let a rule match across
    * a shared boundary or inside a multi-char symbol), one non-
    * overlapping left-to-right `replace` per merge rule, which is
    * exactly the greedy single-pass semantics of Bpe.applyMerge. */
  val bpeEncodeExpr: String =
    EntryFixtures.BpeDemoMerges.foldLeft("regexp_replace(word, '(.)', '_\\1_', 'g')") {
      case (e, (a, b)) => s"replace($e, '_${a}__${b}_', '_${a}${b}_')"
    }

  /** The induced vocab as SQL VALUES rows — same pure function of the
    * merge list the Scala side uses (Bpe.vocab). */
  val bpeVocabValues: String =
    graft.operators.Bpe.vocab(EntryFixtures.BpeDemoMerges)
      .map { case (t, i) => s"('$t', $i)" }.mkString(", ")

  /** CTEs rebuilding EntryFixtures.linified's deterministic line
    * structure in SQL — `lnf` = (doc_id, lines) with lines of 10
    * whitespace words, '.' appended iff the first word sorts before
    * 'n'. Shared by the line-granular oracles (quality_c4,
    * dedup_lines). */
  val linifiedCtes =
    """tkw AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS ws
      |  FROM documents),
      |lnf AS (
      |  SELECT doc_id,
      |         CASE WHEN len(ws) > 0 THEN
      |           list_transform(generate_series(0, CAST(ceil(len(ws) / 10.0) AS BIGINT) - 1),
      |             i -> array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') ||
      |                  CASE WHEN ws[i*10 + 1] < 'n' THEN '.' ELSE '' END)
      |         ELSE []::VARCHAR[] END AS lines
      |  FROM tkw)""".stripMargin

  /** Shared shingle/size/jaccard CTEs over `documents` (3-gram, set
    * semantics) used by the jaccard and minhash oracles. */
  val shingleCtes =
    """tk AS (
      |  SELECT doc_id AS id,
      |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                     t -> length(t) > 1) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT id,
      |         unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
      |  FROM tk),
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
      |  JOIN sz sb ON id_b = sb.id)""".stripMargin


  // ----- index_search oracle: the full build+search path in SQL -----
  //
  // The hash embedder is pure integer/float math, so DuckDB can
  // reproduce it bit-for-bit: Java String.hashCode over the (ASCII)
  // text, splitmix64 mixing emulated in HUGEINT arithmetic mod 2^64
  // (xor/floordiv are native; the 64x64->64 multiply is split 32/32 to
  // stay under 128 bits), float32 truncation via ::FLOAT. Each mix
  // stage is its own list_transform CTE so no expression blows up.
  // The chunker is the identity at gate scales (every documents.text
  // fits one 1024-char chunk and is ASCII — both preconditions asserted
  // in ParitySpec's "index_search oracle preconditions"), so chunk id =
  // source || '/' || doc_id || '#0'.

  /** `(a * c) mod 2^64` over HUGEINT, `c` a 64-bit constant split into
    * 32-bit halves at generation time. */
  def umul64(a: String, c: BigInt): String = {
    val lo = c & 0xFFFFFFFFL
    val hi = c >> 32
    s"((($a) % 4294967296) * $lo + (((($a) % 4294967296) * $hi + " +
      s"(($a) // 4294967296) * $lo) % 4294967296) * 4294967296) % 18446744073709551616"
  }

  /** CTE chain computing the HashEmbedder(64, seed=42) vector for
    * column `text` of CTE `in` carrying key column(s) `keep`; emits CTEs
    * `<p>0..<p>b` and a final `<p>emb(keep..., dv DOUBLE[])`. */
  def hashEmbedCtes(p: String, in: String, keep: String): String = {
    val M = "18446744073709551616"
    val C1 = BigInt("9e3779b97f4a7c15", 16)
    val C2 = BigInt("bf58476d1ce4e5b9", 16)
    val C3 = BigInt("94d049bb133111eb", 16)
    s"""${p}hc AS (
       |  SELECT $keep, text,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, length(text)),
       |      i -> unicode(substr(text, i, 1))::BIGINT)),
       |      (h, c) -> (h * 31 + c) % 4294967296) AS hcu
       |  FROM $in),
       |${p}sx AS (
       |  SELECT $keep, xor(42::BIGINT,
       |    CASE WHEN hcu < 2147483648 THEN hcu ELSE hcu - 4294967296 END) AS sxv
       |  FROM ${p}hc),
       |${p}b0 AS (SELECT $keep, (CASE WHEN sxv < 0 THEN sxv::HUGEINT + $M ELSE sxv::HUGEINT END + $C1) % $M AS z FROM ${p}sx),
       |${p}b1 AS (SELECT $keep, xor(z, z // 1073741824) AS z FROM ${p}b0),
       |${p}b2 AS (SELECT $keep, ${umul64("z", C2)} AS z FROM ${p}b1),
       |${p}b3 AS (SELECT $keep, xor(z, z // 134217728) AS z FROM ${p}b2),
       |${p}b4 AS (SELECT $keep, ${umul64("z", C3)} AS z FROM ${p}b3),
       |${p}bb AS (SELECT $keep, xor(z, z // 2147483648) AS base FROM ${p}b4),
       |${p}e0 AS (SELECT $keep, list_transform(generate_series(0, 63), i -> (base + i + $C1) % $M) AS l FROM ${p}bb),
       |${p}e1 AS (SELECT $keep, list_transform(l, z -> xor(z, z // 1073741824)) AS l FROM ${p}e0),
       |${p}e2 AS (SELECT $keep, list_transform(l, z -> ${umul64("z", C2)}) AS l FROM ${p}e1),
       |${p}e3 AS (SELECT $keep, list_transform(l, z -> xor(z, z // 134217728)) AS l FROM ${p}e2),
       |${p}e4 AS (SELECT $keep, list_transform(l, z -> ${umul64("z", C3)}) AS l FROM ${p}e3),
       |${p}e5 AS (SELECT $keep, list_transform(l, z -> xor(z, z // 2147483648)) AS l FROM ${p}e4),
       |${p}xs AS (SELECT $keep, list_transform(l,
       |    m -> (CASE WHEN m >= 9223372036854775808 THEN m - $M ELSE m END)::DOUBLE
       |         / 9223372036854775807) AS xs FROM ${p}e5),
       |${p}nn AS (SELECT $keep, xs, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(xs, x -> x * x)), (a, b) -> a + b)) AS n FROM ${p}xs),
       |${p}emb AS (SELECT $keep,
       |    list_transform(xs, x -> (((x::FLOAT)::DOUBLE / n)::FLOAT)::DOUBLE) AS dv
       |  FROM ${p}nn)""".stripMargin
  }

  /** The query vector is a constant of the query — inlined as a literal
    * (same stance as the query string itself). */
  val indexSearchQv: String =
    new graft.embedding.HashEmbedder(64).embedOne("spark hash join")
      .map(f => f.toDouble.toString).mkString("[", ", ", "]")

  val indexSearchOracle: String =
    s"""WITH chunks AS (
       |  SELECT source || '/' || doc_id || '#0' AS id, text,
       |         source || '/' || doc_id AS src
       |  FROM documents),
       |fil AS (SELECT * FROM chunks WHERE starts_with(src, 'src')),
       |${hashEmbedCtes("h", "fil", "id")},
       |q AS (SELECT $indexSearchQv::DOUBLE[] AS qv),
       |vs AS (
       |  SELECT id, round(list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(generate_series(1, 64), i -> dv[i] * qv[i])),
       |    (a, b) -> a + b), 6) AS vscore
       |  FROM hemb, q),
       |vec AS (SELECT id, vscore FROM vs ORDER BY vscore DESC, id LIMIT 25),
       |toks AS (
       |  SELECT id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                                t -> length(t) > 1)) AS term
       |  FROM chunks),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |g AS (SELECT (SELECT count(*) FROM chunks) AS num_docs,
       |             (SELECT coalesce(sum(tf), 0) FROM tf)::DOUBLE
       |               / (SELECT count(*) FROM chunks) AS avgdl),
       |qt AS (SELECT * FROM (VALUES ('spark', 1), ('hash', 1), ('join', 1)) t(term, qn)),
       |bm AS (
       |  SELECT tf.id,
       |         sum(qn * ln((num_docs - df + 0.5) / (df + 0.5) + 1.0)
       |             * (tf * (1.2 + 1.0))
       |             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))) AS score
       |  FROM tf JOIN qt USING (term) JOIN dfq USING (term) JOIN dl USING (id)
       |  CROSS JOIN g
       |  GROUP BY tf.id),
       |bmall AS (
       |  SELECT f.id, round(coalesce(bm.score, 0.0), 6) AS bscore
       |  FROM fil f LEFT JOIN bm ON f.id = bm.id),
       |bmtop AS (SELECT id FROM bmall WHERE bscore > 0 ORDER BY bscore DESC, id LIMIT 25),
       |cand AS (
       |  SELECT coalesce(v.id, t.id) AS id, coalesce(v.vscore, 0.0) AS vscore
       |  FROM vec v FULL OUTER JOIN bmtop t ON v.id = t.id),
       |vstat AS (SELECT min(vscore) AS vmin, max(vscore) AS vmax FROM cand),
       |bstat AS (SELECT min(bscore) AS bmin, max(bscore) AS bmax FROM bmall),
       |fused AS (
       |  SELECT c.id,
       |         round(0.7 * (c.vscore - vmin) / greatest(vmax - vmin, 1e-6)
       |             + (1.0 - 0.7) * (coalesce(b.bscore, 0.0) - bmin)
       |               / greatest(bmax - bmin, 1e-6), 6) AS score
       |  FROM cand c LEFT JOIN bmall b ON c.id = b.id
       |  CROSS JOIN vstat CROSS JOIN bstat
       |  ORDER BY score DESC, c.id LIMIT 5)
       |SELECT f.id, f.score, c.text, c.src AS source
       |FROM fused f JOIN chunks c ON f.id = c.id
       |ORDER BY f.score DESC, f.id""".stripMargin

  /** The as-of join as left-join-of-rank-1 — shared by the union+window
    * formulation (events_asof_order) and the custom physical operator
    * (events_asof_native). */
  val asofOracle: String =
    """WITH ev AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 10),
      |cand AS (
      |  SELECT ev.event_id, o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
      |         row_number() OVER (PARTITION BY ev.event_id
      |                            ORDER BY epoch_us(o.o_orderdate) DESC, o.o_orderkey DESC) AS rn
      |  FROM ev JOIN orders o ON o.o_custkey = ev.user_id
      |                       AND epoch_us(o.o_orderdate) <= epoch_us(ev.ts))
      |SELECT ev.event_id, ev.user_id, c.o_orderkey, c.o_totalprice
      |FROM ev LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
      |ORDER BY event_id
      |LIMIT 1000""".stripMargin

  /** Label-clustered IVF probe + exact search within probed clusters
    * (nprobe=4, k=10) — the knn_ivf oracle. */
  val ivfOracle =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |cent AS (
      |  SELECT label AS cluster, i AS pos, avg(embedding[i]::DOUBLE) AS cv
      |  FROM embeddings CROSS JOIN range(1, 65) t(i)
      |  GROUP BY 1, 2),
      |cs AS (SELECT cluster, round(sum(cv * qv[pos]), 6) AS cscore FROM cent, q GROUP BY cluster),
      |probed AS (SELECT cluster FROM cs ORDER BY cscore DESC, cluster LIMIT 4)
      |SELECT e.vec_id, round(list_inner_product(e.embedding::DOUBLE[], q.qv), 6) AS score
      |FROM embeddings e, q
      |WHERE e.label IN (SELECT cluster FROM probed)
      |ORDER BY score DESC, e.vec_id
      |LIMIT 10""".stripMargin

}

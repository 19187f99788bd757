"""Output checks that run in DuckDB after the workload JVM exits.

`analytics`: each row's output (written by the warm-up pass) must equal
its `SparkEntry.oracleSql` over the generated tables, compared the way
`tools/check.py` compares them (columns sorted by name, rows sorted,
exact values).

`serve`: in the served index and in every index directory the traced
ingest pass built, `meta.json`'s
passage count must equal the rows of `passages`, and the BM25 tables
(`bm25_tf`, `bm25_dl`, `bm25_df`, `bm25_g`) must equal a recomputation
from the written passages with the reference tokenizer.

The serve responses themselves are checked inside the JVM against
results computed at set-up.

Each check that fails adds one failed operation.
"""
import json
import sys

import duckdb
import pandas as pd

ORACLE_TABLES = ["documents", "embeddings", "lineitem", "orders"]


def frames_equal(got, want):
    g = got.reindex(sorted(got.columns), axis=1)
    w = want.reindex(sorted(want.columns), axis=1)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    w = w.sort_values(by=list(w.columns)).reset_index(drop=True)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind != wv.dtype.kind and "f" in (gv.dtype.kind, wv.dtype.kind):
            return False
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            if (gv.astype(float) - wv.astype(float)).abs().max() > 0:
                return False
            if gv.isna().sum() != wv.isna().sum():
                return False
        elif not gv.astype(str).equals(wv.astype(str)):
            return False
    return True


def check_analytics(inp, c):
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet')")
    oracle = json.load(open(f"{c['outputs']}/../oracle_sql.json"))
    failed = 0
    rows = c["rows"].split(",")
    for name in rows:
        got = pd.read_parquet(f"{c['outputs']}/{name}")
        want = con.execute(oracle[name]).fetchdf()
        if not frames_equal(got, want):
            print(f"[perfbench] oracle mismatch: {name}", file=sys.stderr, flush=True)
            failed += 1
    return failed, len(rows)


BM25_SQL = """
WITH toks AS (
  SELECT id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> length(t) > 1)) AS term
  FROM passages),
tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT
  (SELECT count(*) FROM (SELECT id, term, tf FROM tf
                         EXCEPT ALL SELECT id, term, tf FROM bm25_tf)) +
  (SELECT count(*) FROM (SELECT id, term, tf FROM bm25_tf
                         EXCEPT ALL SELECT id, term, tf FROM tf)) +
  (SELECT count(*) FROM (SELECT id, dl FROM dl EXCEPT ALL SELECT id, dl FROM bm25_dl)) +
  (SELECT count(*) FROM (SELECT id, dl FROM bm25_dl EXCEPT ALL SELECT id, dl FROM dl)) +
  (SELECT count(*) FROM (SELECT term, df FROM dfreq EXCEPT ALL SELECT term, df FROM bm25_df)) +
  (SELECT count(*) FROM (SELECT term, df FROM bm25_df EXCEPT ALL SELECT term, df FROM dfreq))
  AS diff,
  (SELECT count(*) FROM passages) AS n,
  (SELECT count(DISTINCT id) FROM passages) AS n_ids,
  (SELECT count(*) FROM toks)::DOUBLE / (SELECT count(*) FROM passages) AS avgdl,
  (SELECT num_docs FROM bm25_g) AS g_docs,
  (SELECT avgdl FROM bm25_g) AS g_avgdl,
  (SELECT count(*) FROM bm25_g) AS g_rows
"""


def check_index(d):
    con = duckdb.connect()
    for t in ["passages", "bm25_tf", "bm25_dl", "bm25_df", "bm25_g"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}/*.parquet')")
    diff, n, n_ids, avgdl, g_docs, g_avgdl, g_rows = con.execute(BM25_SQL).fetchone()
    meta = json.load(open(f"{d}/meta.json"))
    ok = (diff == 0 and n == n_ids == meta["passage_count"] == g_docs and g_rows == 1
          and abs(avgdl - g_avgdl) <= 1e-9 * max(1.0, avgdl))
    if not ok:
        print(f"[perfbench] index check failed in {d}: diff={diff} n={n} ids={n_ids} "
              f"meta={meta['passage_count']} g=({g_docs},{g_avgdl}) avgdl={avgdl}",
              file=sys.stderr, flush=True)
    return ok


def check_ingest(c):
    dirs = [d for d in c["index_dirs"].split(",") if d]
    return sum(0 if check_index(d) else 1 for d in dirs), len(dirs)


def run(workload, inp, c):
    """Returns (failed checks, checks made)."""
    if workload == "analytics":
        return check_analytics(inp, c)
    if workload == "serve":
        return check_ingest(c)
    return 0, 0

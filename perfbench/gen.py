"""Seeded input generator for the benchmark.

Writes an sf-shaped directory (the `documents`, `embeddings`, `lineitem`
and `orders` tables that the benchmarked rows and their DuckDB oracles
read) plus the workload-specific inputs: the `ingest` update batch and
the `serve` request streams. The tables come from one fixed base, as the
repository's sf directories do, salted by the seed; the workload inputs
are drawn from the seed. The same seed gives the same bytes.

The tables follow the row shapes measured on the repository's sf0.1
test tables (NOTES.md lists each figure and how it was measured) at the
row counts of its sf0.01 tables, the correctness-gate scale; sf0.01 is
sf0.1's generator at a tenth of the rows, with the same shapes. They are
synthesized rather than copied so that the benchmark reads nothing
outside its checkout. The seed-specific salt follows
`tools/make_sf1.py --perturb` for documents (a salted prefix and a
frequent-letter substitution); embeddings get a seeded permutation and
sign flip of their coordinates in place of its nonlinear nudge (see
`generate`).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table shapes, measured on sf0.1 (and the same on sf0.01).
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
WORDS = (10, 100)          # words per document, uniform in [10, 100)
DUP_SHARE = 0.05           # share of documents that copy another one + " dup"
SOURCES = 20               # source = src{doc_id % 20}
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
DIMS = 64                  # embeddings: isotropic unit vectors, labels 0-9
LABELS = 10
ORDERS_PER_CUSTOMER = 10   # o_custkey uniform over customers
LINES_PER_ORDER = 4.0      # Poisson; 1.8% of orders have no lines
CUSTOMERS_PER_SUPPLIER = 15  # l_suppkey uniform over suppliers

BASE_SEED = 42             # fixed, like the sf tables' generator seed (TESTDATA.md)

# Row counts: sf0.01's.
DOCS = 500                 # documents rows (index corpus and dedup input)
VECTORS = 500              # embeddings rows (k-means input)
CUSTOMERS = 1500
ORDERS = CUSTOMERS * ORDERS_PER_CUSTOMER
SUPPLIERS = CUSTOMERS // CUSTOMERS_PER_SUPPLIER

# Workload inputs. The request mix, filter share and query shape are the
# workload's stated parameters; the open-loop rate is about a fifth of the
# closed-loop capacity measured on a 4-vCPU host (NOTES.md).
UPDATE_DOCS = 60           # ingest update batch
REDELIVERED_SHARE = 0.20   # share of the update batch already indexed
SERVE_UPDATE_DOCS = 12     # serve phase-3 append
OPEN_RATE = 250.0          # serve open-loop arrivals per second
MIX = {"plain": 0.40, "filtered": 0.30, "hybrid": 0.15, "ann": 0.15}
NEW_FILTER_SHARE = 0.10    # share of filtered requests with a never-seen filter
QUERY_POOL = 1000          # distinct query strings; requests pick one uniformly
REPEATED_FILTERS = [
    "source^d00", "source^d01", "source$7.md",
    "source$3.md OR source$5.md", "chunk_type=simple,source^d02",
    "source^d03 OR source^d10",
]


def salt_of(seed):
    return seed % 997 + 1


def perturb_word(w, salt):
    # make_sf1.py --perturb: replace 'e' with a salt-chosen letter
    return w.replace("e", chr(97 + ((salt * 7) % 25 + 1)))


def vocab_for(seed):
    salt = salt_of(seed)
    return [perturb_word(w, salt) for w in VOCAB]


def make_texts(rng, n, vocab, salt):
    """Documents shaped like the sf tables': words drawn uniformly from
    the vocabulary, a uniform length in WORDS, and a DUP_SHARE of them a
    copy of another (original) document with " dup" appended."""
    words = [[vocab[int(x)] for x in rng.integers(0, len(vocab), int(rng.integers(*WORDS)))]
             for _ in range(n)]
    n_dup = int(round(n * DUP_SHARE))
    dups = set(int(x) for x in rng.choice(n, size=n_dup, replace=False))
    originals = [i for i in range(n) if i not in dups]
    for i in sorted(dups):
        words[i] = words[originals[int(rng.integers(0, len(originals)))]] + ["dup"]
    return [f"v{salt} " + " ".join(w) for w in words]


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def documents_table(ids, texts, rng):
    langs = rng.choice(LANGS, size=len(ids), p=LANG_P)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(list(langs), pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def index_docs_table(ids, texts):
    """The indexed corpus: one `.md` source per document."""
    return pa.table({
        "text": pa.array(texts, pa.string()),
        "source": pa.array([f"d{i:04d}.md" for i in ids], pa.string()),
    })


def zipf_index(rng, n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))


def query_pool(rng, vocab_ranked):
    """QUERY_POOL query strings of 1-3 words, each word drawn Zipf from
    the seed's vocabulary ranking."""
    return [" ".join(vocab_ranked[zipf_index(rng, len(vocab_ranked))]
                     for _ in range(int(rng.integers(1, 4))))
            for _ in range(QUERY_POOL)]


def make_request(rng, pool, kind):
    # uniform over a large pool, so one seed's costliest query cannot
    # dominate its stream
    q = pool[int(rng.integers(0, len(pool)))]
    filt = ""
    if kind == "filtered":
        if rng.random() < NEW_FILTER_SHARE:
            a, b = rng.choice(100, size=2, replace=False)
            filt = f"source${int(a):02d}.md OR source${int(b):02d}.md"
        else:
            filt = REPEATED_FILTERS[int(rng.integers(0, len(REPEATED_FILTERS)))]
    body = {"query": q, "top_k": 5}
    if filt:
        body["filter"] = filt
    if kind == "hybrid":
        body["hybrid"] = True
    if kind == "ann":
        body["ann"] = True
    return q, filt, json.dumps(body, separators=(",", ":"))


def request_stream(rng, pool, n, rate):
    """n requests; `due_ms` is a Poisson arrival time when rate > 0."""
    kinds = list(MIX)
    probs = [MIX[k] for k in kinds]
    t = 0.0
    rows = []
    for _ in range(n):
        kind = kinds[int(rng.choice(len(kinds), p=probs))]
        q, filt, body = make_request(rng, pool, kind)
        if rate > 0:
            t += rng.exponential(1000.0 / rate)
        rows.append((round(t, 3), kind, q, filt, body))
    return rows


def parity_requests(streams):
    """The requests whose warm answers are checked against Index.search
    at set-up, taken from the streams in order: the first request with
    each repeated filter, and for each query length the first plain
    request and the first with a never-seen filter."""
    picked = {}
    for row in (r for rows in streams for r in rows):
        _, kind, q, filt, _ = row
        if kind == "plain":
            key = ("plain", len(q.split()))
        elif filt in REPEATED_FILTERS:
            key = (filt, 0)
        elif kind == "filtered":
            key = ("never-seen", len(q.split()))
        else:
            continue
        picked.setdefault(key, row)
    return list(picked.values())


def write_requests(rows, path):
    with open(path, "w") as f:
        for i, (due, kind, q, filt, body) in enumerate(rows):
            f.write(f"{i}\t{due}\t{kind}\t{q}\t{filt}\t{body}\n")


def generate(seed, workload, out, seconds):
    """Write the inputs of `workload` under `out`."""
    os.makedirs(out, exist_ok=True)
    # the tables come from one fixed base, as the sf directories do, and
    # the seed salts them; the seed alone draws the workload inputs
    base = np.random.default_rng([BASE_SEED, 20260])
    rng = np.random.default_rng([seed, 20260])
    salt = salt_of(seed)
    vocab = vocab_for(seed)
    texts = make_texts(base, DOCS, vocab, salt)
    ids = list(range(DOCS))
    write(documents_table(ids, texts, base), f"{out}/documents.parquet")

    if workload == "analytics":
        emb = base.normal(0.0, 1.0, size=(VECTORS, DIMS))
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        # The salt permutes and sign-flips the coordinates: every vector
        # changes direction, as make_sf1's sine nudge intends, but
        # distances do not. The nudge is not an isometry, and on these
        # vectors it moved the k-means row between 10 and 25 rounds by
        # seed, a fifth of a pass's cost that says nothing about the
        # program.
        emb = emb[:, rng.permutation(DIMS)] * rng.choice([-1.0, 1.0], DIMS)
        write(pa.table({
            "vec_id": pa.array(range(VECTORS), pa.int64()),
            "embedding": pa.array([list(r) for r in emb.astype(np.float32)],
                                  pa.list_(pa.float32())),
            "label": pa.array(base.integers(0, LABELS, VECTORS), pa.int32()),
        }), f"{out}/embeddings.parquet")
        write(pa.table({
            "o_orderkey": pa.array(range(ORDERS), pa.int64()),
            "o_custkey": pa.array(base.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        }), f"{out}/orders.parquet")
        lines = base.poisson(LINES_PER_ORDER, ORDERS)
        okeys = np.repeat(np.arange(ORDERS), lines)
        write(pa.table({
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_suppkey": pa.array(base.integers(0, SUPPLIERS, len(okeys)), pa.int64()),
        }), f"{out}/lineitem.parquet")

    if workload == "serve":
        write(index_docs_table(ids, texts), f"{out}/corpus.parquet")
        # the ingest pass's batch re-delivers a share of the corpus; the
        # phase-3 batch served beside reads is all new documents
        for name, n_upd, share in (("ingest_update", UPDATE_DOCS, REDELIVERED_SHARE),
                                   ("update", SERVE_UPDATE_DOCS, 0.0)):
            n_old = int(round(n_upd * share))
            old = sorted(int(x) for x in rng.choice(DOCS, size=n_old, replace=False))
            new_texts = make_texts(rng, n_upd - n_old, vocab, salt)
            upd_ids = old + list(range(DOCS, DOCS + n_upd - n_old))
            write(index_docs_table(upd_ids, [texts[i] for i in old] + new_texts),
                  f"{out}/{name}.parquet")

    ranked = list(vocab)
    rng.shuffle(ranked)
    pool = query_pool(rng, ranked)
    if workload == "serve":
        # the ingest pass's Spark-path client: each kind twice
        reads = [(0.0, k, *make_request(rng, pool, k)) for k in list(MIX) * 2]
        write_requests(reads, f"{out}/reads.tsv")
        # open loop: phases 1 and 3 share one arrival timeline
        # (phase 3 continues it past phase 1's 60% of `seconds` until a
        # second after its update commits; 40 s covers a slow update)
        n_open = int(OPEN_RATE * (seconds * 0.6 + 40))
        streams = [request_stream(rng, pool, n_open, OPEN_RATE),
                   request_stream(rng, pool, 2000, 0.0),
                   # warm-up stream: same mix, its own draws
                   request_stream(rng, pool, 1400, OPEN_RATE)]
        for rows, name in zip(streams, ("open", "closed", "warmup")):
            write_requests(rows, f"{out}/{name}.tsv")
        write_requests(parity_requests(streams), f"{out}/parity.tsv")

"""Seeded input generator for the benchmark.

Writes the tables the workloads read (events, documents, embeddings,
supplier, lineitem) as parquet, with the column layout of the engine's
testdata tables. Sizes are fixed; the seed picks every value: event
users, types, times and values; document words, languages, which
documents are exact or near copies of earlier ones; embedding
clusters; supplier nations and lineitem prices.

The document vocabulary mirrors the testdata corpus (30 uniformly drawn
words, near copies carry a trailing "dup" token), so the dedup, gate
and sketch gates see the same shape of input at every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "events": 4000,
    "users": 100,
    "documents": 600,
    "embeddings": 600,
    "supplier": 40,
    "lineitem": 6000,
}

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
TABLES = ("events", "documents", "embeddings", "supplier", "lineitem")
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "en", "de", "fr", "es", "zh"]
DIM = 64


def _events(rng, n, users):
    # timestamps over 30 days, microsecond grain, event_id in time order
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(1.0, 200.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.03:
            # exact copy of an earlier document, sometimes upper-cased
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper() if rng.random() < 0.5 else src)
        elif i >= 20 and r < 0.10:
            # near copy: one word swapped, "dup" appended
            words = texts[int(rng.integers(0, i))].lower().split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, n), 2)),
    })


def _lineitem(rng, n, n_supp):
    return pa.table({
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
    })


def generate(out_dir, seed, scale=1.0):
    """Write every table under `out_dir`; `scale` shrinks sizes for the
    self-check. Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sz = {k: max(8, int(v * scale)) for k, v in SIZES.items()}
    tables = {
        "events": _events(rng, sz["events"], sz["users"]),
        "documents": _documents(rng, sz["documents"]),
        "embeddings": _embeddings(rng, sz["embeddings"]),
        "supplier": _supplier(rng, sz["supplier"]),
        "lineitem": _lineitem(rng, sz["lineitem"], sz["supplier"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return {name: t.num_rows for name, t in tables.items()}

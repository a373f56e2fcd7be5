"""Seeded input tables for the benchmark.

The tables have the schemas and value domains of the repository's testdata
tables (customer, events, documents, embeddings; see TESTDATA.md at the
repository root), written as parquet the same way. The same seed gives the
same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def customers(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    offsets = np.sort(rng.integers(0, span_us, n))
    types = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    value[(value == 0) & (types == EVENT_TYPES.index("error"))] = 0.01
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in types],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, n, dup_share=0.05):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            # near duplicate: an earlier document with one extra token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, labels=10):
    centers = rng.normal(0.0, 0.6 / np.sqrt(EMBED_DIM), (labels, EMBED_DIM))
    label = rng.integers(0, labels, n).astype(np.int32)
    x = rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM)) + centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label,
    })


def generate(out_dir, seed, tables, sizes):
    """Write `tables` (a subset of customer/events/documents/embeddings) under
    out_dir as <name>.parquet. `sizes` maps a table to its row count, plus
    `users` for the distinct event users."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "customer": lambda r: customers(r, sizes["customer"]),
        "events": lambda r: events(r, sizes["events"], sizes["users"]),
        "documents": lambda r: documents(r, sizes["documents"]),
        "embeddings": lambda r: embeddings(r, sizes["embeddings"]),
    }
    for i, name in enumerate(sorted(tables)):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng), os.path.join(out_dir, f"{name}.parquet"))

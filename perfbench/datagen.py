"""Seeded inputs of the benchmark's workloads.

- `compas(seed, src, dst)`: a bootstrap resample (same row count) of the
  committed compas fixture, so each seed gives another table with the
  fixture's distribution.
- `query_tables(seed, dst)`: the tables the query mix reads, with the schema,
  value domains and sf0.01 row counts of the engine's test data (documents,
  embeddings, orders).
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def compas(seed, src, dst):
    """Write a bootstrap resample of `src` (index column renumbered) to `dst`;
    return its row count."""
    with open(src, newline="") as fh:
        rows = list(csv.reader(fh))
    header, body = rows[0], rows[1:]
    rng = np.random.default_rng(seed % 2**64)
    pick = rng.integers(0, len(body), size=len(body))
    with open(dst, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        for i, j in enumerate(pick):
            w.writerow([i] + body[j][1:])
    return len(body)


def _write(table, path):
    pq.write_table(table, path, version="2.6")


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, size=n).astype(np.int32)
    centers = rng.normal(0.0, 0.3, size=(labels, dim))
    v = centers[label] + rng.normal(0.0, 1.0, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(v.tolist(), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def orders(rng, n, customers):
    first, last = np.datetime64("1995-01-01"), np.datetime64("2001-08-01")
    dates = first + rng.integers(0, (last - first).astype(int) + 1, size=n).astype("timedelta64[D]")
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, size=n).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n), 2)),
        "o_orderdate": pa.array(dates.astype("datetime64[us]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(prio, size=n).tolist()),
    })


def query_tables(seed, dst):
    """Write the query-mix tables under `dst`, at the sf0.01 row counts of
    the engine's test data."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed % 2**64)
    _write(documents(rng, 500), os.path.join(dst, "documents.parquet"))
    _write(embeddings(rng, 500), os.path.join(dst, "embeddings.parquet"))
    _write(orders(rng, 15000, 1500), os.path.join(dst, "orders.parquet"))

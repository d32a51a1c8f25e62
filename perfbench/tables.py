"""Deterministic parquet tables for the query workload.

Writes `events`, `lineitem`, `documents` and `embeddings` in the layout
and physical types of the repo's test data (TESTDATA.md: one parquet file
per table, timestamps as TIMESTAMP(MICROS) without time zone), at about
the row counts of its sf0.01 scale. The tables come from a fixed seed, so the
result fingerprints recorded in `fingerprints.json` stay valid; the
benchmark's `--seed` only permutes the order in which queries run.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"),
                   compression="snappy")
    return table.num_rows


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // 66, 2), n)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, n):
    orders = max(n // 4, 1)
    key = rng.choice(orders * 7, n, replace=False)
    day0 = np.datetime64("1995-01-02", "D").astype(np.int64)
    days = day0 + rng.integers(0, 2498, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(key // 7),
        "l_partkey": pa.array(rng.integers(0, max(n // 30, 2), n)),
        "l_suppkey": pa.array(rng.integers(0, 100, n)),
        "l_linenumber": pa.array((key % 7 + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n)),
        "l_linestatus": pa.array(rng.choice(("O", "F"), n)),
        "l_shipdate": pa.array((days * 86400 * 10**6), pa.timestamp("us")),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # a near duplicate of an earlier document
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0, 0.7, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, scale=0.01):
    """Write the four tables; returns their total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    return (_write(out_dir, "events", events(rng, int(1_000_000 * scale)))
            + _write(out_dir, "lineitem", lineitem(rng, int(6_000_000 * scale)))
            + _write(out_dir, "documents", documents(rng, int(50_000 * scale)))
            + _write(out_dir, "embeddings", embeddings(rng, int(50_000 * scale))))


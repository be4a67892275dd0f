"""Seeded generator for the query_suite input tables.

Writes `documents`, `embeddings` and `lineitem` parquet files with the
column names and types of the engine's sf0.1 test tables, so every
suite query and its DuckDB oracle SQL run unchanged over them. The same
seed gives byte-identical tables.

The value distributions follow the sf0.1 tables as `shape.py` measures
them (README, Input shape). `documents` and `lineitem` are 16% of sf0.1:
their per-row figures (near-duplicate share, words per text, share of
SimHash candidate pairs) do not depend on the row count. `embeddings` is
full sf0.1 size: the sf0.1 vectors are independent unit Gaussians with no
planted near-duplicates, and the LSH pair graph they give grows with the
square of the row count, so only the full 2,000 vectors give its shape (a
giant component of about two thirds of the vectors).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# rows per table: 16% of the sf0.1 test tables, embeddings 100%
SIZES = {"documents": 800, "embeddings": 2000, "lineitem": 96000}


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the sf0.1 tables
            words = texts[int(rng.integers(0, i))].split()
            if words[-1] == "dup":
                words = words[:-1]
            if rng.random() < 0.3:
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    # independent unit Gaussians, as in the sf0.1 table
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def lineitem(rng, n):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105000.0, n), 2)
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, 600001, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(1, 20001, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1001, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n).tolist(),
                                 pa.string()),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def write_tables(out_dir, seed, sizes=SIZES):
    """Write every table under `out_dir`; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"documents": documents, "embeddings": embeddings,
              "lineitem": lineitem}
    rows = {}
    for i, (name, make) in enumerate(sorted(makers.items())):
        rng = np.random.default_rng([seed, i])
        t = make(rng, sizes[name])
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows

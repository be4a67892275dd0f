#!/usr/bin/env python3
"""Prints the shape figures of a `documents` + `embeddings` table pair that
decide how much work the suite's dedup and similarity queries do.

    python3 perfbench/shape.py <tables dir>

For `embeddings` it replays the blocking of `Similarity.neardupLsh` (16
integer-LCG sign bits in 2 bands of 8, buckets capped at 64, cosine
threshold 0.25) and the round rule of `Similarity.connectedComponents`
(neighbour-min plus lbl(lbl(v)), convergence probed every second round),
in plain numpy. For `documents` it counts the near-duplicates (texts that
end in the word `dup`) and exact duplicate texts. `tables.py` is tuned so
that its tables give the figures of the engine's sf0.1 test tables, scaled.
"""
import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

PLANES, BANDS, BUCKET_CAP, THRESHOLD = 16, 2, 64, 0.25


def lcg_planes(dim):
    p = np.arange(PLANES, dtype=np.int64)[:, None]
    j = np.arange(dim, dtype=np.int64)[None, :]
    return (1103515245 * (p * 131 + j) + 12345) % 2000001 - 1000000


def signatures(emb):
    vi = np.round(emb.astype(np.float64) * 1e6).astype(np.int64)
    proj = vi @ lcg_planes(emb.shape[1]).T
    return ((proj >= 0).astype(np.int64) << np.arange(PLANES)).sum(axis=1)


def candidates(ids, sig):
    bits = PLANES // BANDS
    cand = set()
    for b in range(BANDS):
        chunk = (sig >> (b * bits)) & ((1 << bits) - 1)
        buckets = {}
        for i, c in zip(ids, chunk):
            buckets.setdefault(int(c), []).append(int(i))
        for members in buckets.values():
            if len(members) > BUCKET_CAP:
                continue
            members.sort()
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    cand.add((members[x], members[y]))
    return cand


def cc_rounds(pairs):
    """Rounds the Spark loop runs, and the component sizes."""
    nb = {}
    for a, b in pairs:
        nb.setdefault(a, set()).add(b)
        nb.setdefault(b, set()).add(a)
    if not nb:
        return 0, []
    lbl = {v: min({v} | n) for v, n in nb.items()}
    prev, it = sum(lbl.values()), 0
    while True:
        lbl = {v: min([lbl[u] for u in n] + [lbl[lbl[v]]])
               for v, n in nb.items()}
        it += 1
        if it % 2 == 0:
            cur = sum(lbl.values())
            if cur == prev:
                break
            prev = cur
    return it, sorted(Counter(lbl.values()).values(), reverse=True)


def embedding_shape(path):
    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy()
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    cand = sorted(candidates(ids, signatures(emb)))
    row = {int(v): k for k, v in enumerate(ids)}
    e64 = emb.astype(np.float64)
    norm = np.sqrt((e64 * e64).sum(axis=1))
    kept = []
    for a, b in cand:
        x, y = row[a], row[b]
        if round(float(e64[x] @ e64[y]) / (norm[x] * norm[y]), 4) >= THRESHOLD:
            kept.append((a, b))
    rounds, sizes = cc_rounds(kept)
    n = len(ids)
    return {
        "vectors": n,
        "candidate_pairs": len(cand),
        "candidate_pairs_per_vector": round(len(cand) / n, 2),
        "kept_pairs": len(kept),
        "pair_graph_vertices": sum(sizes),
        "components": len(sizes),
        "largest_components": sizes[:5],
        "components_of_size_2": sum(1 for s in sizes if s == 2),
        "cc_rounds": rounds,
    }


def document_shape(path):
    t = pq.read_table(path, columns=["text"])
    texts = t.column("text").to_pylist()
    n = len(texts)
    words = [len(x.split()) for x in texts]
    return {
        "documents": n,
        "near_dup_share": round(sum(x.endswith(" dup") for x in texts) / n, 4),
        "exact_dup_texts": n - len(set(texts)),
        "words_mean": round(float(np.mean(words)), 1),
    }


def main():
    d = sys.argv[1]
    print(json.dumps({
        "documents": document_shape(os.path.join(d, "documents.parquet")),
        "embeddings": embedding_shape(os.path.join(d, "embeddings.parquet")),
    }, indent=1))


if __name__ == "__main__":
    main()

"""Seeded generator for the benchmark's input tables.

Writes `events`, `documents` and `embeddings` parquet files shaped like the
repository's synthetic testdata (see TESTDATA.md): the same columns, types,
value domains and proportions, scaled by `sf` (sf0.1 = 100k events, 5k
documents, 2k embeddings). The same (seed, sf) always gives the same bytes.

    python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def events(rng, n, n_users):
    ts = np.sort(START_US + rng.integers(0, 30 * DAY_US, n))
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # a planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = rng.normal(size=(n, dim)) / np.sqrt(dim) + 0.07 * centers[label]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events(rng, int(1_000_000 * sf), max(100, int(15_000 * sf))),
        "documents": documents(rng, max(500, int(50_000 * sf))),
        "embeddings": embeddings(rng, max(500, int(20_000 * sf))),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))

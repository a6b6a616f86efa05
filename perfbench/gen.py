"""Seeded input tables for the benchmark: ``events``, ``documents`` and
``embeddings``, the only tables the benchmark's queries read.

Shapes follow the sf0.01 test tables: 10,000 events over 150
users and 30 days (timestamps stored as parquet TIMESTAMP(NANOS), in
event-id order), 500 documents of 8-100 words over 20 sources, and 500
64-float embeddings around 10 cluster centres. Every run gets the same
byte-identical files; ``--seed`` only draws the query order.

Usage: python3 perfbench/gen.py <out_dir>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_EMB = 500
DIM = 64
SEED = 0
DAY_NS = 86_400 * 10**9
BASE_2024_NS = 1_704_067_200 * 10**9  # 2024-01-01 UTC

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group query big filter key window row table stream "
         "merge data agg vector join shuffle customer").split()
LANGS = ["en", "zh", "es", "de", "fr"]


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(SEED)
    ts = np.sort(rng.integers(0, 30 * DAY_NS, N_EVENTS, dtype=np.int64))
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(BASE_2024_NS + ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.choice(5, N_EVENTS, p=[0.2, 0.2, 0.2, 0.2, 0.2])]),
        "value": np.round(rng.exponential(60.0, N_EVENTS).clip(0, 600), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, N_EVENTS)],
    })
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.integers(8, 101, N_DOCS)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[
            rng.choice(5, N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_EMB)
    centres = rng.normal(0, 1, (10, DIM))
    vecs = (centres[labels]
            + rng.normal(0, 0.6, (N_EMB, DIM))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"events": events, "documents": documents,
            "embeddings": embeddings}


def write(out_dir: str) -> None:
    """Write the tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])

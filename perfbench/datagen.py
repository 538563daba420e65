"""Seeded input tables for the benchmark.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with the
same schemas, value domains and one-row-group layout as the engine's test
tables, so every declared query and its DuckDB oracle run on them
unchanged. The same seed always gives byte-identical rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
# 2024-01-01T00:00:00Z .. +30 days, in microseconds
TS_START_US = 1_704_067_200_000_000
TS_SPAN_US = 30 * 86_400 * 1_000_000


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, TS_SPAN_US, n)) + TS_START_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)].tolist()
            ),
            "value": pa.array(np.round(rng.integers(0, 56_000, n) / 100.0, 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary documents of 10-100 words; about 5% are copies of
    another document, half of those with a trailing ``dup`` token, so the
    dedup stages find real exact and near duplicates."""
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + (" dup" if rng.random() < 0.5 else "")
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, events: int, documents: int,
                 embeddings: int) -> str:
    """Write the three tables under ``out_dir`` (one parquet file and one
    row group each) and return ``out_dir``. Each table draws from its own
    child stream, so resizing one table leaves the others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    ev_rng, doc_rng, emb_rng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(3)
    )
    tables = {
        "events": events_table(ev_rng, events, max(1, events // 67)),
        "documents": documents_table(doc_rng, documents),
        "embeddings": embeddings_table(emb_rng, embeddings),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    return out_dir

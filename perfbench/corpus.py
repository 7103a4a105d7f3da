"""Seeded inputs for the benchmark workloads.

`write_tables` builds the three tables the corpus queries read
(`documents`, `events`, `embeddings`) with the same schema and the same
statistical shape as the testdata of TESTDATA.md: random bags over a
30-word vocabulary, ~5% near-duplicate documents (an earlier document
plus the word "dup"), 64-dim unit embeddings, and an events stream over
30 days.  Everything is numpy-seeded, so one seed gives byte-identical
tables, and the files are written with pyarrow: no Spark job runs while
inputs are made.

The row-to-file layout follows `bench._prep_input`'s per-table split
rule (documents 2x cores files, events >= 25k rows/file, embeddings
>= 250 rows/file), with rows dealt to files in a seeded permutation.
`bench._prep_input` itself writes to /dev/shm; the benchmark keeps every
file inside its checkout, so it reimplements the rule here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, size=n, endpoint=True)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # near-duplicates: an earlier document's text plus one marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), size=n),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def write_split(table: pa.Table, path: str, n_files: int,
                rng: np.random.Generator) -> None:
    """Deal the rows to `n_files` part files in a seeded permutation."""
    os.makedirs(path)
    order = rng.permutation(table.num_rows)
    for i, idx in enumerate(np.array_split(order, n_files)):
        pq.write_table(table.take(pa.array(np.sort(idx))),
                       f"{path}/part-{i:05d}.parquet")


def write_tables(out_dir: str, seed: int, n_docs: int, cpus: int) -> None:
    """Write documents/events/embeddings under `out_dir`.  Sizes follow
    the testdata ratios (sf0.1: 5k documents, 100k events, 2k
    embeddings)."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, n_docs),
        "events": events(rng, 20 * n_docs),
        "embeddings": embeddings(rng, 2 * n_docs // 5),
    }
    wide = max(2 * cpus, 32)
    files = {
        "documents": wide,
        "events": max(1, min(wide, tables["events"].num_rows // 25_000)),
        "embeddings": max(1, min(wide, tables["embeddings"].num_rows // 250)),
    }
    for name, t in tables.items():
        write_split(t, f"{out_dir}/{name}.parquet", files[name], rng)

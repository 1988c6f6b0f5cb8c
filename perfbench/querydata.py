"""Seeded input tables for the ``queries`` workload.

The benchmarked queries read two of the package's test tables
(``documents`` and ``embeddings``). The benchmark
writes its own copies, with the same schemas and value shapes, from the
run's seed, so it needs nothing outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# rows per table: half the sf0.01 shape, so one warm pass over the
# queries stays near ten seconds on four cores
SIZES = dict(documents=250, embeddings=250)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (what d5-d8/c3 find)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang = rng.choice(LANGS, n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


MAKERS = dict(documents=_documents, embeddings=_embeddings)


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for each table; returns row counts."""
    rows = {}
    for i, (name, make) in enumerate(MAKERS.items()):
        table = make(np.random.default_rng([seed, i]), SIZES[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

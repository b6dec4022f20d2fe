"""Seeded benchmark inputs.

Every input is generated here and written as parquet under the run's
work directory, so Spark and the DuckDB oracles read byte-identical
rows and the program under test receives only the generated frames.

- ``documents`` (doc_id, text, lang, source, n_chars): a fixed base
  corpus of ``BASE_DOCS`` texts in the shape of the sf fixtures (a
  30-word vocabulary, 10-99 words, the fixture's language mix, a few
  near-duplicates), replicated to the requested size.  The seed sets
  the doc_id offset of the replicated range; every pages column that
  ``pages.spark_pages_sql`` derives (host, status, ip, timestamp) is a
  function of doc_id, so the seed moves the route mix.
- ``embeddings`` (vec_id, embedding, label): ``BASE_VECS`` unit
  vectors around ten label centres, replicated with a seeded Gaussian
  perturbation per copy so copies do not collapse onto one point.
  vec_ids start at 0 because the IVF seeding takes the first ids.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5000
BASE_VECS = 2000
DIM = 64
BASE_SEED = 20240315  # the base corpus is fixed; --seed varies the rest

_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_LANGS = ["en"] * 218 + ["zh"] * 75 + ["es"] * 73 + ["de"] * 70 + ["fr"] * 64


def _base_documents() -> pa.Table:
    rng = random.Random(BASE_SEED)
    texts: list[str] = []
    for i in range(BASE_DOCS):
        if i > 10 and rng.random() < 0.03:
            # near-duplicate of an earlier text: one word swapped
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(10, 99))]
            if rng.random() < 0.05:
                words.append("dup")
        texts.append(" ".join(words))
    return pa.table(
        {
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(BASE_DOCS)],
            "source": [f"src{rng.randrange(20)}" for _ in range(BASE_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def doc_offset(seed: int) -> int:
    return seed * 1_000_003


def write_documents(path: str, n_docs: int, seed: int, files: int) -> None:
    """``n_docs`` documents with doc_ids ``offset .. offset + n_docs - 1``
    in ``files`` contiguous parquet files (one Spark scan split each)."""
    base = _base_documents()
    offset = doc_offset(seed)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_docs, files + 1).astype(np.int64)
    for f in range(files):
        rel = np.arange(bounds[f], bounds[f + 1], dtype=np.int64)
        part = base.take(pa.array(rel % BASE_DOCS))
        part = part.add_column(0, "doc_id", pa.array(rel + offset))
        pq.write_table(part, f"{path}/part-{f:03d}.parquet")


def write_embeddings(path: str, copies: int, seed: int, sigma: float = 0.02) -> None:
    """``BASE_VECS * copies`` embeddings; copy ``c`` of base vector ``j``
    has vec_id ``c * BASE_VECS + j`` and its own seeded perturbation."""
    base_rng = np.random.default_rng(BASE_SEED)
    centres = base_rng.standard_normal((10, DIM))
    labels = base_rng.integers(0, 10, BASE_VECS).astype(np.int32)
    base = centres[labels] * 0.5 + base_rng.standard_normal((BASE_VECS, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rng = np.random.default_rng([seed, 1])
    os.makedirs(path, exist_ok=True)
    for c in range(copies):
        vecs = (base + sigma * rng.standard_normal(base.shape)).astype(np.float32)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(BASE_VECS, dtype=np.int64) + c * BASE_VECS),
                    "embedding": pa.ListArray.from_arrays(
                        pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32)),
                        pa.array(vecs.ravel()),
                    ),
                    "label": pa.array(labels),
                }
            ),
            f"{path}/part-{c:03d}.parquet",
        )

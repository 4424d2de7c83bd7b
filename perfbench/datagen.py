"""Seeded input tables for the benchmark.

The tables have the shapes of the synthetic testdata the package is
built against (TESTDATA.md): ``events`` (the sensor feed the feature
store ingests), ``documents`` (the text corpus) and ``embeddings`` (the
vector corpus). They are generated here, from the run's seed, so a run
needs nothing outside its checkout and the same seed gives the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The 30-word vocabulary of the testdata corpus, plus its near-dup marker.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
START = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def events_table(rng: np.random.Generator, *, days: int, rows: int, entities: int) -> pa.Table:
    """``rows`` events over ``days`` days for ``entities`` entities, with
    distinct microsecond timestamps and ``event_id`` in time order."""
    offs = np.unique(rng.integers(0, days * DAY_US, rows))
    n = len(offs)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(START + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, entities, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            # 0-560 at 2 decimals: every AQI breakpoint arm, the gaps
            # between arms (e.g. 12.05) and the > 500.4 default.
            "value": pa.array(np.round(rng.uniform(0.0, 560.0, n), 2)),
            "props": pa.array(props, pa.string()),
        }
    )


def documents_table(rng: np.random.Generator, *, docs: int) -> pa.Table:
    """10-100 word documents; about 5% are an earlier document plus the
    word ``dup`` (near duplicates) and 1% are exact copies."""
    texts: list[str] = []
    for i in range(docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, *, vectors: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with labels 0-9; about 2% are a perturbed
    copy of an earlier vector, so the dedup scans find pairs."""
    v = rng.standard_normal((vectors, dim))
    for i in np.flatnonzero(rng.random(vectors) < 0.02):
        if i > 0:
            v[i] = v[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, vectors).astype(np.int32)),
        }
    )


def write_inputs(data_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write the tables named in ``sizes`` to ``{data_dir}/{name}.parquet``
    and return their row counts. Each table draws from its own stream of
    the seed, so adding a table never changes another."""
    os.makedirs(data_dir, exist_ok=True)
    builders = {
        "events": lambda r: events_table(
            r, days=sizes["days"], rows=sizes["events"], entities=sizes["entities"]
        ),
        "documents": lambda r: documents_table(r, docs=sizes["documents"]),
        "embeddings": lambda r: embeddings_table(r, vectors=sizes["embeddings"]),
    }
    rows = {}
    for i, name in enumerate(("events", "documents", "embeddings")):
        if name not in sizes:
            continue
        table = builders[name](np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

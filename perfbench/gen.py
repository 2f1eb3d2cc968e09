"""Seeded inputs for the benchmark: tables, render requests, carbon files.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same seed gives byte-identical inputs.  The tables follow the schema of
the engine's synthetic test tables (``events``, ``documents``,
``embeddings``) so the engine and the registered contract queries read them
unchanged:

- ``events``: one row per point, ``bg.<event_type>.u<user_id>`` after the
  engine's name mapping, spread over the 30 days before the engine's fixed
  ``now`` (2024-02-01 UTC);
- ``documents``: bag-of-words texts over a 30-word vocabulary, with a share
  of planted near-duplicates (a copy plus the word ``dup``), so the dedup
  and graph operators find real clusters;
- ``embeddings``: unit-norm 64-d vectors around 10 labelled centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from biggraphite_spark.sources.events import NOW

SPAN_S = 30 * 86400
EPOCH0 = NOW - SPAN_S
EVENT_TYPES = ("click", "view", "error", "signup", "purchase")
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)


def events_table(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    ts_us = np.sort(rng.integers(0, SPAN_S * 1_000_000, n_events)) + EPOCH0 * 1_000_000
    value = np.round(rng.exponential(50.0, n_events), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def documents_table(rng: np.random.Generator, n_docs: int, dup_frac: float = 0.08) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_frac:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 80))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng: np.random.Generator, n_vecs: int, dim: int = 64,
                     n_labels: int = 10) -> pa.Table:
    centroids = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, *, n_events: int = 0, n_users: int = 1,
                 n_docs: int = 0, n_vecs: int = 0) -> None:
    """Write the seeded tables the workload needs into ``out_dir``; each
    table draws from its own child stream, so sizing one leaves the
    others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    ev_rng, doc_rng, emb_rng = (np.random.default_rng(s)
                                for s in np.random.SeedSequence(seed).spawn(3))
    if n_events:
        pq.write_table(events_table(ev_rng, n_events, n_users),
                       os.path.join(out_dir, "events.parquet"))
    if n_docs:
        pq.write_table(documents_table(doc_rng, n_docs),
                       os.path.join(out_dir, "documents.parquet"))
    if n_vecs:
        pq.write_table(embeddings_table(emb_rng, n_vecs),
                       os.path.join(out_dir, "embeddings.parquet"))

"""Synthetic input tables for the operator sweep.

The ``__spark_entry__.queries()`` operators read three tables from a
directory: ``events`` (the synthetic frontier), ``documents`` (text
curation and dedup) and ``embeddings`` (similarity). This module writes
them as parquet with the column types and value distributions of the
project's sf0.01 test data, from a fixed seed, so the benchmark needs
no data from outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def write_tables(
    out_dir: str,
    n_docs: int,
    n_vecs: int,
    n_events: int,
    seed: int = 42,
) -> None:
    """Write documents, embeddings and events parquet files into out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    names, probs = zip(*LANGS)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(names, n_docs, p=probs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )

    gaps_us = rng.exponential(259_000_000, n_events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.maximum(
                0.01, np.round(rng.exponential(50.0, n_events), 2)
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    for name, df in (
        ("documents", docs),
        ("embeddings", emb),
        ("events", events),
    ):
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

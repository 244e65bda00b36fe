"""Seeded input generation.  Every table and request the benchmark uses is
drawn here from one ``numpy.random.Generator``; the same seed gives the
same bytes.

Shapes follow the repo's sf0.1 test tables (TESTDATA.md): ``events``
(event_id, ts, user_id, event_type, value, props), ``documents``
(doc_id, text, lang, source, n_chars) over a small word vocabulary, and
``embeddings`` (vec_id, embedding).
"""

from __future__ import annotations

import datetime as dt
import io
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

EPOCH = dt.datetime(2024, 1, 1)
US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window index shard token page block cache frame "
    "tick bar".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])


@dataclass(frozen=True)
class EventsShape:
    rows: int = 100_000
    days: int = 30
    keys: int = 1_500
    key_skew: float = 0.5  # rows per key ~ rank^-skew


def key_weights(n_keys: int, skew: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1) ** skew
    return w / w.sum()


def events_table(rng: np.random.Generator, shape: EventsShape,
                 start_us: int = 0, first_id: int = 0,
                 span_us: int | None = None) -> pa.Table:
    """``rows`` ticks spread uniformly over ``span_us`` from ``start_us``
    (µs after 2024-01-01), keys Zipf-skewed, event ids in time order."""
    span = span_us if span_us is not None else shape.days * US_PER_DAY
    n = shape.rows
    ts = np.sort(start_us + rng.integers(0, span, n))
    keys = rng.choice(shape.keys, size=n, p=key_weights(shape.keys, shape.key_skew))
    epoch_us = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts + epoch_us, pa.timestamp("us")),
        "user_id": pa.array(keys.astype(np.int64), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.5, 250.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def arrow_ipc(table: pa.Table) -> bytes:
    """The ``Engine.bset`` wire form: an Arrow IPC stream."""
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def ts_at(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=int(us))


def zipf_key(rng: np.random.Generator, n_keys: int, s: float = 1.1) -> int:
    """Request key: rank-Zipf over the keys, rank 0 the most-written key."""
    return int(rng.choice(n_keys, p=key_weights(n_keys, s)))


def recent_day(rng: np.random.Generator, days: int) -> int:
    """A day index favouring the newest days (geometric back from the last)."""
    return days - 1 - min(int(rng.geometric(0.25)) - 1, days - 1)


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64,
                     clusters: int = 16, noise: float = 0.35) -> pa.Table:
    """``n`` float32 vectors scattered around ``clusters`` Gaussian centres
    (the sf0.1 ``embeddings`` shape: vec_id, embedding[dim])."""
    centres = rng.normal(size=(clusters, dim))
    vecs = centres[rng.integers(0, clusters, n)] + noise * rng.normal(size=(n, dim))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
    })


def documents_table(rng: np.random.Generator, n_docs: int,
                    exact_share: float = 0.05,
                    near_share: float = 0.05) -> pa.Table:
    """``n_docs`` random-word documents plus planted exact copies and
    word-perturbed near-copies, each under a fresh id after the originals."""
    lens = rng.integers(10, 101, n_docs)
    words = [VOCAB[rng.integers(0, len(VOCAB), n)] for n in lens]
    texts = [" ".join(w) for w in words]
    # a few punctuation-heavy docs so the quality gate has work to do
    for i in rng.choice(n_docs, size=n_docs // 50, replace=False):
        texts[i] = texts[i].replace(" ", ", ", 6)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    src = rng.choice(n_docs, size=n_exact + n_near, replace=False)
    for j, i in enumerate(src):
        if j < n_exact:
            texts.append(texts[i])
            continue
        w = texts[i].split()
        for p in rng.choice(len(w), size=max(1, len(w) // 20), replace=False):
            w[p] = str(VOCAB[rng.integers(0, len(VOCAB))])
        texts.append(" ".join(w))
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

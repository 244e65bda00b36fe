"""The offline index artifacts of the ``corpus`` workload, written straight
to parquet in the layouts the package's loaders read (``load_text_index``,
``load_ivf_centroids``, ``load_pq_codebooks``, the PQ code table).

The package's own index jobs run a chain of small Spark jobs each (tens of
seconds per run on a 4-core host), which every benchmark run would pay in
set-up.  These builders do the same arithmetic in numpy instead: the
serve paths are what the workload times, and every served answer is
checked against twins computed from the raw inputs, so an artifact that
differed from the package's would fail the run rather than pass unseen.
"""

from __future__ import annotations

import collections
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Spark's split(lower(trim(text)), '\s+'): trim strips spaces only, and
# Java's \s is this class
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def text_index(docs: pa.Table, path: str) -> None:
    """postings (doc, term, tf), doclen (doc, dl) and stats (n, avgdl)."""
    post_doc, post_term, post_tf, dl = [], [], [], []
    ids = docs.column("doc_id").to_pylist()
    for doc, text in zip(ids, docs.column("text").to_pylist()):
        counts = collections.Counter(_WS.split(text.strip(" ").lower()))
        for term, tf in counts.items():
            post_doc.append(doc)
            post_term.append(term)
            post_tf.append(tf)
        dl.append(sum(counts.values()))
    _write(pa.table({"doc": pa.array(post_doc, pa.int64()),
                     "term": pa.array(post_term, pa.string()),
                     "tf": pa.array(post_tf, pa.int64())}),
           os.path.join(path, "postings"))
    _write(pa.table({"doc": pa.array(ids, pa.int64()),
                     "dl": pa.array(dl, pa.int64())}), os.path.join(path, "doclen"))
    _write(pa.table({"n": pa.array([len(ids)], pa.int64()),
                     "avgdl": pa.array([float(np.mean(dl))], pa.float64())}),
           os.path.join(path, "stats"))


def _unit(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(n == 0, 1.0, n)


def ivf_centroids(vecs: np.ndarray, path: str, n_centroids: int = 16,
                  iters: int = 2) -> None:
    """Lloyd rounds seeded with the lowest-id vectors: assign by cosine,
    update to the list mean (empty lists keep their centroid)."""
    cents = vecs[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(_unit(vecs) @ _unit(cents).T, axis=1)
        for c in range(n_centroids):
            if (assign == c).any():
                cents[c] = vecs[assign == c].mean(axis=0)
    _write(pa.table({"centroid_id": pa.array(np.arange(n_centroids), pa.int64()),
                     "__cent": pa.array(list(cents), pa.list_(pa.float64()))}), path)


def pq_codebooks(vecs: np.ndarray, books_path: str, codes_path: str,
                 m: int = 8, k: int = 64, iters: int = 2) -> None:
    """Per-subspace Euclidean k-means over the unit-normalised vectors
    (seeded with the lowest-id sub-vectors), then the code table: each
    vector's nearest codeword per subspace."""
    x = _unit(vecs)
    d = x.shape[1] // m
    subs = [x[:, s * d:(s + 1) * d] for s in range(m)]

    def nearest(xs, cb):
        return np.argmin(np.sum(cb * cb, axis=1)[None, :] - 2.0 * xs @ cb.T, axis=1)

    books = [xs[:k].copy() for xs in subs]
    for _ in range(iters):
        for s, xs in enumerate(subs):
            a = nearest(xs, books[s])
            for c in range(k):
                if (a == c).any():
                    books[s][c] = xs[a == c].mean(axis=0)
    _write(pa.table({
        "sub": pa.array(np.repeat(np.arange(m), k), pa.int32()),
        "cid": pa.array(np.tile(np.arange(k), m), pa.int32()),
        "cent": pa.array([books[s][c] for s in range(m) for c in range(k)],
                         pa.list_(pa.float64())),
    }), books_path)
    codes = np.stack([nearest(xs, books[s]) for s, xs in enumerate(subs)], axis=1)
    _write(pa.table({"id": pa.array(np.arange(len(vecs)), pa.int64()),
                     "codes": pa.array(list(codes.astype(np.int32)),
                                       pa.list_(pa.int32()))}), codes_path)

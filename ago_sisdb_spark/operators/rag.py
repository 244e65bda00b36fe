"""Chunk-level retrieval — the RAG ingest/serve composite over CDC chunks.

Pipeline: content-defined chunking (dedup.cdc_chunk_docs, boundaries that
survive edits) → deterministic trigram-hash chunk embeddings (an
integer-exact stand-in for a model encoder: same plumbing, same plan
shape, swap the mapInPandas body for a real encoder) → cosine top-k with
(doc_id, chunk_idx) provenance.

Scale shape: embedding is embarrassingly row-parallel mapInPandas (no
shuffle — scales with scan bandwidth; at 100 TB the embedded corpus is
materialized once as parquet, exactly like the MinHash band index).  The
serve side broadcasts the tiny query set (BroadcastNestedLoopJoin), scores
with integer-exact array arithmetic, and ranks inside a per-query window —
the same WindowGroupLimit shape as n4's IVF serve.  Swap the brute scan
for n2/n4's LSH/IVF bucketing when the chunk corpus outgrows one pass.

Cross-engine exactness: raw embeddings are INTEGER trigram-count vectors,
so dot products and squared norms are exact in both engines regardless of
summation order; the only float ops are one sqrt and one division —
bit-identical IEEE on both — which is what lets pipe9's DuckDB oracle
hash-check the whole retrieval end-to-end (same trick as t24's ridge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ago_sisdb_spark.materialize import materialize, spread

EMBED_DIM = 16


def embed_chunks_trigram(
    chunks: DataFrame,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    chunk_col: str = "chunk",
    dim: int = EMBED_DIM,
    min_len: int = 8,
) -> DataFrame:
    """(id, idx, chunk) → (id, idx, vec array<bigint>[dim], norm double).

    vec[d] = number of character trigrams whose code (c0·961 + c1·31 + c2,
    unicode code points, matching DuckDB ``ascii``) ≡ d (mod dim); norm is
    the L2 length.  Chunks shorter than ``min_len`` are dropped (a ≥3-char
    chunk always has ≥1 trigram, so norm > 0 for every emitted row).
    Vectorized per row (sliding-window dot, the d11 pattern — per-char
    relational HOFs re-evaluate their source per element)."""
    import numpy as np
    import pandas as pd

    globals()["pd"] = pd  # pandas_udf/mapInPandas + future-annotations gotcha
    out_schema = f"`{id_col}` long, `{idx_col}` long, vec array<long>, norm double"

    def gen(batches):
        for pdf in batches:
            ids, idxs, vecs, norms = [], [], [], []
            for did, cidx, c in zip(pdf[id_col], pdf[idx_col], pdf[chunk_col]):
                if c is None or len(c) < min_len:
                    continue
                codes = np.fromiter(map(ord, c), dtype=np.int64, count=len(c))
                trig = (codes[:-2] * 961 + codes[1:-1] * 31 + codes[2:]) % dim
                v = np.bincount(trig, minlength=dim)
                ids.append(did)
                idxs.append(cidx)
                vecs.append(v.tolist())
                norms.append(float(np.sqrt(float((v * v).sum()))))
            # dtype-explicit: an EMPTY batch otherwise yields float64
            # columns and Arrow refuses float64 -> list<int64> (sparse
            # filters upstream make empty partitions routine at scale)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    idx_col: pd.Series(idxs, dtype="int64"),
                    "vec": pd.Series(vecs, dtype="object"),
                    "norm": pd.Series(norms, dtype="float64"),
                }
            )

    return chunks.select(id_col, idx_col, chunk_col).mapInPandas(gen, out_schema)


def chunk_embed_trigram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    divisor: int = 64,
    dim: int = EMBED_DIM,
    min_len: int = 8,
) -> DataFrame:
    """FUSED CDC chunking + trigram embedding in ONE mapInPandas pass —
    result-identical to ``embed_chunks_trigram(dedup.cdc_chunk_docs(docs))``
    (pinned by tests/test_rag.py), but the chunk strings never cross the
    Arrow boundary: the two-stage form pays JVM→Python→JVM→Python→JVM
    with the full chunk text serialized in the middle hop.  This is the
    ingest hot path (index build + pipe9 direct retrieval); keep the
    two-stage operators for callers that need the chunk TEXT itself
    (duplicate-span reports, rewrite)."""
    import numpy as np
    import pandas as pd

    globals()["pd"] = pd  # pandas_udf/mapInPandas + future-annotations gotcha
    w, d = window, divisor
    weights = np.array([31**j for j in range(w)][::-1], dtype=np.int64)
    out_schema = f"`{id_col}` long, chunk_idx long, vec array<long>, norm double"

    def gen(batches):
        for pdf in batches:
            ids, idxs, vecs, norms = [], [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                t = txt.strip(" ").lower()  # parity with SQL trim/lower
                n = len(t)
                if n == 0:
                    continue
                codes = None
                ends = [n]
                if n >= w:
                    codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                    h = (
                        np.lib.stride_tricks.sliding_window_view(codes, w)
                        @ weights
                    )
                    hits = (np.nonzero(h % d == 0)[0] + w).tolist()
                    ends = sorted(set(hits + [n]))
                if codes is None:
                    codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                prev = 0
                for k, e in enumerate(ends):
                    clen = e - prev
                    if clen >= min_len:
                        c = codes[prev:e]
                        trig = (c[:-2] * 961 + c[1:-1] * 31 + c[2:]) % dim
                        v = np.bincount(trig, minlength=dim)
                        ids.append(did)
                        idxs.append(k)
                        vecs.append(v.tolist())
                        norms.append(float(np.sqrt(float((v * v).sum()))))
                    prev = e
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "vec": pd.Series(vecs, dtype="object"),
                    "norm": pd.Series(norms, dtype="float64"),
                }
            )

    # Map parallelism comes from input splits at scale; a local corpus in
    # one small file would otherwise chunk+embed on a single task (the
    # shingle_rows guard, same rationale)
    slim = spread(docs.select(F.col(id_col), F.col(text_col)), id_col)
    return slim.mapInPandas(gen, out_schema)


def chunk_index_path(warehouse_dir: str, tag: str) -> str:
    """Canonical location of a persisted chunk-embedding index, beside the
    other serve-time artifacts (MinHash band index, PQ codebooks, LR
    weights)."""
    import os

    return os.path.join(
        warehouse_dir, "chunk_index", tag.strip("/").replace("/", "_")
    )


def _write_chunk_index(
    docs: DataFrame, path: str, mode: str,
    id_col: str, text_col: str, dim: int, min_len: int,
) -> None:
    """ONE ingest pipeline for both build and append — a one-sided edit
    can't make appended rows diverge from built rows.  Uses the fused
    single-pass ``chunk_embed_trigram`` (two-stage parity pinned in
    tests/test_rag.py)."""
    chunk_embed_trigram(
        docs, id_col=id_col, text_col=text_col, dim=dim, min_len=min_len
    ).write.mode(mode).parquet(path)


def build_chunk_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = EMBED_DIM,
    min_len: int = 8,
) -> None:
    """Materialize the embedded chunk corpus once: CDC chunking + trigram
    embedding (both shuffle-free map work) written as parquet.  At 100 TB
    this is the one-time ingest job; every retrieval afterwards scans the
    index, never the raw corpus.  Idempotent overwrite; the embedding
    params are recorded beside the index so appends can't silently mix
    dimensions."""
    _write_chunk_index(docs, path, "overwrite", id_col, text_col, dim, min_len)
    docs.sparkSession.createDataFrame(
        [(int(dim), int(min_len))], "dim int, min_len int"
    ).write.mode("overwrite").parquet(path + "_meta")


def append_chunk_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = EMBED_DIM,
    min_len: int = 8,
) -> None:
    """Advance the index with a new document batch — append-only, no
    history re-chunking (the same daily-ingest shape as the d12 MinHash
    band-index append and pipe8's digest advance).  The caller owns batch
    exactly-once (d12's ledger pattern); duplicate appends would duplicate
    serve hits.  Refuses params that differ from the recorded build params
    (a mismatched dim would NULL-pad every zip_with dot and silently sink
    those chunks to the bottom of every top-k)."""
    try:
        m = batch.sparkSession.read.parquet(path + "_meta").collect()[0]
    except Exception as exc:  # noqa: BLE001 — missing/invalid meta
        raise ValueError(
            f"chunk index at {path} has no readable _meta — rebuild it "
            "with build_chunk_index before appending"
        ) from exc
    if (m["dim"], m["min_len"]) != (dim, min_len):
        raise ValueError(
            f"append params (dim={dim}, min_len={min_len}) differ from the "
            f"index build params (dim={m['dim']}, min_len={m['min_len']})"
        )
    _write_chunk_index(batch, path, "append", id_col, text_col, dim, min_len)


def chunk_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """Serve top-k from the persisted index: one parquet scan + broadcast
    queries + per-query window — the raw corpus is never touched."""
    return chunk_topk(
        spark.read.parquet(path), queries, k=k, id_col=id_col, idx_col=idx_col
    )


def chunk_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """Brute cosine top-k of every query chunk against the embedded corpus
    with provenance: (q_doc, doc_id, chunk_idx, score, rank).  The query
    set broadcasts (tiny); the integer dot folds over the materialized
    array columns (inner HOF lambdas — the safe kind); ranking is a
    per-query window (WindowGroupLimit under AQE).  The query chunk itself
    is excluded so rank 1 is the nearest OTHER chunk."""
    # materialize the tiny query side ONCE: the emptiness guard (same
    # failure mode the IVF empty-centroid guard closes — an empty
    # broadcast side silently returns zero rows) and the broadcast join
    # then both read the checkpointed blocks instead of re-running the
    # query-side embedding pipeline
    queries = materialize(queries)
    if queries.isEmpty():
        raise ValueError(
            "chunk_topk query set is empty — no chunk survived the query "
            "filter (min_len drop? wrong doc ids?)"
        )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_doc"),
            F.col(idx_col).alias("q_idx"),
            F.col("vec").alias("q_vec"),
            F.col("norm").alias("q_norm"),
        )
    )
    dot = F.aggregate(
        F.zip_with("vec", "q_vec", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.crossJoin(q)
        .where(
            ~((F.col(id_col) == F.col("q_doc")) & (F.col(idx_col) == F.col("q_idx")))
        )
        .select(
            "q_doc",
            id_col,
            idx_col,
            (dot.cast("double") / (F.col("norm") * F.col("q_norm"))).alias("s"),
        )
    )
    w = Window.partitionBy("q_doc").orderBy(
        F.col("s").desc(), F.col(id_col), F.col(idx_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "q_doc", id_col, idx_col, F.round("s", 6).alias("score"), "rank"
        )
    )

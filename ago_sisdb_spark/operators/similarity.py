"""Similarity search over embedding columns (SURVEY §2.11).

Baseline: brute-force cosine top-k — a broadcast of the (tiny) probe set
against the full corpus; per-row score is one codegen'd ``zip_with`` +
``aggregate`` dot product, then top-k per probe via window.  This scales
linearly and is the correct *exact* method at any corpus size when the probe
set is small.

Scale path: LSH bucketing via random hyperplanes (signed projections) —
probe and corpus hash to the same buckets; candidate set per probe shrinks
by ~2^bits; exact re-rank inside buckets.  Bit hashing is one numpy
matmul per Arrow batch.  (IVF needs trained centroids = an offline k-means
job, served through the ``nearest_centroids`` kernel; the random-hyperplane
variant is training-free and fully distributed.)
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Guardrails for the bounded-side contract of the closure-matrix kernels
# (r14, r13 verdict #2): ``collect_vec_matrix`` pulls one side of a
# similarity kernel to the driver and ships it in every task closure —
# correct ONLY for genuinely bounded sides (probe batches, language
# shards, bounded slices).  An oversized caller used to get a slow
# driver OOM; now it gets a fast error naming the scale path.  The block
# width bounds the (batch × bounded-side) score intermediate inside each
# kernel so a LARGE-but-legal bounded side degrades to several exact
# block passes (top-k / threshold masks are per-column or tie-invariant
# per-row reductions, so block results are bit-identical to one pass).
VEC_MATRIX_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_VEC_MAX_ROWS", 1_000_000))
VEC_MATRIX_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_VEC_MAX_BYTES", 1 << 30)
)
VEC_BLOCK_ROWS = int(os.environ.get("SPARK_GRAFT_VEC_BLOCK_ROWS", 8192))


def fold_norms(mat):
    """L2 norms of each row of ``mat`` (n×dim float64) replaying the EXACT
    sequential fold order of the ``norm()`` expression: one correctly-
    rounded multiply + add per dimension in index order, then one sqrt.
    numpy's own ``linalg.norm``/``einsum`` use blocked/pairwise summation
    — a DIFFERENT rounding order, which can flip ``floor(x*1e6)`` at e6
    boundaries; this fold is bit-identical to the interpreted
    zip_with/aggregate expression (verified pairwise on real data, r13)."""
    import numpy as np

    acc = np.zeros(len(mat))
    for i in range(mat.shape[1]):
        acc += mat[:, i] * mat[:, i]
    return np.sqrt(acc)


def fold_cosine_block(x, mat, mat_norms):
    """Cosine of every (row of x) × (row of mat) — (n×dim, m×dim) →
    (n×m) float64 — replaying the exact sequential fold order of the
    ``cosine()`` expression, so each cell is BIT-IDENTICAL to what the
    interpreted ``zip_with``+``aggregate`` tree (and the DuckDB
    ``list_cosine_similarity`` twin) computes for the same pair.  Each
    dimension step is one rounded multiply + one rounded add over the
    whole block (the r4/r5 vectorization convention: the loop is over
    the SMALL axis, dim, while numpy does the row-parallel work in C).

    ``mat_norms`` is ``fold_norms(mat)`` precomputed once per task."""
    import numpy as np

    acc = np.zeros((len(x), len(mat)))
    for i in range(mat.shape[1]):
        acc += x[:, i][:, None] * mat[:, i][None, :]
    return acc / (fold_norms(x)[:, None] * mat_norms[None, :])


def collect_vec_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int | None = None,
    max_bytes: int | None = None,
):
    """Collect a BOUNDED vector side (probe batch / query shard) to the
    driver as (ids int64 array, matrix n×dim float64), sorted by id —
    the IVF ``_collect_centroids`` precedent.  The float32→float64 cast
    is exact, so kernels built on this matrix reproduce the expression
    form's arithmetic bit-for-bit.

    The bounded-side contract is ENFORCED (r14): the collect itself is
    capped at ``max_rows`` (default ``VEC_MATRIX_MAX_ROWS``, env
    ``SPARK_GRAFT_VEC_MAX_ROWS``) via a LIMIT pushed into the collect
    job — an oversized side raises before the driver ever holds it —
    and the built matrix is additionally checked against ``max_bytes``
    (default ``VEC_MATRIX_MAX_BYTES``): closure-shipping a multi-GB
    matrix into every task is the wrong shape even when the driver
    survives it.  Callers whose side outgrows the cap should move to
    the bucketed/LSH paths (``cosine_neardup_lsh``,
    ``bitext_margin_mine_bucketed``, ``sign_sketch_topk``), which mine
    within hash buckets instead of against a shipped matrix."""
    import numpy as np

    cap = VEC_MATRIX_MAX_ROWS if max_rows is None else max_rows
    bcap = VEC_MATRIX_MAX_BYTES if max_bytes is None else max_bytes
    collected = df.select(id_col, vec_col).limit(cap + 1).collect()
    if len(collected) > cap:
        raise ValueError(
            f"collect_vec_matrix: bounded side exceeds {cap} rows — this "
            "side is collected to the driver and shipped in every task "
            "closure, which only the bounded-side contract (probe batch / "
            "language shard / bounded slice) justifies.  Use the bucketed "
            "scale paths instead (cosine_neardup_lsh, "
            "bitext_margin_mine_bucketed, sign_sketch_topk), or raise "
            "SPARK_GRAFT_VEC_MAX_ROWS if the side is genuinely bounded."
        )
    rows = sorted(
        (int(r[id_col]), [float(v) for v in r[vec_col]]) for r in collected
    )
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    mat = (
        np.array([v for _, v in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    if mat.nbytes > bcap:
        raise ValueError(
            f"collect_vec_matrix: bounded-side matrix is {mat.nbytes} "
            f"bytes (> {bcap}) — too large to ship in task closures; use "
            "the bucketed scale paths (cosine_neardup_lsh, "
            "bitext_margin_mine_bucketed, sign_sketch_topk) or raise "
            "SPARK_GRAFT_VEC_MAX_BYTES."
        )
    return ids, mat


def mat_blocks(ids, mat, norms, block_rows: int | None = None):
    """Iterate the bounded side in row blocks of ``block_rows`` (default
    ``VEC_BLOCK_ROWS``): each kernel scores its Arrow batch against one
    block at a time, bounding the (batch × side) intermediate while
    keeping every emitted value bit-identical (per-column top-k partials
    and threshold masks are block-local; per-row top-k sums merge
    tie-invariantly across blocks)."""
    step = VEC_BLOCK_ROWS if block_rows is None else block_rows
    for s in range(0, len(ids), step):
        yield ids[s : s + step], mat[s : s + step], (
            norms[s : s + step] if norms is not None else None
        )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _brute_partials_udf(probe_ids, probe_mat, k: int):
    """mapInPandas kernel for ``brute_force_topk``: per Arrow batch, score
    batch×probes with the exact-fold cosine block and emit only each
    probe's batch-local top-k (ties: score desc, neighbor_id asc) — the
    per-partition partial that the downstream window reduces to the
    global top-k.  Arrow moves ≤ batches·probes·k candidate rows instead
    of the full |corpus|×|probes| cross product, and the per-element math
    runs as dim fused numpy block ops instead of interpreted
    zip_with/aggregate lambdas (the r4/r5/t12 lesson — same values,
    bit-for-bit, via ``fold_cosine_block``)."""
    import numpy as np
    import pandas as pd

    pnorm = fold_norms(probe_mat) if len(probe_mat) else None
    m = len(probe_ids)
    block = VEC_BLOCK_ROWS

    def gen(batches):
        for pdf in batches:
            if m == 0 or len(pdf) == 0:
                continue
            tids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            order0 = np.argsort(tids, kind="stable")
            tids = tids[order0]
            x = np.vstack(pdf["__cvec"].to_numpy()[order0]).astype(
                np.float64
            )
            # probe blocks bound the (batch × probes) intermediate; the
            # batch-local top-k is per probe COLUMN, so block partials
            # are exactly the one-pass partials (bit-identical)
            for pids_b, pmat_b, pnorm_b in mat_blocks(
                probe_ids, probe_mat, pnorm, block
            ):
                mb = len(pids_b)
                score = fold_cosine_block(x, pmat_b, pnorm_b)
                # ranking key: self-pairs excluded; NaN ranks first (Spark
                # treats NaN as greater than any double in an ORDER BY)
                key = np.where(np.isnan(score), np.inf, score)
                key[tids[:, None] == pids_b[None, :]] = -np.inf
                take = min(k, len(tids))
                sel = np.argsort(-key, axis=0, kind="stable")[:take, :]
                rows_flat = sel.T.ravel()
                cols_flat = np.repeat(np.arange(mb), take)
                keep = key[rows_flat, cols_flat] > -np.inf
                yield pd.DataFrame(
                    {
                        "probe_id": pids_b[cols_flat][keep],
                        "neighbor_id": tids[rows_flat][keep],
                        "score": score[rows_flat, cols_flat][keep],
                    }
                )

    return gen


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine top-k per probe: one corpus scan, numpy-vectorized.

    The bounded probe side is collected to the driver (the IVF
    ``_collect_centroids`` precedent) and rides into every task in the
    kernel closure; each corpus partition emits only its batch-local
    top-k per probe (``_brute_partials_udf``), and one window over the
    ≤ partitions·|probes|·k partials picks the global top-k.  Scores are
    bit-identical to the interpreted ``cosine()`` expression form (the
    exact-fold kernel), so oracle hashes are unchanged."""
    probe_ids, probe_mat = collect_vec_matrix(probes, probe_id_col, vec_col)
    partials = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).mapInPandas(
        _brute_partials_udf(probe_ids, probe_mat, k),
        "probe_id long, neighbor_id long, score double",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        partials.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (embedding near-dup ground truth).

    O(n²) compare — the *correctness twin* for the LSH variant below.
    Run on bounded slices; the 100 TB path is ``cosine_neardup_lsh``.

    r13: the boundedness contract is cashed in — one side is collected
    (``collect_vec_matrix``) and each partition scores its rows against
    the full matrix with the exact-fold numpy kernel, emitting only the
    above-threshold (id_a < id_b) pairs.  Values are bit-identical to
    the old crossJoin + interpreted ``cosine()`` form (which paid ~26 µs
    per pair — 2M pairs at sf0.1 ran the better part of a minute); a
    length-mismatched pair scored NULL there and never passed the
    threshold, so requiring uniform dims here loses nothing."""
    import numpy as np
    import pandas as pd

    globals()["pd"] = pd

    ids, mat = collect_vec_matrix(df, id_col, vec_col)
    norms = fold_norms(mat) if len(mat) else None
    block = VEC_BLOCK_ROWS

    def gen(batches):
        for pdf in batches:
            if len(mat) == 0 or len(pdf) == 0:
                continue
            bids = pdf["id_a"].to_numpy(dtype=np.int64)
            x = np.vstack(pdf["__va"].to_numpy()).astype(np.float64)
            # matrix blocks bound the (batch × corpus) intermediate; the
            # threshold mask is per cell, so block passes emit exactly
            # the one-pass pairs
            for ids_b, mat_b, norms_b in mat_blocks(ids, mat, norms, block):
                cos = fold_cosine_block(x, mat_b, norms_b)
                mask = (cos >= threshold) & (bids[:, None] < ids_b[None, :])
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {"id_a": bids[r], "id_b": ids_b[c], "cosine": cos[r, c]}
                )

    return df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    ).mapInPandas(gen, "id_a long, id_b long, cosine double")


def _bucket_udf(planes, bits: int, tables: int):
    """Vectorized multi-table bucketing: one numpy matmul per Arrow batch.

    An expression form would run bits×tables interpreted zip_with/
    aggregate dot products per row — ~6× slower than numpy at 48+
    planes.  This is exactly the "built-ins can't express it efficiently
    → Arrow-batched pandas UDF" case; the matmul is (batch × dim) @
    (dim × bits·tables).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # pandas_udf resolves the string-ized type hints (postponed annotations)
    # against this module's globals — publish pd there
    globals()["pd"] = pd

    mat = np.array(planes, dtype=np.float64).T  # dim × (bits·tables)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy())  # batch × dim
        signs = (x @ mat) > 0  # batch × bits·tables
        per_table = signs.reshape(len(x), -1, bits)  # batch × tables × bits
        packed = (per_table * weights).sum(axis=2)  # batch × tables
        return pd.Series(list(packed))

    return buckets


def _cosine_udf():
    """Vectorized pair cosine for bulk re-checks: one numpy pass per Arrow
    batch.  The expression `cosine()` is preferred for small result sets
    (codegen-adjacent, no Python); this form wins when *candidates* number
    in the millions — einsum does the row-wise dots in C."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd

    @pandas_udf("double")
    def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        x = np.vstack(a.to_numpy()).astype(np.float64)
        y = np.vstack(b.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", x, y)
        return pd.Series(dots / (np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)))

    return pair_cosine


def cosine_neardup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    bits: int = 8,
    tables: int = 8,
    seed: int = 29,
    max_bucket_size: int = 1000,
    log_drops: bool = False,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: multi-table hyperplane LSH.

    ``tables`` independent hash tables (OR-amplification) generate candidate
    pairs via bucket equi-joins; every candidate is re-checked with the exact
    cosine, so precision is 1.0 and only recall depends on (bits, tables).
    The join key is (table, bucket) — candidate fan-out per bucket is
    ~n/2^bits per table *on average*; ``max_bucket_size`` bounds the
    degenerate case (e.g. zero/constant vectors all hashing to one bucket
    → O(m²) pairs) via ``dedup.cap_bucket_fanout``.

    ``planes`` overrides the seeded gaussian hyperplanes (bits·tables rows
    of dim values).  Bucketing only uses the SIGN of each projection, so any
    scaling of a plane is equivalent — the d6 oracle twin exploits this by
    passing integer-valued planes that a SQL oracle can restate verbatim.
    """
    import random

    if planes is None:
        rnd = random.Random(seed)
        planes = [
            [rnd.gauss(0, 1) for _ in range(dim)] for _ in range(bits * tables)
        ]
    assert len(planes) == bits * tables and all(len(p) == dim for p in planes)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    # candidate generation carries only (table, bucket, id) — the wide
    # vector column is joined back AFTER pair dedup so the dedup shuffle
    # moves 16-byte pairs, not 2×dim doubles per candidate
    exploded = base.select(
        "id", F.posexplode(_bucket_udf(planes, bits, tables)(F.col("__v"))).alias("table", "bucket")
    )
    # per-bucket pair expansion via dedup.capped_bucket_pairs (r7): row-
    # level cap, then the sorted member array expands local C(m,2) pairs —
    # one fewer shuffle than the equi-self-join, and duplicate-id inputs
    # cannot emit (x, x) self-pairs
    from ago_sisdb_spark.operators.dedup import capped_bucket_pairs

    cand = (
        capped_bucket_pairs(
            exploded, ["table", "bucket"], F.col("id"),
            "x AS id_a, y AS id_b", max_bucket_size, log_drops, "cosine_lsh",
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("__v").alias("__va")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb")), "id_b")
    )
    return scored.select(
        "id_a", "id_b", _cosine_udf()(F.col("__va"), F.col("__vb")).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid training: kernel assignment,
    DataFrame means.

    Seeds with the ``n_centroids`` lowest-id vectors (deterministic), then
    ``iters`` rounds of assign + update:

    - assign: the ``nearest_centroids`` kernel with the tiny centroid set
      in its closure — one corpus pass, no shuffle of vectors;
    - update: elementwise mean per list via posexplode → groupBy(list, pos)
      avg.  The avg partial-aggregates map-side, so the shuffle carries only
      ~partitions × k × dim rows regardless of corpus size — the same
      pattern MLlib's KMeans uses;
    - the k×dim result is collected to the driver between rounds (like
      MLlib) — centroids are O(k·dim) doubles, not data-scale.

    Empty clusters keep their previous centroid.  Returns
    (centroid_id, __cent) ready for ``ivf_topk``'s broadcast side.
    """
    seeds = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cent"))
        .collect()
    )
    spark = corpus.sparkSession
    cents = {int(r["centroid_id"]): [float(x) for x in r["__cent"]] for r in seeds}

    def cent_df():
        return spark.createDataFrame(
            [(cid, vec) for cid, vec in sorted(cents.items())],
            "centroid_id bigint, __cent array<double>",
        )

    base = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    for _ in range(iters):
        # closure-shipped assignment (``nearest_centroids``): each Lloyd
        # round is a projection + the bounded means aggregate — no
        # crossJoin, no corpus-wide exchange per round
        nearest = nearest_centroids(sorted(cents.items()), 1)
        assigned = base.select(
            F.element_at(nearest(F.col("__v")), 1).alias("list_id"),
            F.col("__v").alias("vec"),
        )
        means = (
            assigned.select("list_id", F.posexplode("vec").alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.avg("val").alias("val"))
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("vec")
            )
            .collect()
        )
        for r in means:  # empty clusters keep their previous centroid
            cents[int(r.list_id)] = [float(x) for x in r.vec]
    return cent_df()


def ivf_index_path(warehouse_dir: str, sf_dir: str) -> str:
    """Stable on-disk location for a scale-factor's trained IVF centroids."""
    import os

    tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    return os.path.join(warehouse_dir, "ivf_index", tag)


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_centroids: int = 16,
    iters: int = 2,
) -> None:
    """The OFFLINE training job (r2 verdict #4): run Lloyd rounds once and
    persist the k×dim centroid table as parquet.  At 100 TB centroid
    training is a scheduled job, not query work — the serving query only
    broadcast-joins the materialized table (``load_ivf_centroids``)."""
    cent = train_centroids(corpus, id_col, vec_col, n_centroids, iters)
    cent.write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str) -> DataFrame | None:
    """Read a materialized IVF index; None if it was never built."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(
            "centroid_id bigint, __cent array<double>"
        ).parquet(path)
    except AnalysisException:
        return None


def _collect_centroids(cent: DataFrame) -> list:
    rows = cent.collect()
    if not rows:
        # an empty centroid table would leave every vector without a list
        # and ivf_topk silently returning no rows — fail loudly instead
        raise ValueError(
            "IVF centroid table is empty — build_ivf_index produced no "
            "centroids (empty corpus?) or the wrong path was loaded"
        )
    return sorted(
        ((int(r["centroid_id"]), [float(x) for x in r["__cent"]]) for r in rows),
        key=lambda t: t[0],
    )


def nearest_centroids(cent_rows: list, nprobe: int):
    """The one nearest-centroid kernel: a scalar Arrow UDF mapping a vector
    column to array<bigint> — the ``nprobe`` nearest centroid ids ranked
    (cosine DESC, centroid_id ASC).  Every IVF-family call site (``ivf_topk``
    assignment and probe lists, each ``train_centroids`` Lloyd round,
    ``semantic_dedup_pairs``, ``embed.cluster_assign``) ranks through it.

    Centroids are k×dim by definition (driver-small), so they ride in the
    closure and assignment is a pure projection over the scan — no
    crossJoin, no corpus-wide exchange.  Per Arrow batch the scores are
    ``fold_cosine_block`` against the cid-sorted centroid matrix, so every
    cosine is bit-identical to the ``cosine()`` expression, and a stable
    argsort of the negated scores breaks exact ties on the lower
    centroid id (NaN ranks last, -0.0 ties 0.0 — Spark's ordering).

    Contract:

    - ``cent_rows`` (cid-sorted (cid, vector) pairs, ``_collect_centroids``)
      is validated here, before any job runs: ragged dims and centroids
      with a zero or non-finite norm (NaN/inf cells) raise ``ValueError``;
    - a NULL vector ranks nowhere — NULL out (no list, no cluster);
    - a vector of the wrong length, or whose norm is zero or non-finite
      (NULL/NaN/inf cells, under/overflow), fails the task with
      ``ValueError`` — never a silent ranking of NaN scores."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd

    dims = {len(v) for _, v in cent_rows}
    if len(dims) != 1:
        raise ValueError(f"centroid rows have mixed dimensions {sorted(dims)}")
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cnorm = fold_norms(cmat)  # NaN/inf for any non-finite cell
    bad = ~((cnorm > 0) & np.isfinite(cnorm))
    if bad.any():
        raise ValueError(
            f"centroids {cids[bad].tolist()} have a zero or non-finite norm "
            "— cosine to them is undefined"
        )
    dim = cmat.shape[1]
    take = min(nprobe, len(cids))

    @pandas_udf("array<bigint>")
    def ranked(v: pd.Series) -> pd.Series:
        vals = v.to_numpy()
        live = [i for i, x in enumerate(vals) if x is not None]
        out = [None] * len(vals)
        if not live:
            return pd.Series(out, dtype=object)
        if any(len(vals[i]) != dim for i in live):
            raise ValueError(
                "nearest_centroids: vector length differs from the "
                f"centroid dimension {dim}"
            )
        x = np.vstack([vals[i] for i in live]).astype(np.float64)
        xnorm = fold_norms(x)
        if not ((xnorm > 0) & np.isfinite(xnorm)).all():
            raise ValueError(
                "nearest_centroids: zero-norm or non-finite vector — "
                "cosine to a centroid is undefined"
            )
        cos = fold_cosine_block(x, cmat, cnorm)
        order = np.argsort(-cos, axis=1, kind="stable")[:, :take]
        for i, row in zip(live, cids[order]):
            out[i] = row
        return pd.Series(out, dtype=object)

    # declared nondeterministic only so the optimizer cannot copy the call
    # into a pushed-down filter: a join on the list id infers
    # isnotnull(list_id), and pushing it below the projection would run
    # the kernel twice per corpus row (two ArrowEvalPython passes)
    return ranked.asNondeterministic()


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid lists, search only
    the ``nprobe`` nearest lists per probe.

    Centroid source, in priority order: ``centroids`` (a materialized
    index from ``build_ivf_index`` — the 100 TB serving path: train runs
    offline, the query only reads the k×dim table back); else
    ``train_iters>0`` Lloyd rounds inline (``train_centroids``, test/dev
    convenience); else the deterministic training-free seed (the
    ``n_centroids`` lowest-id vectors).  The query-side plan is identical
    in all three cases and shuffle-free until the final per-probe top-k:
    the centroid table rides into every task in the ``nearest_centroids``
    kernel closure, so list assignment is a projection over the corpus
    scan — no crossJoin, no corpus-wide aggregation exchange — and
    candidates come from one broadcast join of the (tiny) probe-list
    table against the assigned scan.  A NULL vector belongs to no list.
    """
    if centroids is not None:
        cent = centroids
    elif train_iters > 0:
        cent = train_centroids(corpus, id_col, vec_col, n_centroids, train_iters)
    else:
        cent = (
            corpus.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cent")
            )
        )
    cent_rows = _collect_centroids(cent)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
    ).withColumn(
        "list_id",
        F.element_at(nearest_centroids(cent_rows, 1)(F.col("__cvec")), 1),
    )
    probe_lists = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.col(vec_col).alias("__pvec"),
        F.explode(nearest_centroids(cent_rows, nprobe)(F.col(vec_col))).alias(
            "list_id"
        ),
    )
    scored = (
        assigned.join(F.broadcast(probe_lists), "list_id")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            cosine(F.col("__cvec"), F.col("__pvec")).alias("score"),
        )
    )
    wk = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    k: int,
    dim: int,
    bits: int = 8,
    seed: int = 13,
    multi_probe: bool | int = True,
    tables: int = 1,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket equi-join + exact re-rank.

    The equi-join on (table, bucket) replaces the cross join — candidates
    shrink ~2^bits-fold per table; recall is tuned by ``bits`` (fewer bits
    → more candidates), ``tables`` (independent hash tables,
    OR-amplification — the same recall lever as ``cosine_neardup_lsh``),
    and ``multi_probe`` (the Hamming probing radius: each probe also
    searches every bucket within that many bit flips per table — radius 1
    adds ``bits`` buckets, radius 2 adds ``bits·(bits+1)/2``; ``True`` is
    radius 1.  Cost scales with the tiny probe side only).

    ``planes`` overrides the seeded gaussian hyperplanes (bits·tables rows
    of dim values) — as in ``cosine_neardup_lsh``, bucketing uses only the
    SIGN of each projection, so the n2 oracle twin passes integer-valued
    planes that a DuckDB oracle restates as exact literals.

    Plan shape (r4): candidate generation explodes only
    (neighbor_id, table, bucket) — the corpus VECTOR is joined back after
    candidate dedup, so the bucket fan-out never carries dim doubles and
    the corpus is scanned once however many tables are configured.  Corpus
    bucketing is the numpy batch UDF (one matmul per Arrow batch, r5 —
    the expression form re-ran bits·tables interpreted dot products/row).
    """
    import random

    if planes is None:
        rnd = random.Random(seed)
        planes = [
            [rnd.gauss(0, 1) for _ in range(dim)] for _ in range(bits * tables)
        ]
    assert len(planes) == bits * tables and all(len(pl) == dim for pl in planes)
    bucketer = _bucket_udf(planes, bits, tables)

    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(bucketer(F.col(vec_col))).alias("__table", "__bucket"),
    )
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.col(vec_col).alias("__pvec"),
        F.posexplode(bucketer(F.col(vec_col))).alias("__table", "__bucket"),
    )
    radius = int(multi_probe)
    if radius:
        masks = [0] + [1 << i for i in range(bits)]
        if radius >= 2:
            masks += [
                (1 << i) | (1 << j)
                for i in range(bits)
                for j in range(i + 1, bits)
            ]
        flips = F.array(
            *[
                F.col("__bucket").bitwiseXOR(F.lit(m).cast("long"))
                for m in masks
            ]
        )
        p = p.select(
            "probe_id", "__pvec", "__table", F.explode(flips).alias("__bucket")
        )
    cand = (
        cb.join(
            F.broadcast(p.select("probe_id", "__table", "__bucket")),
            ["__table", "__bucket"],
        )
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    pvecs = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("__pvec")
    )
    scored = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
            ),
            "neighbor_id",
        )
        .join(F.broadcast(pvecs), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            cosine(F.col("__cvec"), F.col("__pvec")).alias("score"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float,
    max_cluster_size: int = 1000,
    log_drops: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign embeddings to clusters, then compare pairs only WITHIN a
    cluster — the pairwise cost drops from O(n²) to Σ O(m_c²), bounded by
    ``max_cluster_size`` (whole over-cap clusters dropped, the
    ``cap_bucket_fanout`` policy).

    ``centroids`` is a (centroid_id, __cent) table — the materialized
    ``build_ivf_index`` output in production, or the deterministic seed
    table for the SQL-twinned gate entry.  Plan shape (same as
    ``ivf_topk``): assignment is the ``nearest_centroids`` kernel, a pure
    projection over the scan — no crossJoin, no corpus-wide argmax
    exchange; candidate generation shuffles only (id, list_id); vectors
    are joined back ONLY for surviving candidate pairs, then re-checked
    with the exact numpy pair cosine.  A NULL vector has no cluster and
    pairs with nothing.  Returns (id_a, id_b, list_id, cosine) pairs at
    or above ``threshold``; keep-policy (e.g. lowest id wins) is the
    caller's.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    nearest = nearest_centroids(_collect_centroids(centroids), 1)
    assigned = base.select(
        "id", F.element_at(nearest(F.col("__v")), 1).alias("list_id")
    ).where(F.col("list_id").isNotNull())
    # per-cluster pair expansion via dedup.capped_bucket_pairs (r7):
    # row-level cap window, then local C(m,2) expansion — no self-join,
    # and duplicate-id inputs cannot emit (x, x) self-pairs
    from ago_sisdb_spark.operators.dedup import capped_bucket_pairs

    cand = capped_bucket_pairs(
        assigned, ["list_id"], F.col("id"), "x AS id_a, y AS id_b",
        max_cluster_size, log_drops, "semdedup",
    ).select("id_a", "id_b", "list_id")
    scored = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("__v").alias("__va")),
        "id_a",
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb")),
        "id_b",
    )
    return scored.select(
        "id_a",
        "id_b",
        "list_id",
        _cosine_udf()(F.col("__va"), F.col("__vb")).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def ann_recall(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate neighbor set against exact ground truth.

    Both inputs carry (probe_id, neighbor_id) rows (extra columns ignored).
    Returns one row per probe: ``(probe_id, n_hits, recall)`` with recall =
    |approx ∩ truth| / k.  Probes present in ``truth`` but absent from
    ``approx`` (e.g. an empty LSH bucket) score 0, not NULL — an index that
    returns nothing must not look perfect.

    The evaluation harness for the n2/n4 index tuning loop (bits, tables,
    nprobe): joins are on (probe_id, neighbor_id) — candidate-set sized,
    never corpus sized.
    """
    t = truth.select("probe_id", "neighbor_id")
    a = approx.select("probe_id", "neighbor_id").distinct()
    hits = (
        t.join(a, ["probe_id", "neighbor_id"], "left_semi")
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_probe = (
        t.select("probe_id")
        .distinct()
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(k), 6).alias("recall"),
        )
    )
    return per_probe


def truncation_audit(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 5,
) -> DataFrame:
    """Matryoshka/prefix-truncation audit (Kusupati et al. 2022): for each
    truncation width ``d`` in ``dims``, the exact cosine top-k per probe
    over the FIRST ``d`` components, plus ``hit_full`` — whether the
    neighbor also appears in the full-width top-k.  This is the standard
    check before shipping truncated embeddings (storage/ANN cost ÷ 8 if
    the 8-dim prefix preserves the neighborhood).

    Scale shape: ONE corpus pass — the broadcast-probe cross join scores
    all widths from the same row (per-width sequential fold over the
    prefix slice, so the double arithmetic matches the DuckDB twin's
    ``list_cosine_similarity`` term order), a 4-way in-row explode stacks
    (dim, score), and one window ranks per (dim, probe).  ``hit_full``
    comes from a second window over the ALREADY top-k-filtered rows
    (|dims|·|probes|·k rows, trivially small) — never a join back through
    the corpus-scale subplan."""
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("__pvec")
    )
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
        .crossJoin(F.broadcast(p))
        .where(F.col("neighbor_id") != F.col("probe_id"))
    )
    full_d = max(dims)
    variants = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("dim"),
                cosine(
                    F.slice(F.col("__cvec"), 1, d), F.slice(F.col("__pvec"), 1, d)
                ).alias("score"),
            )
            for d in dims
        ]
    )
    stacked = scored.select(
        "probe_id", "neighbor_id", F.explode(variants).alias("s")
    ).select("probe_id", "neighbor_id", F.col("s.dim").alias("dim"), F.col("s.score").alias("score"))
    w = Window.partitionBy("dim", "probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    top = (
        stacked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    hit_w = Window.partitionBy("probe_id", "neighbor_id")
    return top.select(
        "dim",
        "probe_id",
        "neighbor_id",
        F.round("score", 6).alias("score"),
        F.max(F.when(F.col("dim") == full_d, 1).otherwise(0))
        .over(hit_w)
        .cast("long")
        .alias("hit_full"),
    )


def mmr_rerank(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal-marginal-relevance diversity rerank (Carbonell & Goldstein
    1998): per probe, greedily select ``k`` of the top-``pool`` relevant
    candidates maximizing ``lam*rel(c) - (1-lam)*max_{s in S} cos(c, s)``
    (empty-S max = 0, so rank 1 is the plain relevance argmax).  Ties:
    score desc, then neighbor_id asc — fully deterministic.

    Returns (probe_id, rank, neighbor_id, mmr_score).

    Scale shape: stage 1 is the brute-force scan (broadcast probes, one
    corpus pass) keeping only the top-``pool`` rows per probe — the
    ONLY corpus-scale work.  Stage 2 is the inherently sequential greedy
    loop, but over ≤ ``pool`` candidates per probe: an ``applyInPandas``
    per probe group with O(pool²) numpy work and bounded state — the
    selection never sees the corpus."""
    import numpy as np
    import pandas as pd

    globals()["pd"] = pd  # future-annotations + pandas-UDF gotcha
    globals()["np"] = np

    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("__pvec")
    )
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
        .crossJoin(F.broadcast(p))
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            "__cvec",
            cosine(F.col("__cvec"), F.col("__pvec")).alias("rel"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id")
    )
    pooled = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= pool)
        .drop("__rn")
    )

    out_schema = "probe_id long, rank long, neighbor_id long, mmr_score double"

    def select_group(pdf):
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__cvec"]])
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        n = len(ids)
        chosen: list[int] = []
        simmax = np.zeros(n)
        rows = []
        for rank in range(1, min(k, n) + 1):
            score = lam * rel - (1.0 - lam) * simmax
            score[chosen] = -np.inf
            best = score.max()
            cand = np.nonzero(score == best)[0]
            pick = cand[np.argmin(ids[cand])]
            rows.append(
                (int(pdf["probe_id"].iloc[0]), rank, int(ids[pick]), float(score[pick]))
            )
            chosen.append(int(pick))
            simmax = np.maximum(simmax, unit @ unit[pick])
        return pd.DataFrame(
            rows, columns=["probe_id", "rank", "neighbor_id", "mmr_score"]
        )

    return pooled.groupBy("probe_id").applyInPandas(select_group, out_schema)

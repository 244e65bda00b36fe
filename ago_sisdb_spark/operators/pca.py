"""Distributed PCA for embedding columns: Gram accumulation + driver eigh.

Dimensionality reduction before ANN/clustering is a standard step in an
embedding pipeline (beyond-reference surface, SURVEY §2.11).  The shape
is MLlib's RowMatrix.computePrincipalComponents pattern re-expressed on
DataFrames:

- **fit**: one `mapInPandas` pass emits per-batch (count, Σx, ΣxxT) —
  dim + dim² doubles per batch, a few KB for dim ≤ a few hundred — and
  the driver reduces those partials and runs `numpy.linalg.eigh` on the
  dim × dim covariance.  Nothing data-scale ever reaches the driver:
  the collected payload is #batches × dim², independent of row count.
  (eigh on the driver caps dim at a few thousand — beyond that you'd
  switch to randomized/iterative SVD, which is out of scope here.)
- **project**: one Arrow-batched matmul per batch, (x − mean) @ Wᵀ.

Determinism: eigh is deterministic for a fixed covariance; component
signs are canonicalized (largest-|loading| coordinate positive) so runs
and engines agree.  The float reduction order varies with partitioning,
so covariances match only to ~1e-13 — fine under the gate's 6-decimal
rounding (the planted oracle pins exact closed-form coordinates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ago_sisdb_spark.materialize import spread


def fit_pca(df: DataFrame, vec_col: str, dim: int, k: int):
    """Fit top-k principal components.

    Returns (mean, components, explained_ratio): mean is dim floats,
    components is k × dim (rows orthonormal, sign-canonicalized),
    explained_ratio is k floats summing ≤ 1 (fraction of total variance).
    """
    import numpy as np
    import pandas as pd

    def partials(it):
        for pdf in it:
            if len(pdf) == 0:  # spread inputs can leave empty partitions
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                [
                    {
                        "cnt": len(x),
                        "s": x.sum(axis=0).tolist(),
                        "g": (x.T @ x).ravel().tolist(),
                    }
                ]
            )

    # spread a single-split local input across executor cores (the
    # shingle_rows guard) — the Gram-matrix pass otherwise runs as ONE
    # task on a one-file corpus; at scale parallelism comes from splits
    rows = (
        spread(df.select(vec_col))
        .mapInPandas(partials, "cnt long, s array<double>, g array<double>")
        .collect()
    )
    n = sum(r["cnt"] for r in rows)
    if n <= 1:
        raise ValueError("need at least 2 rows to fit PCA")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in rows], axis=0).reshape(dim, dim)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()  # k × dim
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(vals.sum())
    explained = [
        float(vals[o]) / total if total > 0 else 0.0 for o in order
    ]
    return mean.tolist(), comps.tolist(), explained


def project_pca(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    mean,
    components,
) -> DataFrame:
    """(id, pc array<double> length k): centered projection, one matmul per
    Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd

    mu = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64)  # k × dim

    @pandas_udf("array<double>")
    def proj(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        return pd.Series(list((x - mu) @ w.T))

    return df.select(
        F.col(id_col).alias("id"), proj(F.col(vec_col)).alias("pc")
    )

"""Mergeable frequency sketches: count-min over token streams.

At 100 TB you cannot afford an exact per-term frequency table for every
ad-hoc "how often does X appear" probe — the distinct-term cardinality is
corpus-sized.  A count-min sketch (Cormode & Muthukrishnan, J. Algorithms
2005) bounds the answer state at ``depth x width`` counters regardless of
corpus size, is mergeable across partitions/days by plain cell-wise
addition, and guarantees one-sided error: the estimate NEVER undercounts,
and overcounts by more than eps*N with probability <= delta where
eps = e/width, delta = e^-depth.

Reference parity: the reference has no sketches (its `src/core/ai/` math
is exact per-key series ops); this is part of the beyond-reference
LLM-pipeline surface (SURVEY §2.11) — e.g. heavy-hitter screening before
the exact top-k terms pass (operators/text.top_terms_per_group).

Spark shape — the sketch is a DATAFRAME of (row, bucket, cnt) cells:

- build is ONE groupBy over (row, bucket): the explode emits ``depth``
  cells per token but partial aggregation collapses them map-side, so the
  shuffle carries at most depth*width rows PER MAP PARTITION and the
  result is at most depth*width rows total — independent of corpus size;
- merging sketches from two corpora/days is ``union.groupBy.sum`` — no
  re-scan of either corpus (the whole point of the sketch at scale);
- probing broadcasts the (tiny) probe set, joins the cells it hashes
  into, and takes min(cnt) over the ``depth`` rows; a bucket no token
  hashed into never materializes, so the left join coalesces to 0;
- bucket positions use ``portable_hash60(term || '#r')`` — the md5-based
  portable hash family behind the MinHash/Bloom oracle twins — so the
  ENTIRE sketch (every cell, every estimate) is reproducible in DuckDB
  SQL and hash-checked by the gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ago_sisdb_spark.operators.dedup import portable_hash60


def cms_positions(term: Column, depth: int, width: int) -> Column:
    """array<long> of ``depth`` bucket positions for one term."""
    return F.array(
        *[
            portable_hash60(F.concat(term, F.lit(f"#{r}"))) % F.lit(width)
            for r in range(depth)
        ]
    )


def cms_build(
    terms: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch over a term stream → (row, bucket, cnt) cells.

    ``terms`` is one row per occurrence (pre-exploded); pass ``weight_col``
    to sketch a weighted stream (e.g. per-doc occurrence counts, saving
    the explode).  Cells with zero hits are implicit (sparse sketch).
    """
    cell = terms.select(
        F.posexplode(
            cms_positions(F.col(term_col), depth, width)
        ).alias("row", "bucket"),
        (F.col(weight_col) if weight_col else F.lit(1)).alias("w"),
    )
    return (
        cell.groupBy("row", "bucket")
        .agg(F.sum("w").cast("long").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with identical (depth, width): cell-wise sum."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Estimated frequency for each probe term: min over the depth rows.

    The sketch is at most depth*width rows and is broadcast (a left join
    can only build its right side); the probe stream never shuffles.
    Never undercounts: est >= true count, always.
    """
    pos = probes.select(
        F.col(term_col),
        F.posexplode(
            cms_positions(F.col(term_col), depth, width)
        ).alias("row", "bucket"),
    )
    joined = pos.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy(term_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def hist_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    n_bins: int = 32,
) -> DataFrame:
    """Quantile estimates from a fixed-bin histogram sketch, per group.

    The bounded-state percentile path for 100 TB metric streams: an exact
    ``median()`` keeps every value in the aggregation buffer, while a
    histogram keeps ``n_bins`` counters per group, merges across
    partitions/days by bin-wise addition (same property as the CMS), and
    answers any quantile by cumulative interpolation with error ≤ one bin
    width of the group's range.  (Spark's ``approx_percentile`` is the
    JVM-side equivalent; this form is engine-portable and oracle-checked,
    and its histogram table is a persistable artifact.)

    Two group-sized aggregates: (lo, hi, n) range scan, then the binned
    count — the corpus shuffles on the group key only; bin selection and
    interpolation run on the ≤ groups×n_bins histogram.  Returns
    (group, q, n, est) long-form.  A constant group (hi == lo) reports
    the constant for every quantile.
    """
    spark = df.sparkSession
    g, v = F.col(group_col), F.col(value_col).cast("double")
    rng = df.groupBy(group_col).agg(
        F.min(v).alias("lo"), F.max(v).alias("hi"), F.count(F.lit(1)).alias("n")
    )
    binned = df.join(F.broadcast(rng), group_col).select(
        g,
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.floor((v - F.col("lo")) / (F.col("hi") - F.col("lo")) * n_bins),
                F.lit(n_bins - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy(group_col, "bin").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("bin")
    hc = hist.withColumn("cum", F.sum("c").over(w))
    qs = spark.createDataFrame([(float(q),) for q in quantiles], "q double")
    sel = (
        hc.join(F.broadcast(rng), group_col)
        .crossJoin(F.broadcast(qs))
        .where(F.col("cum") >= F.col("q") * F.col("n"))
    )
    wq = Window.partitionBy(group_col, "q").orderBy("bin")
    first_bin = sel.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") == 1)
    est = F.when(
        F.col("hi") > F.col("lo"),
        F.col("lo")
        + (
            (F.col("bin") + (F.col("q") * F.col("n") - (F.col("cum") - F.col("c"))) / F.col("c"))
            / F.lit(float(n_bins))
        )
        * (F.col("hi") - F.col("lo")),
    ).otherwise(F.col("lo"))
    return first_bin.select(
        group_col, "q", F.col("n").cast("long").alias("n"),
        F.round(est, 6).alias("est"),
    )


# ---- HyperLogLog (Flajolet et al., AofA 2007) as portable register cells.
# Completes the mergeable-sketch family: Bloom = membership (incremental),
# CMS = frequency, histogram = quantiles, HLL = cardinality.

HLL_P = 10          # 2^10 = 1024 registers
_HLL_M = 1 << HLL_P
_HLL_WBITS = 60 - HLL_P  # low bits that feed rho


def hll_cells(
    df: DataFrame, value_col: str, group_col: str | None = None
) -> DataFrame:
    """HLL registers as (group?, bucket, max_rho) rows from the portable
    60-bit hash: bucket = top-10 hash bits, rho = leading-zero count of
    the low 50 bits + 1 — computed EXACTLY as ``51 - length(bin(w))``
    (binary-string length is floor(log2)+1 with no float edge cases; both
    Spark and DuckDB ship ``bin``).  groupBy max partial-aggregates
    map-side, so the shuffle is ≤ m rows per partition and the result ≤ m
    rows per group regardless of input size; merging two corpora's cells
    is ``union → groupBy → max`` (``hll_merge``)."""
    h = portable_hash60(F.col(value_col).cast("string"))
    w = h % F.lit(1 << _HLL_WBITS)
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    keys = ([F.col(group_col)] if group_col else []) + [
        F.shiftright(h, _HLL_WBITS).alias("bucket")
    ]
    cells = df.select(*keys, rho.cast("int").alias("rho"))
    gcols = ([group_col] if group_col else []) + ["bucket"]
    return cells.groupBy(*gcols).agg(F.max("rho").alias("max_rho"))


def hll_merge(*cell_sets: DataFrame) -> DataFrame:
    """Merge register sets built with the same p: cell-wise max."""
    out = cell_sets[0]
    for s in cell_sets[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c not in ("max_rho",)]
    return out.groupBy(*keys).agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(cells: DataFrame, group_col: str | None = None) -> DataFrame:
    """Cardinality estimate from register cells, with the standard
    small-range (linear counting) correction.  Also returns the exact
    integer ``register_sum`` / ``n_set`` so the register state itself is
    auditable without floating-point in the loop."""
    m = float(_HLL_M)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    gcols = [group_col] if group_col else []
    agg = cells.groupBy(*gcols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("__z"),
        F.count(F.lit(1)).alias("n_set"),
        F.sum("max_rho").cast("long").alias("register_sum"),
    )
    # unseen buckets contribute 2^0 = 1 each to the harmonic sum
    z = F.col("__z") + (F.lit(m) - F.col("n_set"))
    raw = F.lit(alpha * m * m) / z
    v = F.lit(m) - F.col("n_set")  # zero registers
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(m) * F.log(F.lit(m) / v),
    ).otherwise(raw)
    return agg.select(
        *gcols,
        F.round(est, 2).alias("est_distinct"),
        "n_set",
        "register_sum",
    )

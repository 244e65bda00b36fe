"""Last-record-per-key (reference P6, ``gets``: `workers/sisdb/sisdb.c:359-395`).

Two strategies, both shuffle once on the key:

- ``last_per_key`` — argmax-join: a primitive ``max(order)`` per key, then
  a broadcast join back to the input.  Partial aggregation (map-side
  combine) means each upstream partition contributes at most one candidate
  per key before the shuffle — at 100 TB with ~100k keys the shuffle is
  tiny regardless of input size.  Preferred for full-table inputs.
- ``last_per_key_window`` — ``row_number() over (partition by key order by
  … desc) = 1``.  Shuffles *all* rows to sort within key partitions; kept for
  when the full row ordering is needed anyway, or when ``order`` is not
  unique within a key (see ``last_per_key``'s contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---- bounded pin-cache for range-partitioned span frames -------------------
#
# global_rank / global_prefix_sums persist() their range-partitioned frame so
# BOTH consumers (per-span totals and the ranked branch) see ONE set of
# sampled range bounds. Left unbounded, every invocation leaked one cached
# frame for the session lifetime (bench loops, scale probes). The FIFO below
# holds the newest few pins and unpersists the oldest beyond that — safe for
# correctness even if an old frame is still mid-query: once the exchange has
# executed, its shuffle files pin the sampled bounds, so a recompute after
# unpersist re-reads the SAME spans (only the caching is lost, the r7
# eviction argument). `release_span_cache()` drops everything eagerly.

_SPAN_CACHE: list[DataFrame] = []
_SPAN_CACHE_MAX = 4


def _pin_spans(dfr: DataFrame) -> DataFrame:
    dfr = dfr.persist()
    _SPAN_CACHE.append(dfr)
    while len(_SPAN_CACHE) > _SPAN_CACHE_MAX:
        _SPAN_CACHE.pop(0).unpersist(False)
    return dfr


def release_span_cache() -> int:
    """Unpersist every pinned span frame; returns how many were released."""
    n = len(_SPAN_CACHE)
    while _SPAN_CACHE:
        _SPAN_CACHE.pop().unpersist(False)
    return n


def last_per_key(
    df: DataFrame,
    keys: list[str],
    order_col: str | Column,
    broadcast_keys: bool = True,
) -> DataFrame:
    """Latest full record per key via argmax-join — agg-side,
    scale-preferred.

    Two codegen stages, zero sorts (r4 verdict #6): ``max(order)`` per key
    is a pure-primitive HashAggregate whose partial combine bounds the
    shuffle to one row per key per partition, then the per-key maxima join
    back against the input on (keys, order) to fetch the full record.
    The former ``max_by(struct(*cols), order)`` single-pass form buffered
    a struct — and any string column — neither of which is hash-mutable,
    so it silently degraded to SortAggregate (per-partition sorts of the
    FULL input, the r2 a1 mechanism).  The join side is keys-cardinality;
    ``broadcast_keys`` (default) broadcasts it so the record fetch is a
    shuffle-free broadcast hash join — at ~100k keys that is a few MB.
    Set it False for extreme key cardinalities to fall back to a shuffle
    join.

    Contract: ``order_col`` must be unique within each key group (event
    id, WAL sequence, ...) — a duplicated maximum would emit duplicate
    rows for that key (loud, not torn).  For non-unique orders use
    ``last_per_key_window``.  Every in-repo caller orders by a unique
    sequence (p6: event_id; streaming upsert: __seq).  ``Engine.gets`` is
    not a caller: its input is only the requested keys' rows, so it picks
    the record with one ``max_by(struct(*cols), order)`` in a single scan.
    """
    order_c = F.col(order_col) if isinstance(order_col, str) else order_col
    # maxima derives from df — rename its columns so the self-join is
    # unambiguous (and guard the internal prefix against collisions)
    assert not any(c.startswith("__lpk_") or c == "__max_ord" for c in df.columns)
    maxima = df.groupBy(*keys).agg(F.max(order_c).alias("__max_ord")).select(
        *[F.col(k).alias(f"__lpk_{k}") for k in keys], "__max_ord"
    )
    if broadcast_keys:
        maxima = F.broadcast(maxima)
    cond = [F.col(k).eqNullSafe(F.col(f"__lpk_{k}")) for k in keys] + [
        order_c == F.col("__max_ord")
    ]
    joined = df.join(maxima, cond, "inner")
    return joined.select(*df.columns)


def last_per_key_window(
    df: DataFrame, keys: list[str], order: list[Column]
) -> DataFrame:
    """Latest record per key via row_number window (full-sort strategy)."""
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def topk_per_key(
    df: DataFrame, keys: list[str], order: list[Column], k: int
) -> DataFrame:
    """Top-k rows per key (reference O5 rank-by-score buckets,
    `src/core/sis_group.h:15-47`)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def topk_global(
    df: DataFrame,
    score_col: str,
    tie_col: str,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Global top-``k`` by descending ``score_col`` (ascending ``tie_col``
    tiebreak) WITH a 1-based ``rank_col`` — entirely window-free (r6
    verdict #2): ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
    (per-partition partial top-k, no global sort, no all-rows
    single-partition exchange), and the rank over the ≤k survivors comes
    from ``array_sort`` + ``posexplode`` of ONE collected array — an
    aggregate, not a WindowExec, so no unpartitioned-window warning and
    no funnel however large the input.  (A constant ``partitionBy`` lit
    would NOT work: Catalyst strips foldable partition keys and the spec
    comes out empty anyway.)  The sort key is the lambda-free negated-
    struct form (outer HOF comparators break Spark 4 self-join dedup:
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)."""
    lim = df.orderBy(F.desc(score_col), tie_col).limit(k)
    row = F.struct(*[F.col(c) for c in df.columns])
    packed = lim.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col(score_col)).alias("__neg"),
                    F.col(tie_col).alias("__tie"),
                    row.alias("__row"),
                )
            )
        ).alias("__a")
    )
    return packed.select(
        F.posexplode("__a").alias("__pos", "__s")
    ).select(
        (F.col("__pos") + 1).cast("long").alias(rank_col), "__s.__row.*"
    )


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rank",
    num_partitions: int = 32,
) -> DataFrame:
    """Total 1..N row numbering in ``order`` over the WHOLE frame without
    the single-partition global window (r6 verdict #2's scale shape when
    every row needs its rank, not just a top-k): range-partition by the
    sort key so each partition owns a contiguous rank span, rank locally
    (the window partitions by the range-partition id — defined, balanced
    by the range sampler), and add each partition's starting offset,
    computed as a partition-count-sized triangular self-join (``P²`` rows
    at most — plan-side, no driver action).  At a 100 M-row vocabulary
    this is P sorted spans instead of one executor sorting everything.

    The range-partitioned frame is ``persist()``-ed because BOTH the
    counts aggregate and the ranked branch consume it: exchange reuse
    across two consumers of one subplan is not guaranteed, and two
    independent instantiations of ``repartitionByRange`` may SAMPLE
    DIFFERENT bounds — ``__pid`` would then disagree between the
    branches and ranks would silently duplicate/skip.  The cached copy
    pins one set of bounds (evicted blocks re-read the same shuffle
    files, so consistency survives eviction); the pin lives in the
    bounded ``_SPAN_CACHE`` so repeated invocations don't accumulate."""
    dfr = _pin_spans(
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__pid", F.spark_partition_id())
    )
    counts = dfr.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(b, F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__c"), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    return (
        dfr.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def global_prefix_sums(
    df: DataFrame,
    order: list[Column],
    value_cols: list[str],
    prefix: str = "cum_",
    num_partitions: int = 32,
) -> DataFrame:
    """EXCLUSIVE global prefix sums of ``value_cols`` in total ``order``,
    without a single-partition window — ``global_rank``'s span trick
    generalised from row counts to column sums (r9, for exact
    Mann-Whitney AUC's cumulative-negatives-below-each-score term).

    Same shape and same caveats as ``global_rank``: range-partition on the
    sort key (each partition owns a contiguous span), per-partition
    running sums via a window partitioned by the range-partition id, and
    each span's starting offset from a P²-row triangular self-join of the
    per-partition totals.  The range-partitioned frame is persist()-ed so
    both consumers see ONE set of sampled bounds (two instantiations may
    sample different bounds and silently mis-offset — see global_rank;
    pinned via the bounded ``_SPAN_CACHE``, not a raw session-lifetime
    persist).

    ``order`` must be a total order (unique keys) or the exclusive sums
    within a tie run are ordering-dependent.  Sums are int64; callers own
    the overflow bound (Spark 4 ANSI mode throws rather than wraps).
    """
    dfr = _pin_spans(
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__pid", F.spark_partition_id())
    )
    totals = dfr.groupBy("__pid").agg(
        *[F.sum(c).cast("long").alias(f"__t_{c}") for c in value_cols]
    )
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(b, F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(
            *[
                F.coalesce(F.sum(f"b.__t_{c}"), F.lit(0))
                .cast("long")
                .alias(f"__off_{c}")
                for c in value_cols
            ]
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = dfr.join(F.broadcast(offsets), "__pid")
    for c in value_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            (
                F.col(f"__off_{c}")
                + F.coalesce(F.sum(c).over(w), F.lit(0))
            ).cast("long"),
        )
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])

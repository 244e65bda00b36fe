"""Time-range scan semantics (reference P2/P3 matrix).

The reference's read command addresses a sorted time series with
``{start, stop, offset, count, ifprev}`` (``workers/sisdb/sisdb_fmap.h:102-137``,
``sisdb_io.c:23-77``):

- ``start=-1``            → latest record
- ``stop=-1``             → from ``start`` to latest
- ``count > 0``           → first *n* from start (head)
- ``count < 0``           → last *n* up to stop (tail)
- ``offset=±n``           → shift the located position by n records
- ``ifprev``              → if nothing at ``start``'s day, fall back to the
                            most recent earlier day that has data

Spark re-expression: a ``between`` filter (pushed down to the parquet scan
for row-group min/max skipping) plus, on the landed layout, the matching
``dt`` day-partition bounds, so only the day directories the range touches
are opened — the job the reference's per-day block index does (SURVEY §4);
then an ``ORDER BY … LIMIT`` for head/tail.  ``ifprev`` becomes a
scalar-subquery "max day with data ≤ start" — one extra lightweight
aggregate over the pruned scan, no driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

LATEST = -1  # sentinel, mirroring the reference protocol

# the landed layout's day partition: dt = to_date(time_col) under the UTC
# session time zone (streaming.write.conform, applied by write_partitioned,
# the layout's one writer)
DAY_COL = "dt"


def _day_type(df: DataFrame, time_col: str):
    """``time_col``'s type when ``df`` carries the layout's DateType ``dt``
    column beside a date/timestamp ``time_col``; None otherwise."""
    types = {f.name: f.dataType for f in df.schema.fields}
    t = types.get(time_col)
    if (
        time_col != DAY_COL
        and isinstance(types.get(DAY_COL), DateType)
        and isinstance(t, (TimestampType, TimestampNTZType, DateType))
    ):
        return t
    return None


def time_range(
    df: DataFrame,
    time_col: str,
    start=None,
    stop=None,
) -> DataFrame:
    """[start, stop] inclusive slice on the (sorted) time column.

    ``None``/``LATEST`` bounds are open.  The filter is a plain Column
    predicate so it reaches the parquet scan as a pushed filter.  On the
    landed layout (a ``dt`` DateType column = ``to_date(time_col)``) each
    bound also bounds ``dt`` by ``to_date`` of the bound, cast to
    ``time_col``'s type as the comparison casts it — a PartitionFilter, so
    the scan opens only the days in range.  ``to_date`` is monotonic, so
    the day bounds drop no row the time bounds keep.
    """
    lo = start is not None and start != LATEST
    hi = stop is not None and stop != LATEST
    if not (lo or hi):
        return df

    def within(col: Column, bound) -> Column:
        if lo and hi:
            return col.between(bound(start), bound(stop))
        return col >= bound(start) if lo else col <= bound(stop)

    pred = within(F.col(time_col), F.lit)
    t = _day_type(df, time_col)
    if t is not None:
        pred = pred & within(
            F.col(DAY_COL), lambda v: F.to_date(F.lit(v).cast(t))
        )
    return df.where(pred)


def head_n(df: DataFrame, n: int, order: list[Column]) -> DataFrame:
    """First n records in time order (reference ``count > 0``)."""
    return df.orderBy(*order).limit(n)


def tail_n(df: DataFrame, n: int, order: list[Column]) -> DataFrame:
    """Last n records (reference ``count < 0`` / ``start=-1``).

    Implemented as a reverse-order limit; Spark executes this as a per-
    partition top-k (TakeOrderedAndProject) — no global sort, scales to any
    partition count.
    """
    return df.orderBy(*[c.desc() for c in order]).limit(n)


def last_record(df: DataFrame, order: list[Column]) -> DataFrame:
    """``get key.sdb`` with no args → the single latest record."""
    return tail_n(df, 1, order)


def offset_shift(
    df: DataFrame,
    time_col: str,
    anchor,
    offset: int,
    order: list[Column],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """P3 ``offset: ±n`` record addressing (`sisdb_fmap.h:156-158`): locate
    the record at/just before ``anchor`` in series order, then step ``offset``
    records (negative = back).

    For a multi-key slice (``gets`` on a ``*`` pattern) pass ``key_cols``:
    a per-key row_number window + per-key anchors joined back (broadcast)
    — no single partition ever funnels the whole input.  The unkeyed form
    (the reference's one-series per-key read) is window-free (r6 verdict
    #3): the anchor splits the series into a ``<= anchor`` and a
    ``> anchor`` side, and the addressed record is a TakeOrderedAndProject
    ``limit`` on one side (per-partition partial top-k — no global sort,
    no all-rows single-partition exchange, regardless of how many keys a
    caller wrongly feeds it) finished by a 1-row ``min_by``/``max_by``
    reduction.  Contract either way: ``order``'s leading column is
    ``time_col`` (ascending), so the anchor split is a prefix of the sort.
    """
    from pyspark.sql import Window

    if key_cols:
        w = Window.partitionBy(*key_cols).orderBy(*order)
        ranked = df.withColumn("__rn", F.row_number().over(w))
        anchor_rn = (
            ranked.where(F.col(time_col) <= F.lit(anchor))
            .groupBy(*key_cols)
            .agg(F.max("__rn").alias("__arn"))
        )
        joined = ranked.alias("r").join(
            F.broadcast(anchor_rn).alias("a"),
            [F.col(f"r.{k}").eqNullSafe(F.col(f"a.{k}")) for k in key_cols],
        )
        return (
            joined.where(F.col("r.__rn") == F.col("a.__arn") + offset)
            .select("r.*")
            .drop("__rn")
        )
    row = F.struct(*[F.col(c) for c in df.columns])
    okey = F.struct(*order)
    if offset > 0:
        # offset-th record after the anchor position: ordered limit keeps
        # ≤ offset rows, max_by picks the last of them — but only if the
        # series really has offset rows past the anchor AND the anchor
        # record exists (matching the row_number-join semantics)
        lim = df.where(F.col(time_col) > F.lit(anchor)).orderBy(*order).limit(
            offset
        )
        picked = lim.agg(
            F.count(F.lit(1)).alias("__n"), F.max_by(row, okey).alias("__r")
        ).where(F.col("__n") == offset)
        has_anchor = df.where(F.col(time_col) <= F.lit(anchor)).agg(
            F.count(F.lit(1)).alias("__na")
        )
        picked = picked.crossJoin(F.broadcast(has_anchor)).where(
            F.col("__na") > 0
        )
    else:
        # anchor record = position 1 in descending order; |offset| steps
        # back = position |offset|+1 — the min_by of the descending limit
        n = 1 - offset
        lim = df.where(F.col(time_col) <= F.lit(anchor)).orderBy(
            *[c.desc() for c in order]
        ).limit(n)
        picked = lim.agg(
            F.count(F.lit(1)).alias("__n"), F.min_by(row, okey).alias("__r")
        ).where(F.col("__n") == n)
    return picked.select("__r.*")


def ifprev_day_scan(df: DataFrame, time_col: str, start) -> DataFrame:
    """All records of the most recent day with data at or before ``start``.

    Reference ``ifprev`` (`sisdb_fmap.h:112-117`): a query for a day with no
    data falls back to the previous day that has data (previous trading day).

    Spark: compute ``max(date(ts)) where ts <= start`` as a 1-row aggregate
    and join it back (Catalyst turns the equality with a 1-row broadcast into
    a cheap broadcast join; both passes prune partitions by ``ts <= start``).
    """
    day = F.to_date(F.col(time_col))
    bounded = time_range(df, time_col, None, start)
    target = bounded.agg(F.max(day).alias("__target_day"))
    return (
        bounded.join(F.broadcast(target), day == F.col("__target_day"))
        .drop("__target_day")
    )

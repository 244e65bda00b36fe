"""Write path: upsert (T8), delete (T9), same-timestamp rules (T5),
daily cutover (T7).

Reference semantics (`workers/sisdb/sisdb.h:36-42,50-53`,
`sisdb_fmap_write.c:226-395`):

- records are positioned by time (late data inserts mid-series, not append);
- same-timestamp rule depends on the table's time scale: µs/ms streams
  APPEND (multiple records per timestamp allowed), sec/min/day tables
  OVERWRITE the record at the same time (+ unique "solely" fields refine
  the match key);
- ``del`` removes by time range or predicate;
- deletes/updates are reconciled at save/pack.

Spark re-expression: Delta's ``MERGE INTO``/``DELETE`` is the production
target; this container has no Delta jar, so the same semantics are
implemented as pure DataFrame merge/anti-join transforms (the *logical*
contract), plus a parquet table writer that applies them partition-wise.
On a cluster the partition-overwrite write (``replaceWhere`` analogue via
dynamic partition overwrite) touches only partitions containing matched
keys — not the whole table.
"""

from __future__ import annotations

from enum import Enum

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from ago_sisdb_spark.catalog import committed, read_parquet

_TIMESTAMPS = {TimestampType, TimestampNTZType}


class TimeScale(Enum):
    """Reference time scales driving the same-timestamp rule
    (sis_dynamic.h:86-91; rule at sisdb.h:36-42)."""

    MICRO = "us"
    MILLI = "ms"
    SECOND = "s"
    MINUTE = "min"
    DAY = "day"
    YEAR = "year"

    @property
    def append_on_same_time(self) -> bool:
        return self in (TimeScale.MICRO, TimeScale.MILLI)


def upsert(
    current: DataFrame,
    incoming: DataFrame,
    key_cols: list[str],
    time_col: str,
    scale: TimeScale,
    unique_cols: list[str] | None = None,
) -> DataFrame:
    """T8: merge ``incoming`` into ``current`` under the per-scale rule.

    OVERWRITE scales: incoming replaces current rows matching
    (key, time[, unique]); remaining current rows are kept (anti-join),
    then incoming is unioned — MERGE WHEN MATCHED UPDATE / NOT MATCHED
    INSERT, expressed relationally.  Duplicate (key,time) rows *within*
    ``incoming`` collapse to the last by ``__seq`` order if present.
    APPEND scales: pure union (multiple records per timestamp are legal).
    """
    if scale.append_on_same_time:
        return current.unionByName(incoming)

    match_cols = [*key_cols, time_col, *(unique_cols or [])]
    if "__seq" in incoming.columns:
        from ago_sisdb_spark.operators.lastper import last_per_key

        incoming = last_per_key(incoming, match_cols, "__seq").drop("__seq")
    else:
        incoming = incoming.dropDuplicates(match_cols)
    kept = current.join(incoming.select(*match_cols), on=match_cols, how="left_anti")
    return kept.unionByName(incoming.select(*current.columns))


def delete_range(
    current: DataFrame,
    key_pattern_pred,
    time_col: str,
    start=None,
    stop=None,
) -> DataFrame:
    """T9: delete rows of matching keys within [start, stop].

    A row whose predicate is NULL (a NULL key, or a NULL time under a
    bound) does not match, so it survives."""
    doomed = key_pattern_pred
    if start is not None:
        doomed = doomed & (F.col(time_col) >= F.lit(start))
    if stop is not None:
        doomed = doomed & (F.col(time_col) <= F.lit(stop))
    return delete_where(current, doomed)


def delete_where(current: DataFrame, predicate) -> DataFrame:
    """T9: delete by arbitrary predicate (the reference's search forms —
    AND-object / OR-array — compile to a Column predicate upstream).

    Only rows where ``predicate`` is TRUE go; a NULL predicate keeps the
    row (a bare ``where(~predicate)`` would drop it too)."""
    return current.where(~F.coalesce(predicate, F.lit(False)))


def write_partitioned(
    df: DataFrame,
    path: str,
    time_col: str,
    mode: str = "overwrite",
    key_bucket_col: str | None = None,
) -> None:
    """T7 layout: date-partitioned parquet (year-partitioned for daily+
    data in the reference; date for intraday — `sis_disk.io.h:44-54`).

    The generated ``dt`` partition column is what turns every time-range
    query into partition pruning at 100 TB: ``dt = to_date(time_col)``
    under the UTC session time zone (pinned here, as ``load_table`` pins
    it for reads), the invariant ``rangescan.time_range``'s day bounds
    rely on.  ``sortWithinPartitions`` by (key, time) gives row-group
    min/max locality per key — the Spark analogue of the reference's
    per-key block index.

    An append conforms to the table's timestamp types first: a column
    whose type is the other timestamp type (TIMESTAMP vs TIMESTAMP_NTZ)
    of the same-named table column is cast to the table's type — exact
    under the pinned UTC zone — so one table never mixes the two parquet
    encodings and its inferred schema does not depend on which footer is
    read.  The table schema comes through ``catalog.read_parquet``, a
    cache hit while the table is unchanged.  The commit keeps that cache
    entry current (``catalog.committed``).
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if mode == "append":
        try:
            table = {f.name: f.dataType for f in read_parquet(spark, path).schema}
        except AnalysisException:  # no table yet: nothing to conform to
            table = {}
        casts = {
            f.name: F.col(f.name).cast(table[f.name])
            for f in df.schema.fields
            if {type(f.dataType), type(table.get(f.name))} == _TIMESTAMPS
        }
        if casts:
            df = df.withColumns(casts)
    out = df.withColumn("dt", F.to_date(F.col(time_col)))
    sort_cols = [key_bucket_col, time_col] if key_bucket_col else [time_col]
    committed(path, out, lambda: (
        out.repartition("dt")
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    ))

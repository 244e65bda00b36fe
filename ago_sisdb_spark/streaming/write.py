"""Write path: upsert (T8), delete (T9), same-timestamp rules (T5),
daily cutover (T7), and the one writer of the landed table layout.

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
contract).

``write_partitioned`` is the only writer of the landed layout (day files
sorted by (key, time) — the reference's day files with a per-key block
index, `sisdb_disk.c:338-373`), and ``catalog.committed`` its only commit:
``Engine.save`` lands a table through it, batch ingest appends through it,
and the bar refresh (``sources.ingest.incremental_rollup``) and
``Engine.pack`` replace whole days through it.  As in a Structured
Streaming file sink, each commit makes its output appear whole: a day
replace is a dynamic partition overwrite, so days the frame does not
hold are never touched and a reader never finds the table missing.
"""

from __future__ import annotations

import datetime
import re
from enum import Enum

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType, TimestampType

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


def conform(df: DataFrame, table: StructType, time_col: str) -> DataFrame:
    """Shape ``df`` as rows of the landed table whose schema is ``table``.

    A column whose type is the other timestamp type (TIMESTAMP vs
    TIMESTAMP_NTZ) of the same-named table column is cast to the table's
    type — exact under the pinned UTC session zone — so one table never
    mixes the two parquet encodings and its inferred schema does not
    depend on which footer is read.  The ``dt`` partition column is
    (re)derived as ``to_date(time_col)`` under that zone, the invariant
    ``rangescan.time_range``'s day bounds rely on.
    """
    types = {f.name: f.dataType for f in table.fields}
    casts = {
        f.name: F.col(f.name).cast(types[f.name])
        for f in df.schema.fields
        if {type(f.dataType), type(types.get(f.name))} == _TIMESTAMPS
    }
    return df.withColumns(casts).withColumn("dt", F.to_date(F.col(time_col)))


def day_files(table: DataFrame) -> dict[datetime.date, list[str]]:
    """The data files of a read of a dt-partitioned table, by ``dt`` day,
    from the read's file listing (``inputFiles``: no Spark job)."""
    days: dict[datetime.date, list[str]] = {}
    for f in table.inputFiles():
        if m := re.search(r"/dt=(\d{4}-\d{2}-\d{2})/", f):
            days.setdefault(datetime.date.fromisoformat(m.group(1)), []).append(f)
    return days


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
    query into partition pruning at 100 TB (``conform``).  Rows are
    sorted by (``dt``, key, time) within each write task, and each day is
    one task, so every file holds one day in (key, time) order: row-group
    min/max locality per key, the Spark analogue of the reference's
    per-key block index.  The sort leads with ``dt`` because the writer
    needs its input ordered by the partition column; a sort without it
    is replaced by the writer's own sort on ``dt`` alone.

    ``mode``:

    - ``"overwrite"`` — land the table (``Engine.save``): replace the
      whole path.
    - ``"append"`` — add the frame's rows (batch ingest).
    - ``"replace_days"`` — replace only the ``dt`` days the frame holds,
      by dynamic partition overwrite; every other day directory is left
      as it is (the bar refresh, ``Engine.pack``).  The frame may read
      the days it replaces.  While the path holds no data files yet it
      is a static overwrite instead, which writes the root ``_SUCCESS``
      a dynamic one does not — a table without the marker never reaches
      the catalog's schema cache.  A static overwrite of a table it
      reads would fail mid-job, so an existing table never takes it.

    An append or day replace conforms the frame to the table's timestamp
    types first (``conform``).  The table schema comes through
    ``catalog.read_parquet``, a cache hit while the table is unchanged.
    The commit keeps that cache entry current (``catalog.committed``).
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    overwrite = "static"
    table = StructType()
    if mode != "overwrite":
        try:
            current = read_parquet(spark, path)
            table = current.schema
        except AnalysisException:  # no table yet: nothing to conform to
            current = None
        if mode == "replace_days":
            mode = "overwrite"
            if current is not None and current.inputFiles():
                overwrite = "dynamic"
    out = conform(df, table, time_col)
    sort_cols = ["dt", *([key_bucket_col] if key_bucket_col else []), time_col]
    committed(path, out, lambda: (
        out.repartition("dt")
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .option("partitionOverwriteMode", overwrite)
        .partitionBy("dt")
        .parquet(path)
    ))

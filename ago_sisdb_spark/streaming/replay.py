"""Historical replay (T2 "psub") + k-way time merge (T3).

Reference: replay opens disk readers for a date, feeds every ``key.sdb``
stream into ``s_sis_subdb_cxt``, infers the finest time scale, and pops the
minimum-time row across all units until drained
(`sis_db.c:276-294,420-533`); ties emit in unit-insertion order.

Spark re-expression: the k-way merge is a ``unionByName`` of all tables
normalized to a common (key, time, payload) shape, event-time ordered.  The
driver never holds a heap — ordering is a distributed sort, and date
partition pruning replaces per-day file opens.  Deterministic tie-break
(SURVEY §7 hard part d): ``(event_time, source_order, seq)`` where
``source_order`` is the table's position in the requested list and ``seq``
a per-row monotonic id — pinned, unlike the reference's insertion-order
accident.

Streaming form: ``availableNow`` trigger over the same files = backfill that
terminates (the reference's catch-up-then-WAIT); chain a live trigger for
the continue-live mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_for_merge(
    df: DataFrame,
    source: str,
    source_order: int | Column,
    key_col: str,
    time_col: str,
    seq_col: str | None = None,
) -> DataFrame:
    """Project a table to the merge shape (key, event_time, source,
    __order, __seq, payload-json).  ``source_order`` may be a per-row
    Column (``Engine.psub``: the requested-key position of each row)."""
    payload_cols = [c for c in df.columns if c not in (key_col, time_col)]
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(time_col).alias("event_time"),
        F.lit(source).alias("source"),
        F.lit(source_order).alias("__order"),
        (F.col(seq_col) if seq_col else F.monotonically_increasing_id()).alias("__seq"),
        F.to_json(F.struct(*payload_cols)).alias("payload"),
    )


def kway_merge(tables: list[tuple[str, DataFrame, str, str]],
               seq_cols: dict[str, str] | None = None,
               orders: list[int | Column] | None = None) -> DataFrame:
    """T3: merge heterogeneous tables into one event-time-ordered stream.

    ``tables`` = [(source_name, df, key_col, time_col), …].  Output is one
    DataFrame sorted by (event_time, __order, __seq) — the deterministic
    replay order; a consumer iterates with ``toLocalIterator`` to get the
    reference's one-by-one emission without collecting the whole stream.
    ``__order`` is the table's list position unless ``orders`` gives one
    (int or per-row Column) per table.
    """
    seq_cols = seq_cols or {}
    orders = orders or list(range(len(tables)))
    parts = [
        normalize_for_merge(df, name, o, key, time, seq_cols.get(name))
        for o, (name, df, key, time) in zip(orders, tables)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    return merged.orderBy("event_time", "__order", "__seq").drop("__order", "__seq")


def replay_range(
    spark: SparkSession,
    tables: list[tuple[str, DataFrame, str, str]],
    start=None,
    stop=None,
    orders: list[int | Column] | None = None,
) -> DataFrame:
    """T2 batch replay: date/time-pruned k-way merge.

    The time filter (``rangescan.time_range``: time bounds plus ``dt``
    day-partition bounds on the landed layout) is applied per-table
    *before* the union so partition pruning and row-group skipping happen
    at each source scan.  ``orders`` as in ``kway_merge``.
    """
    from ago_sisdb_spark.operators.rangescan import time_range

    bounded = [
        (name, time_range(df, time, start, stop), key, time)
        for name, df, key, time in tables
    ]
    return kway_merge(bounded, orders=orders)


def replay_stream(
    spark: SparkSession,
    path: str,
    schema,
    time_col: str,
    query_name: str = "replay",
    live: bool = False,
    max_files_per_trigger: int | None = None,
):
    """T2 streaming replay: file-source backfill with ``availableNow``
    (terminates when caught up — the WAIT transition), or live tail when
    ``live=True``.

    Note: within a micro-batch rows are not globally time-ordered (Spark
    streams are unordered by design); downstream event-time logic uses
    watermarks, exactly as the reference's consumers tolerate intra-batch
    reordering up to the page size.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(path)
    writer = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
    )
    if live:
        return writer.trigger(processingTime="1 second").start()
    return writer.trigger(availableNow=True).start()

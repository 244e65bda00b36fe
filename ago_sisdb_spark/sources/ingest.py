"""Ingest: bucketed landing and the incremental bar refresh (reference
S11 `save`/`pack` and the T7 daily cutover; `sisdb_disk.c:338-373`,
`sis_disk.io.h:44-54`).

Why the landed layout exists for scale: a query can only be as fast as
its scan.  The driver's raw `events.parquet` stores ts as
TIMESTAMP(NANOS); where the reader surfaces it as INT64 nanos it needs a
`timestamp_micros(ts div 1000)` normalization expression — and a filter
on a *computed* column does NOT reach the parquet reader (no
PushedFilters, no row-group skipping, no partition pruning).  At sf0.1
that's invisible; at 100 TB it's a full scan per query.

The fix is the same one the reference applies (day files + per-key block
index, written at `save`): land data once through
``streaming.write.write_partitioned`` — plain µs timestamps, ``dt``
partition column, rows sorted by (key, time) within each day file — and
every later time-range/key query gets partition pruning + row-group
min/max skipping structurally.  That writer is the layout's only one:
``Engine.save`` lands through it, ``Engine.pack`` merges a day's files
through its day replace, and ``incremental_rollup`` below commits its
bars through the same day replace.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ago_sisdb_spark.catalog import load_table, read_parquet
from ago_sisdb_spark.streaming.write import day_files, write_partitioned


def materialize_bucketed(
    spark: SparkSession,
    src_root: str,
    name: str,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> DataFrame:
    """Bucketed landing (SURVEY §4 partitioning row): hash-bucket the table
    by its join/aggregation key at write time.

    Two tables bucketed the same way join with ZERO shuffle (plans show no
    Exchange on either side — asserted in tests/test_ingest.py); a groupBy
    on the bucket column also skips its shuffle.  At 100 TB this converts
    every symbol-to-symbol join/agg from a full network pass into a local
    merge.  Bucketing requires the session catalog (saveAsTable) — the
    metastore records the bucket spec Catalyst plans against.
    """
    df = load_table(spark, src_root, name)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)
    return spark.table(table_name)


def _newest_day(spark: SparkSession, path: str) -> datetime.date | None:
    """The newest ``dt`` partition value of a dt-partitioned table, read
    from its file listing — no schema inference, no Spark job.  None when
    the table does not exist or has no data files."""
    from pyspark.errors import AnalysisException

    try:
        days = day_files(spark.read.schema("dt date").parquet(path))
    except AnalysisException:
        return None
    return max(days, default=None)


def incremental_rollup(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key_cols: list[str],
    time_col: str,
    price_col: str,
    width: str,
    order_col: str | None = None,
) -> int:
    """Incremental bar refresh: aggregate only source dt partitions from
    the destination's newest day on, and replace those days' bars.

    The batch twin of the streaming convert service (T7 daily cutover):
    each run takes the watermark day — the newest ``dt`` partition value
    in the destination's file listing, no Spark job — and prunes the
    source scan to dt >= watermark, so partition pruning makes the refresh
    cost proportional to NEW data only, never a full-history rescan.  The
    watermark day itself is RE-aggregated and its destination day
    replaced (not appended), so a day partition ingested in several
    batches converges instead of leaving the newest day's bars stale
    (ADVICE r1).  Correct because bars never span days when width divides
    a day (the reference's day-file invariant).  The bars commit through
    ``write_partitioned``'s day replace, so completed older days are
    untouched.  Returns the number of rows written, counted by an
    ``Observation`` inside the write job (0 when there is nothing to
    aggregate: the write then touches no day).
    """
    from ago_sisdb_spark.operators.rollup import ohlcv

    src = read_parquet(spark, src_path)
    if "dt" not in src.columns:
        raise ValueError("source must be dt-partitioned (write_partitioned)")
    done = _newest_day(spark, dst_path)
    fresh = src.where(F.col("dt") >= F.lit(done)) if done is not None else src
    bars = ohlcv(fresh, key_cols, time_col, price_col, width, order_col=order_col)
    written = Observation()
    write_partitioned(
        bars.observe(written, F.count(F.lit(1)).alias("rows")),
        dst_path, "bar_start", mode="replace_days", key_bucket_col=key_cols[0],
    )
    return written.get["rows"]

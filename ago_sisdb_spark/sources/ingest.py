"""Ingest normalization + compaction (reference S11 `save`/`pack`,
T7 layout; `workers/sisdb/sisdb_disk.c:338-373`, `sis_disk.io.h:44-54`).

Why this exists for scale: a query can only be as fast as its scan.  The
driver's raw `events.parquet` stores ts as TIMESTAMP(NANOS), which Spark
reads via the nanosAsLong legacy conf + a `timestamp_micros(ts div 1000)`
normalization expression — and a filter on a *computed* column does NOT
reach the parquet reader (no PushedFilters, no row-group skipping, no
partition pruning).  At sf0.1 that's invisible; at 100 TB it's a full scan
per query.

The fix is the same one the reference applies (day files + per-key block
index, written at `save`): land data once through ``materialize_table`` —
plain µs timestamps, ``dt`` partition column, rows sorted by (key, time)
within each partition — and every later time-range/key query gets partition
pruning + row-group min/max skipping structurally.  ``compact`` is `pack`:
rewrite small files into size-targeted ones, preserving the sort.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ago_sisdb_spark.catalog import committed, load_table, read_parquet


def materialize_table(
    spark: SparkSession,
    src_root: str,
    name: str,
    dst_path: str,
    time_col: str | None = None,
    key_col: str | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> DataFrame:
    """One-time ingest: normalize encodings and write the query-optimal
    layout (dt-partitioned, key/time-sorted).  Returns the written frame.

    The written table needs no session conf and no normalization expression,
    so filters on ``time_col`` push down to the scan (asserted in
    tests/test_ingest.py by inspecting PushedFilters).  The partition
    column is ``dt = to_date(time_col)`` under the UTC session time zone
    (``load_table`` pins it), the invariant ``rangescan.time_range``'s day
    pruning relies on.
    """
    df = load_table(spark, src_root, name)
    writer_df = df
    # zstd default: the reference's snappy-block layer upgraded (SURVEY §4
    # compression row) — better ratio at similar decode speed for cold data
    if time_col is not None:
        writer_df = writer_df.withColumn("dt", F.to_date(F.col(time_col)))
        sort_cols = [c for c in (key_col, time_col) if c is not None]
        (
            writer_df.repartition("dt")
            .sortWithinPartitions(*sort_cols)
            .write.mode(mode)
            .option("compression", compression)
            .partitionBy("dt")
            .parquet(dst_path)
        )
    else:
        writer_df.write.mode(mode).option("compression", compression).parquet(dst_path)
    return spark.read.parquet(dst_path)


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
) -> None:
    """`pack` (S11): rewrite a parquet table into size-targeted files.

    Uses total bytes / target to choose the file count per partition dir and
    re-sorts within files so row-group stats stay tight.  On Delta this is
    OPTIMIZE; here it is an explicit rewrite into a staging dir + swap —
    the same safe-dir swap the reference does at save
    (`workers/sisdb/sisdb.h:184-189`).
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    is_partitioned = "dt" in df.columns
    size_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    staging = path.rstrip("/") + ".__compact__"
    out = df.repartition(n_files, "dt") if is_partitioned else df.coalesce(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite")
    if is_partitioned:
        writer = writer.partitionBy("dt")
    writer.parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)


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
        files = spark.read.schema("dt date").parquet(path).inputFiles()
    except AnalysisException:
        return None
    days = [m.group(1) for f in files if (m := re.search(r"/dt=([^/]+)/", f))]
    return datetime.date.fromisoformat(max(days)) if days else None


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
    """Incremental bar refresh: aggregate only source dt partitions newer
    than what the destination already holds, append them partition-wise.

    The batch twin of the streaming convert service (T7 daily cutover):
    each run takes the watermark day — the newest ``dt`` partition value
    in the destination's file listing, no Spark job — and prunes the
    source scan to dt >= watermark, so partition pruning makes the refresh
    cost proportional to NEW data only, never a full-history rescan.  The
    watermark day itself is RE-aggregated and its destination partition
    dynamically overwritten (not appended), so a day partition ingested in
    several batches converges instead of leaving the newest day's bars
    stale (ADVICE r1).  Correct because bars never span days when width
    divides a day (the reference's day-file invariant).  Returns the number
    of rows written, counted by an ``Observation`` inside the write job
    (0 when there is nothing to aggregate: the write then touches no
    partition).
    """
    from ago_sisdb_spark.operators.rollup import ohlcv

    src = read_parquet(spark, src_path)
    if "dt" not in src.columns:
        raise ValueError("source must be dt-partitioned (materialize_table)")
    done = _newest_day(spark, dst_path)
    fresh = src.where(F.col("dt") >= F.lit(done)) if done is not None else src
    bars = ohlcv(fresh, key_cols, time_col, price_col, width, order_col=order_col)
    written = Observation()
    out = bars.withColumn("dt", F.to_date("bar_start")).observe(
        written, F.count(F.lit(1)).alias("rows")
    )
    # dynamic mode: overwrite ONLY the dt partitions present in `out`
    # (the watermark day + newer); completed older days are untouched.
    # A destination with no data yet takes a static overwrite instead: a
    # dynamic one writes no root ``_SUCCESS``, and a table without the
    # marker never reaches the catalog's schema cache.
    mode = "dynamic" if done is not None else "static"
    committed(dst_path, out, lambda: (
        out.repartition("dt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", mode)
        .partitionBy("dt")
        .parquet(dst_path)
    ))
    return written.get["rows"]

"""Ingest layout contract: after materialize_table, time filters reach the
parquet scan (PushedFilters) and dt partitions prune — the structural
guarantee every 100 TB range query depends on."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark.sources.ingest import compact, materialize_table


@pytest.fixture(scope="module")
def mat_events(spark, sf_small, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("ingest") / "events")
    return materialize_table(
        spark, sf_small, "events", dst, time_col="ts", key_col="user_id"
    ), dst


def _scan_lines(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [l for l in plan.splitlines() if "Scan parquet" in l]


def test_raw_events_filter_is_pushed(spark, sf_small):
    # events.parquet reads natively as TIMESTAMP_NTZ here, so the ts range
    # predicate reaches the parquet scan with no normalization in the way
    # (r3 verdict #3 — the nanosAsLong branch stays only as compat for
    # environments whose reader surfaces INT64 nanos)
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    out = ev.where(F.col("ts") >= F.lit("2024-01-10").cast("timestamp_ntz"))
    scans = _scan_lines(out)
    assert scans and any("GreaterThanOrEqual(ts" in s for s in scans)


def test_materialized_events_filter_pushes_down(spark, mat_events):
    df, _ = mat_events
    out = df.where(F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
    scans = _scan_lines(out)
    assert scans and any("GreaterThanOrEqual(ts" in s for s in scans)


def test_materialized_events_partition_pruning(spark, mat_events):
    df, _ = mat_events
    out = df.where(F.col("dt") == "2024-01-10")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert out.count() == df.where(F.to_date("ts") == "2024-01-10").count()


def test_materialized_preserves_rows(spark, sf_small, mat_events):
    from ago_sisdb_spark.catalog import load_table

    df, _ = mat_events
    raw = load_table(spark, sf_small, "events")
    assert df.count() == raw.count()
    a = sorted(r.event_id for r in df.select("event_id").collect())
    b = sorted(r.event_id for r in raw.select("event_id").collect())
    assert a == b


def test_compact_reduces_files_and_keeps_rows(spark, mat_events):
    import glob

    df, dst = mat_events
    n_before = df.count()
    compact(spark, dst, target_file_mb=512, sort_cols=["user_id", "ts"])
    after = spark.read.parquet(dst)
    assert after.count() == n_before
    files = glob.glob(f"{dst}/**/*.parquet", recursive=True)
    # 512 MB target on tiny data → one file per partition dir at most
    by_dir = {}
    for f in files:
        by_dir.setdefault(f.rsplit("/", 1)[0], 0)
        by_dir[f.rsplit("/", 1)[0]] += 1
    assert max(by_dir.values()) == 1


def test_bucketed_join_has_no_shuffle(spark, sf_small, tmp_path_factory):
    """Co-located join contract: same-bucketed tables join without any
    Exchange in the physical plan."""
    import uuid

    from ago_sisdb_spark.sources.ingest import materialize_bucketed

    suffix = uuid.uuid4().hex[:8]
    ev = materialize_bucketed(
        spark, sf_small, "events", f"ev_b_{suffix}", "user_id", 8, "ts"
    )
    cu = materialize_bucketed(
        spark, sf_small, "customer", f"cu_b_{suffix}", "c_custkey", 8
    )
    # hint("merge"): without it Catalyst broadcasts the small side (which
    # also disables bucketed scans); the co-location payoff shows on SMJ —
    # the strategy big-big joins take at 100 TB
    joined = ev.hint("merge").join(cu, ev.user_id == cu.c_custkey).select(
        "event_id", "user_id", "c_name"
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan
    # same SMJ on plain (non-bucketed) frames must show the contrast
    from ago_sisdb_spark.catalog import load_table

    ev_raw = load_table(spark, sf_small, "events")
    cu_raw = load_table(spark, sf_small, "customer")
    j2 = ev_raw.hint("merge").join(cu_raw, ev_raw.user_id == cu_raw.c_custkey)
    j2.collect()
    p2 = j2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in p2


def test_incremental_rollup_processes_only_new_partitions(spark, tmp_path):
    from datetime import datetime, timedelta

    from ago_sisdb_spark.sources.ingest import incremental_rollup

    src = str(tmp_path / "ticks")
    dst = str(tmp_path / "bars")
    base = datetime(2024, 1, 1, 9, 0, 0)

    def ticks(day_offset, n=24):
        rows = [
            ("A", base + timedelta(days=day_offset, minutes=5 * i), 10.0 + i, i)
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "sym string, ts timestamp, px double, seq int")
        return df.withColumn("dt", F.to_date("ts"))

    ticks(0).write.partitionBy("dt").mode("append").parquet(src)
    n1 = incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq")
    assert n1 == 2  # 24 ticks × 5min = 2 hourly bars
    # append a second day; refresh re-aggregates watermark day + new day only
    ticks(1).write.partitionBy("dt").mode("append").parquet(src)
    n2 = incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq")
    assert n2 == 4  # day0 (watermark, overwritten in place) + day1
    bars = spark.read.parquet(dst)
    assert bars.count() == 4  # no duplicate day0 bars after the overwrite
    assert bars.select("dt").distinct().count() == 2
    # re-run with nothing new: only the watermark day re-aggregates, data stable
    assert incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq") == 2
    assert spark.read.parquet(dst).count() == 4


def test_incremental_rollup_empty_source_returns_zero(spark, tmp_path):
    """A dt-partitioned source with no rows: nothing aggregated, 0 bars,
    no destination partition written."""
    from ago_sisdb_spark.sources.ingest import incremental_rollup

    src = str(tmp_path / "ticks")
    dst = str(tmp_path / "bars")
    spark.createDataFrame([], "sym string, ts timestamp, px double, seq int").write.parquet(
        src + "/dt=2024-01-01"
    )
    assert incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq") == 0
    assert not os.path.isdir(dst) or not any(
        f.startswith("dt=") for f in os.listdir(dst)
    )


def test_incremental_rollup_converges_on_late_watermark_day_data(spark, tmp_path):
    """A day partition ingested in two batches must converge — the second
    batch's rows land in the re-aggregated watermark-day bars (ADVICE r1:
    `dt > done` silently left the newest day stale)."""
    from datetime import datetime, timedelta

    from ago_sisdb_spark.sources.ingest import incremental_rollup

    src = str(tmp_path / "ticks")
    dst = str(tmp_path / "bars")
    base = datetime(2024, 1, 1, 9, 0, 0)

    def batch(start, n):
        rows = [
            ("A", base + timedelta(minutes=5 * i), 10.0 + i, i)
            for i in range(start, start + n)
        ]
        df = spark.createDataFrame(rows, "sym string, ts timestamp, px double, seq int")
        return df.withColumn("dt", F.to_date("ts"))

    batch(0, 6).write.partitionBy("dt").mode("append").parquet(src)  # 09:00-09:25
    incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq")
    first = {r.bar_start: r for r in spark.read.parquet(dst).collect()}
    assert len(first) == 1 and first[base].close == 15.0
    # same day, second batch: 09:30-10:25 → extends hour 9 AND opens hour 10
    batch(6, 12).write.partitionBy("dt").mode("append").parquet(src)
    incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq")
    bars = {r.bar_start: r for r in spark.read.parquet(dst).collect()}
    assert len(bars) == 2
    assert bars[base].open == 10.0 and bars[base].close == 21.0  # hour 9 refreshed
    assert bars[base + timedelta(hours=1)].close == 27.0

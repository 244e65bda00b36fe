"""Ingest layout contract: after a table is landed by
``streaming.write.write_partitioned``, time filters reach the parquet scan
(PushedFilters), dt partitions prune, and every file holds one day in
(key, time) order — the structural guarantee every 100 TB range query
depends on.  ``Engine.pack`` merges only the days appends split, through
the same writer."""

from __future__ import annotations

import glob
import os
from datetime import timedelta

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark.catalog import load_table
from ago_sisdb_spark.plans.engine import Engine, TableSpec
from ago_sisdb_spark.streaming.write import write_partitioned

EVENTS = {"events": TableSpec("events", "user_id", "ts", order_col="event_id")}


@pytest.fixture(scope="module")
def mat_events(spark, sf_small, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("ingest") / "events")
    write_partitioned(
        load_table(spark, sf_small, "events"), dst, "ts", key_bucket_col="user_id"
    )
    return spark.read.parquet(dst), dst


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


def _files_by_day(path):
    by_day = {}
    for f in glob.glob(os.path.join(path, "dt=*", "*.parquet")):
        by_day.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
    return by_day


def _key_time_sorted(f) -> bool:
    t = pq.read_table(f, columns=["user_id", "ts"])
    rows = list(zip(t.column("user_id").to_pylist(), t.column("ts").to_pylist()))
    return rows == sorted(rows)


def _later_batch(raw, day, n, shift):
    """``n`` rows of ``raw`` moved onto ``day`` (same wall-clock time of
    day), with fresh event ids — an appended batch that lands in that
    day's partition."""
    rows = raw.orderBy(F.desc("event_id")).limit(n)
    return rows.withColumns({
        "event_id": F.col("event_id") + shift,
        "ts": F.make_timestamp_ntz(
            F.lit(day.year), F.lit(day.month), F.lit(day.day),
            F.hour("ts"), F.minute("ts"), F.second("ts"),
        ),
    })


def _jobs(spark, group: str, request) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        request()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_save_and_appends_write_key_time_sorted_files(spark, sf_small, tmp_path):
    """The writer's (key, time) order reaches every file: a sort that does
    not lead with ``dt`` is replaced by the write's own sort on ``dt``."""
    path = str(tmp_path / "events.parquet")
    Engine(spark, sf_small, dict(EVENTS)).save("events", path)
    raw = load_table(spark, sf_small, "events")
    last = raw.agg(F.max("ts")).first()[0].date()
    for i in (1, 2):
        batch = _later_batch(raw, last - timedelta(days=i), 50, i * 10**9)
        write_partitioned(batch, path, "ts", mode="append", key_bucket_col="user_id")
    files = [f for fs in _files_by_day(path).values() for f in fs]
    assert len(files) > len(_files_by_day(path))  # the appends added files
    assert [f for f in files if not _key_time_sorted(f)] == []


def test_pack_merges_only_the_days_appends_split(spark, sf_small, tmp_path):
    """Save, append two batches into one day, pack: that day becomes one
    (key, time)-sorted file; every other day directory keeps its mtime;
    the table root keeps its inode; the rows are unchanged; and the
    commit keeps the schema cache current, so the next ``get`` runs no
    inference job."""
    path = str(tmp_path / "events.parquet")
    Engine(spark, sf_small, dict(EVENTS)).save("events", path)
    raw = load_table(spark, sf_small, "events")
    day = raw.agg(F.max("ts")).first()[0].date()
    for i in (1, 2):
        batch = _later_batch(raw, day, 40, i * 10**9)
        write_partitioned(batch, path, "ts", mode="append", key_bucket_col="user_id")
    split = f"dt={day.isoformat()}"
    before = _files_by_day(path)
    assert len(before[split]) == 3
    assert all(len(fs) == 1 for d, fs in before.items() if d != split)
    others = [d for d in before if d != split]
    mtimes = [os.stat(os.path.join(path, d)).st_mtime_ns for d in others]
    inode = os.stat(path).st_ino
    landed = Engine(spark, str(tmp_path), dict(EVENTS))
    rows = sorted(landed.get("*.events", count=10**6).collect())

    landed.pack("events", path)

    after = _files_by_day(path)
    assert set(after) == set(before)
    assert len(after[split]) == 1 and _key_time_sorted(after[split][0])
    assert [os.stat(os.path.join(path, d)).st_mtime_ns for d in others] == mtimes
    assert os.stat(path).st_ino == inode
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _jobs(spark, "pack-next-get", lambda: landed.get("*.events", count=10**6)) == 0
    assert sorted(landed.get("*.events", count=10**6).collect()) == rows


def test_pack_of_a_table_with_one_file_per_day_writes_nothing(spark, mat_events, tmp_path):
    _, dst = mat_events
    mtime = os.stat(dst).st_mtime_ns
    Engine(spark, str(tmp_path), dict(EVENTS)).pack("events", dst)
    assert os.stat(dst).st_mtime_ns == mtime


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

"""The per-request cost of the sisdb read and ingest path: the catalog's
schema cache stays fresh across commits, ``rangescan.time_range`` prunes
``dt`` day partitions without changing any answer, and each Engine read
kind runs a pinned number of Spark jobs on a landed table."""

from __future__ import annotations

import os
import re
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark import catalog
from ago_sisdb_spark.operators import rangescan
from ago_sisdb_spark.operators.rollup import ohlcv
from ago_sisdb_spark.plans.engine import Engine, TableSpec
from ago_sisdb_spark.sources.formats import render
from ago_sisdb_spark.sources.ingest import incremental_rollup
from ago_sisdb_spark.streaming.write import write_partitioned

EVENTS = {"events": TableSpec("events", "user_id", "ts", order_col="event_id")}


@pytest.fixture(scope="module")
def landed(spark, sf_small, tmp_path_factory):
    """The sf0.001 ``events`` table landed with ``Engine.save``
    (dt-partitioned, committed by Spark, so it carries a ``_SUCCESS``)."""
    root = str(tmp_path_factory.mktemp("landed"))
    Engine(spark, sf_small, dict(EVENTS)).save(
        "events", os.path.join(root, "events.parquet")
    )
    return root


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _partition_filters(plan: str) -> list[str]:
    """The scans' PartitionFilters in the final (executed) plan."""
    final = plan.split("== Initial Plan ==")[0]
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", final)


# -- schema cache ---------------------------------------------------------
def test_append_rows_show_on_next_get(spark, tmp_path):
    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9), 10, "a", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path / "events.parquet")
    write_partitioned(ev, path, "ts", key_bucket_col="user_id")
    eng = Engine(spark, str(tmp_path), dict(EVENTS))
    assert eng.get("10.events").count() == 1  # fills the cache
    assert path in catalog._SCHEMAS
    late = ev.withColumn("event_id", F.lit(2)).withColumn(
        "ts", F.lit(datetime(2024, 1, 2, 9))
    )
    write_partitioned(late, path, "ts", mode="append", key_bucket_col="user_id")
    got = eng.get("10.events", start=datetime(2024, 1, 1)).collect()
    assert sorted(r.event_id for r in got) == [1, 2]


def test_overwrite_adding_a_column_shows_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    base = spark.createDataFrame([(1, datetime(2024, 1, 1, 9))], "k long, ts timestamp")
    write_partitioned(base, path, "ts")
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["k", "ts", "dt"]
    write_partitioned(base.withColumn("extra", F.lit("x")), path, "ts")
    t = catalog.load_table(spark, str(tmp_path), "t")
    assert t.columns == ["k", "ts", "extra", "dt"]
    assert [r.extra for r in t.collect()] == ["x"]


def test_dynamic_partition_overwrite_of_bars_is_read_back(spark, tmp_path):
    """A dynamic partition overwrite leaves ``_SUCCESS`` as it was; the
    cache key still moves (the commit's staging dir under the root), and
    the refreshed bars are what the next read returns."""
    src, dst = str(tmp_path / "ticks"), str(tmp_path / "bars.parquet")
    base = datetime(2024, 1, 1, 9)

    def ticks(lo, hi):
        rows = [("A", base + timedelta(minutes=5 * i), 10.0 + i, i) for i in range(lo, hi)]
        return spark.createDataFrame(rows, "sym string, ts timestamp, px double, seq int")

    write_partitioned(ticks(0, 6), src, "ts")
    first = ohlcv(ticks(0, 6), ["sym"], "ts", "px", "1 hour", order_col="seq")
    write_partitioned(first, dst, "bar_start")  # static: writes the marker
    eng = Engine(spark, str(tmp_path), {"bars": TableSpec("bars", "sym", "bar_start")})
    assert eng.get("A.bars").first().close == 15.0  # fills the cache
    stamp = catalog._commit_stamp(dst)
    assert stamp is not None and catalog._SCHEMAS[dst][0] == stamp

    write_partitioned(ticks(6, 12), src, "ts", mode="append")
    assert incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq") == 1
    assert catalog._commit_stamp(dst) != stamp
    bars = {r.bar_start: r.close for r in eng.get("A.bars", count=10).collect()}
    assert bars == {base: 21.0}


def test_table_without_marker_is_inferred_every_call(spark, tmp_path):
    path = tmp_path / "raw.parquet"
    path.mkdir()
    pq.write_table(pa.table({"k": [1]}), path / "part-0.parquet")
    assert catalog.load_table(spark, str(tmp_path), "raw").columns == ["k"]
    pq.write_table(pa.table({"k": [1], "v": [2.0]}), path / "part-0.parquet")
    assert catalog.load_table(spark, str(tmp_path), "raw").columns == ["k", "v"]
    assert str(path) not in catalog._SCHEMAS


# -- dt day-partition pruning --------------------------------------------
def test_get_and_psub_plans_prune_day_partitions(spark, landed):
    eng = Engine(spark, landed, dict(EVENTS))
    start, stop = datetime(2024, 1, 10, 6), datetime(2024, 1, 11, 18)
    for df in (
        eng.get("3.events", start=start, stop=stop),
        eng.psub(["3.events", "5.events"], start=start, stop=stop),
    ):
        (filters,) = _partition_filters(_plan(df))
        assert "dt" in filters and "2024-01-10" in filters and "2024-01-11" in filters


def test_boundary_instants_match_unpruned_read(spark, tmp_path):
    """start 23:59:59.999999 and stop exactly midnight of the next day:
    the pruned read keeps exactly the rows the time predicate alone keeps,
    for datetime and string bounds."""
    day = datetime(2024, 1, 10)
    instants = [
        day - timedelta(microseconds=2),
        day - timedelta(microseconds=1),
        day,
        day + timedelta(microseconds=1),
        day + timedelta(days=1) - timedelta(microseconds=1),
        day + timedelta(days=1),
        day + timedelta(days=1, microseconds=1),
    ]
    rows = [(i, t) for i, t in enumerate(instants)]
    write_partitioned(
        spark.createDataFrame(rows, "k long, ts timestamp"),
        str(tmp_path / "b.parquet"), "ts",
    )
    table = catalog.load_table(spark, str(tmp_path), "b")
    bounds = [
        (day - timedelta(microseconds=1), day),
        (day + timedelta(days=1) - timedelta(microseconds=1), day + timedelta(days=1)),
        ("2024-01-09 23:59:59.999999", "2024-01-10 00:00:00"),
        (day - timedelta(microseconds=1), None),
        (None, day),
    ]
    for lo, hi in bounds:
        pruned = rangescan.time_range(table, "ts", lo, hi)
        plain = rangescan.time_range(table.drop("dt"), "ts", lo, hi)
        assert sorted(r.k for r in pruned.collect()) == sorted(
            r.k for r in plain.collect()
        ), (lo, hi)
        (filters,) = _partition_filters(_plan(pruned))
        assert "dt" in filters
    got = rangescan.time_range(table, "ts", bounds[0][0], bounds[0][1])
    assert sorted(r.k for r in got.collect()) == [1, 2]


def test_frame_without_dt_keeps_its_plan(spark):
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 3))], "k long, ts timestamp"
    )
    lo, hi = datetime(2024, 1, 1), datetime(2024, 1, 2)
    got = rangescan.time_range(df, "ts", lo, hi)
    want = df.where(F.col("ts").between(F.lit(lo), F.lit(hi)))
    assert (
        got._jdf.queryExecution().optimizedPlan().toString()
        == want._jdf.queryExecution().optimizedPlan().toString()
    )


# -- Spark jobs per request ----------------------------------------------
def _jobs(spark, group: str, request) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        request()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_request_job_counts_are_pinned(spark, landed):
    """Each read kind's Spark job count on a warm landed table.  A
    per-request schema-inference job (or any other extra action) on the
    read path raises a count above its pin."""
    eng = Engine(spark, landed, dict(EVENTS))
    lo, hi = datetime(2024, 1, 10), datetime(2024, 1, 11, 12)
    requests = {
        "get_range": lambda: eng.get("3.events", start=lo, stop=hi, fmt="json"),
        "get_tail": lambda: eng.get("3.events", count=-5, fmt="csv"),
        "gets": lambda: render(eng.gets(["3.events", "5.events", "7.events"]), "array"),
        "psub": lambda: render(
            eng.psub(["3.events", "5.events", "7.events"], start=lo, stop=hi), "struct"
        ),
    }
    pins = {"get_range": 2, "get_tail": 1, "gets": 4, "psub": 1}
    for request in requests.values():
        request()  # warm: the first load infers and caches the schema
    got = {
        kind: _jobs(spark, f"request-path-{kind}", request)
        for kind, request in requests.items()
    }
    assert got == pins

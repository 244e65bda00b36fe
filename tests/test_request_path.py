"""The per-request cost of the sisdb read and ingest path: the catalog's
schema cache stays fresh across commits (and current across the package's
own), ``rangescan.time_range`` prunes ``dt`` day partitions without
changing any answer, key patterns reach the Parquet reader as typed
predicates, and each Engine read kind runs a pinned number of Spark jobs
on a landed table."""

from __future__ import annotations

import glob
import os
import re
from datetime import date, datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark import catalog
from ago_sisdb_spark.operators import lastper, rangescan
from ago_sisdb_spark.operators.rollup import ohlcv
from ago_sisdb_spark.plans.engine import Engine, TableSpec
from ago_sisdb_spark.sources.formats import render
from ago_sisdb_spark.sources.ingest import incremental_rollup
from ago_sisdb_spark.streaming.pubsub import key_pattern_filter
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


BASE = datetime(2024, 1, 1, 9)


def _ticks(spark, lo, hi, ts_type="timestamp"):
    """Ticks ``lo..hi-1`` of one key, five minutes apart from ``BASE``."""
    rows = [("A", BASE + timedelta(minutes=5 * i), 10.0 + i, i) for i in range(lo, hi)]
    return spark.createDataFrame(rows, f"sym string, ts {ts_type}, px double, seq int")


def test_dynamic_partition_overwrite_of_bars_is_read_back(spark, tmp_path):
    """A dynamic partition overwrite leaves ``_SUCCESS`` as it was; the
    cache key still moves (the commit's staging dir under the root), and
    the refreshed bars are what the next read returns."""
    src, dst = str(tmp_path / "ticks"), str(tmp_path / "bars.parquet")
    write_partitioned(_ticks(spark, 0, 6), src, "ts")
    first = ohlcv(_ticks(spark, 0, 6), ["sym"], "ts", "px", "1 hour", order_col="seq")
    write_partitioned(first, dst, "bar_start")  # static: writes the marker
    eng = Engine(spark, str(tmp_path), {"bars": TableSpec("bars", "sym", "bar_start")})
    assert eng.get("A.bars").first().close == 15.0  # fills the cache
    stamp = catalog._commit_stamp(dst)
    assert stamp is not None and catalog._SCHEMAS[dst][0] == stamp

    write_partitioned(_ticks(spark, 6, 12), src, "ts", mode="append")
    assert incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq") == 1
    assert catalog._commit_stamp(dst) != stamp
    bars = {r.bar_start: r.close for r in eng.get("A.bars", count=10).collect()}
    assert bars == {BASE: 21.0}


def test_rollup_created_bars_reach_the_schema_cache(spark, tmp_path):
    """``incremental_rollup`` creating its destination commits a root
    ``_SUCCESS``, so the second read of the bars runs no Spark job."""
    src, dst = str(tmp_path / "ticks"), str(tmp_path / "bars.parquet")
    write_partitioned(_ticks(spark, 0, 6), src, "ts")
    assert incremental_rollup(spark, src, dst, ["sym"], "ts", "px", "1 hour", "seq") == 1
    eng = Engine(spark, str(tmp_path), {"bars": TableSpec("bars", "sym", "bar_start")})
    assert eng.get("A.bars").first().close == 15.0  # the first load infers
    assert _jobs(spark, "bars-second-get", lambda: eng.get("A.bars")) == 0
    assert os.path.exists(os.path.join(dst, "_SUCCESS"))


def test_append_conforms_timestamp_type_to_the_table(spark, tmp_path):
    """An instant-typed ``ts`` batch appended to a TIMESTAMP_NTZ table is
    written as NTZ: every file carries one ``ts`` type, and the rows read
    back at their UTC wall-clock times and days."""
    path = str(tmp_path / "t.parquet")
    write_partitioned(_ticks(spark, 0, 2, "timestamp_ntz"), path, "ts")
    late = _ticks(spark, 0, 2).withColumn(  # 23:55 and midnight
        "ts", F.col("ts") + F.expr("INTERVAL '14:55' HOUR TO MINUTE")
    ).withColumn("seq", F.col("seq") + 2)
    write_partitioned(late, path, "ts", mode="append")
    files = glob.glob(os.path.join(path, "dt=*", "*.parquet"))
    assert len(files) == 3
    assert {str(pq.read_schema(f).field("ts").type) for f in files} == {"timestamp[us]"}
    t = catalog.load_table(spark, str(tmp_path), "t")
    assert t.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    got = sorted((r.seq, r.ts, r.dt) for r in t.collect())
    assert got == [
        (0, BASE, date(2024, 1, 1)),
        (1, BASE + timedelta(minutes=5), date(2024, 1, 1)),
        (2, datetime(2024, 1, 1, 23, 55), date(2024, 1, 1)),
        (3, datetime(2024, 1, 2), date(2024, 1, 2)),
    ]


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


# -- typed key predicates and gets ----------------------------------------
KEYED = [  # (key, ts minute, id): ties at one time, ids not time-monotonic
    (5, 0, 1), (5, 3, 2), (5, 3, 3), (50, 1, 4), (50, 0, 5), (15, 2, 6),
    (0, 1, 7), (-5, 4, 8), (1, 9, 9), (None, 2, 10), (None, 5, 11),
]
PATTERNS = ["5", "05", "+5", "-0", "0", "-5", "1*", "5,50", "5, 05", "15,+5", "*5"]


def _keyed(spark, tmp_path, key_type="long", order_col="eid"):
    rows = [(k if k is None or key_type == "long" else str(k),
             BASE + timedelta(minutes=m), e) for k, m, e in KEYED]
    df = spark.createDataFrame(rows, f"k {key_type}, ts timestamp, eid long")
    write_partitioned(df, str(tmp_path / "t.parquet"), "ts", key_bucket_col="k")
    return Engine(spark, str(tmp_path), {"t": TableSpec("t", "k", "ts", order_col=order_col)})


def test_integral_key_plans_push_typed_filters(spark, landed):
    eng = Engine(spark, landed, dict(EVENTS))
    lo, hi = datetime(2024, 1, 10), datetime(2024, 1, 11, 12)
    pushed = {
        "get": eng.get("3.events", start=lo, stop=hi),
        "gets": eng.gets(["3.events", "5.events", "7.events"]),
        "psub": eng.psub(["3.events", "5.events"], start=lo, stop=hi),
        "glob": eng.get("3*.events", start=lo, stop=hi),
    }
    plans = {k: re.findall(r"PushedFilters: (.*?), ReadSchema", _plan(df))
             for k, df in pushed.items()}
    assert any("EqualTo(user_id,3)" in f for f in plans["get"]), plans["get"]
    assert any("In(user_id, [3,5,7])" in f for f in plans["gets"]), plans["gets"]
    assert any("In(user_id, [3,5])" in f for f in plans["psub"]), plans["psub"]
    assert not any(re.search(r"(EqualTo|In)\(user_id", f) for f in plans["glob"])


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_key_patterns_match_the_string_reference(spark, tmp_path, key_type):
    """Typed and text predicates select the same rows: non-canonical
    integer tokens (``05``, ``+5``, ``-0``) and globs keep the text match,
    and a string key column always does."""
    eng = _keyed(spark, tmp_path, key_type)
    table = catalog.load_table(spark, str(tmp_path), "t")
    for pattern in PATTERNS:
        want = table.where(key_pattern_filter(F.col("k").cast("string"), pattern))
        got = eng.get(f"{pattern}.t", start=BASE, stop=BASE + timedelta(hours=1))
        assert sorted(r.eid for r in got.collect()) == sorted(
            r.eid for r in want.collect()), pattern
        last = {r.eid for r in lastper.last_per_key(
            want, ["k"], F.struct("ts", "eid")).collect()}
        assert {r.eid for r in eng.gets([f"{pattern}.t"]).collect()} == last, pattern
        kept = eng.delete(f"{pattern}.t")
        assert sorted(r.eid for r in kept.collect()) == sorted(r.eid for r in table.where(
            ~F.coalesce(key_pattern_filter(F.col("k").cast("string"), pattern),
                        F.lit(False))).collect()), pattern


def test_delete_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    """A NULL key never matches a key pattern and a NULL time never falls
    inside [start, stop], so ``delete`` keeps both rows."""
    rows = [(5, BASE, 1), (5, BASE + timedelta(minutes=1), 2), (7, BASE, 3),
            (None, BASE, 4), (5, None, 5)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, eid long")
    write_partitioned(df, str(tmp_path / "t.parquet"), "ts", key_bucket_col="k")
    eng = Engine(spark, str(tmp_path), {"t": TableSpec("t", "k", "ts", order_col="eid")})
    in_range = eng.delete("5.t", start=BASE, stop=BASE + timedelta(hours=1))
    assert sorted(r.eid for r in in_range.collect()) == [3, 4, 5]
    assert sorted(r.eid for r in eng.delete("5.t").collect()) == [3, 4]


def test_gets_matches_the_argmax_join_reference(spark, tmp_path):
    """One-scan ``gets`` = ``last_per_key`` over (time, order_col): ties at
    one time go to the larger id, an earlier-time larger id loses, and
    ``*`` keeps the NULL-key group."""
    eng = _keyed(spark, tmp_path)
    table = catalog.load_table(spark, str(tmp_path), "t")
    ref = lastper.last_per_key(table, ["k"], F.struct("ts", "eid"))
    for keys in (["*"], ["5", "50"], ["5", "1*", "-0"]):
        want = ref.where(key_pattern_filter(F.col("k").cast("string"), ",".join(keys)))
        got = eng.gets([f"{k}.t" for k in keys]).drop("sdb")
        assert got.columns == table.columns
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            map(tuple, want.collect()), key=str), keys
    every = {r.k: r.eid for r in eng.gets(["*.t"]).collect()}
    assert every == {5: 3, 50: 4, 15: 6, 0: 7, -5: 8, 1: 9, None: 11}


def test_gets_without_order_col_returns_one_row_per_key(spark, tmp_path):
    """With no tie-break column, a key whose latest time holds several rows
    still yields exactly one of them."""
    eng = _keyed(spark, tmp_path, order_col=None)
    got = eng.gets(["*.t"]).collect()
    assert sorted(r.k for r in got if r.k is not None) == [-5, 0, 1, 5, 15, 50]
    assert len(got) == 7
    tied = [r for r in got if r.k == 5]
    assert tied[0].eid in (2, 3) and tied[0].ts == BASE + timedelta(minutes=3)


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
    pins = {"get_range": 1, "get_tail": 1, "gets": 2, "psub": 1}
    for request in requests.values():
        request()  # warm: the first load infers and caches the schema
    got = {
        kind: _jobs(spark, f"request-path-{kind}", request)
        for kind, request in requests.items()
    }
    assert got == pins


def test_batch_path_job_counts_are_pinned(spark, tmp_path):
    """One ingest round as sisbench's ``batch`` sends it: an instant-typed
    append to an NTZ tick table, the bar refresh, then a read of each
    table.  The package's own commits keep both schema cache entries
    current, so neither read runs an inference job."""
    ticks, bars = str(tmp_path / "ticks.parquet"), str(tmp_path / "bars.parquet")
    write_partitioned(_ticks(spark, 0, 6, "timestamp_ntz"), ticks, "ts",
                      key_bucket_col="sym")

    def rollup():
        return incremental_rollup(spark, ticks, bars, ["sym"], "ts", "px", "1 hour", "seq")

    rollup()
    eng = Engine(spark, str(tmp_path), {
        "ticks": TableSpec("ticks", "sym", "ts", order_col="seq"),
        "bars": TableSpec("bars", "sym", "bar_start"),
    })
    eng.get("A.ticks").collect(), eng.get("A.bars").collect()  # fill both entries
    steps = {
        "append": lambda: write_partitioned(
            _ticks(spark, 6, 12), ticks, "ts", mode="append", key_bucket_col="sym"),
        "rollup": rollup,
        "get_ticks": lambda: eng.get("A.ticks"),
        "get_bars": lambda: eng.get("A.bars"),
    }
    got = {kind: _jobs(spark, f"batch-path-{kind}", step) for kind, step in steps.items()}
    assert got == {"append": 2, "rollup": 3, "get_ticks": 0, "get_bars": 0}
    for path in (ticks, bars):
        assert catalog._SCHEMAS[path][0] == catalog._commit_stamp(path)
    assert eng.get("A.ticks").first().seq == 11
    assert [(r.bar_start, r.close, r.volume) for r in eng.get("A.bars").collect()] == [
        (BASE, 21.0, 12)]

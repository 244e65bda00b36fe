"""Engine facade: the reference command surface (get/gets/del) end-to-end
over the driver's events table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark.plans.engine import Engine, TableSpec


@pytest.fixture(scope="module")
def eng(spark, sf_small):
    return Engine(
        spark,
        sf_small,
        {
            "events": TableSpec("events", "user_id", "ts", order_col="event_id"),
            "orders": TableSpec("orders", "o_custkey", "o_orderdate", order_col="o_orderkey"),
        },
    )


def test_get_latest_record(eng):
    rows = eng.get("*.events").collect()
    assert len(rows) == 1


def test_get_exact_key_head(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    some_key = ev.select("user_id").first()[0]
    rows = eng.get(f"{some_key}.events", count=3).collect()
    assert 1 <= len(rows) <= 3
    assert all(r.user_id == some_key for r in rows)


def test_get_fields_projection(eng):
    rows = eng.get("*.events", fields="ts,value", count=5)
    assert rows.columns == ["ts", "value"]


def test_get_tail(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    top2 = [
        r.event_id
        for r in ev.orderBy(ev.ts.desc(), ev.event_id.desc()).limit(2).collect()
    ]
    rows = eng.get("*.events", count=-2).collect()
    assert sorted(r.event_id for r in rows) == sorted(top2)


def test_get_csv_format(eng):
    out = eng.get("*.events", fields="event_id,value", count=2, fmt="csv")
    assert isinstance(out, bytes)
    assert out.decode().splitlines()[0] == "event_id,value"


def test_gets_multi_sdb(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    k1, k2 = [r.user_id for r in ev.select("user_id").distinct().limit(2).collect()]
    out = eng.gets([f"{k1}.events", f"{k2}.events"]).collect()
    assert len(out) == 2
    assert {r.sdb for r in out} == {"events"}


def test_delete_range(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    total = ev.count()
    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    survivors = eng.delete("*.events", start=lo, stop=hi)
    assert survivors.count() == 0
    nothing = eng.delete("zzz-no-such-key.events", start=lo, stop=hi)
    assert nothing.count() == total


def test_unknown_sdb_raises(eng):
    with pytest.raises(KeyError):
        eng.get("X.nope")


def test_set_appends_ms_scale(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    first = ev.first()
    rec = {
        "event_id": 10_000_000,
        "ts": first.ts,
        "user_id": first.user_id,
        "event_type": "purchase",
        "value": 1.5,
        "props": "{}",
    }
    merged = eng.set("*.events", [rec])
    assert merged.count() == n + 1
    assert merged.where("event_id = 10000000").count() == 1


def test_set_overwrites_day_scale(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table
    from ago_sisdb_spark.streaming.write import TimeScale

    orders = load_table(spark, sf_small, "orders")
    n = orders.count()
    first = orders.first()
    rec = {f.name: first[f.name] for f in orders.schema.fields}
    rec["o_totalprice"] = 123.45
    merged = eng.set("*.orders", [rec], scale=TimeScale.DAY)
    # same (custkey, orderdate) may cover several orders; every survivor at
    # that key+date is the overwritten record, total rows shrink accordingly
    assert merged.count() <= n
    hit = merged.where(
        (F.col("o_custkey") == first.o_custkey)
        & (F.col("o_orderdate") == first.o_orderdate)
    ).collect()
    assert len(hit) == 1 and float(hit[0].o_totalprice) == 123.45


def test_create_registers_spec(eng):
    spec = {
        "fields": {"time": ["S", 8], "code": ["C", 16], "newp": ["P", 4, 1, 2]},
        "index": {"time": "mindex", "code": "solely"},
    }
    ts = eng.create("stk_snap", spec)
    assert ts.time_col == "time" and ts.key_col == "code"
    assert eng.schemas.get("stk_snap").version == 1
    with pytest.raises(ValueError):
        eng.create("bad", {"fields": {"x": ["I", 4]}})


def test_save_and_pack_roundtrip(eng, spark, sf_small, tmp_path):
    from ago_sisdb_spark.catalog import load_table

    out = str(tmp_path / "events_saved")
    eng.save("events", out)
    saved = spark.read.parquet(out)
    raw = load_table(spark, sf_small, "events")
    assert saved.count() == raw.count()
    assert "dt" in saved.columns  # partition layout
    eng.pack("events", out)
    assert spark.read.parquet(out).count() == raw.count()


def test_set_and_bset_keep_a_landed_tables_schema(spark, sf_small, tmp_path):
    """On a table landed by ``save`` (dt-partitioned, ``ts`` TIMESTAMP_NTZ),
    ``set`` and ``bset`` merge to exactly the table's schema: the records
    get the table's timestamp type and a derived ``dt``, and a NULL in a
    BIGINT column of the Arrow batch stays BIGINT."""
    import io
    from datetime import datetime

    import pyarrow as pa

    spec = {"events": TableSpec("events", "user_id", "ts", order_col="event_id")}
    Engine(spark, sf_small, spec).save("events", str(tmp_path / "events.parquet"))
    landed = Engine(spark, str(tmp_path), dict(spec))
    table = landed.catalog.load("events")
    assert "dt" in table.columns
    assert table.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    n = table.count()
    ts = datetime(2024, 1, 3, 4, 5, 6)
    rec = {"event_id": 30_000_000, "ts": ts, "user_id": 7,
           "event_type": "view", "value": 2.5, "props": "{}"}
    merged = landed.set("7.events", [rec])
    assert merged.schema == table.schema
    hit = merged.where("event_id = 30000000").collect()
    assert [(r.ts, r.dt) for r in hit] == [(ts, ts.date())]

    batch = pa.table({
        "event_id": pa.array([None, 30_000_001], pa.int64()),
        "ts": pa.array([ts, ts], pa.timestamp("us")),
        "user_id": pa.array([7, 7], pa.int64()),
        "event_type": ["view", "view"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    })
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_table(batch)
    merged = landed.bset("7.events", sink.getvalue())
    assert merged.schema == table.schema
    assert merged.count() == n + 2
    got = merged.where(
        F.col("event_id").isNull() | (F.col("event_id") == 30_000_001)
    ).select("event_id", "dt").collect()
    assert sorted(got, key=lambda r: r.event_id or 0) == [
        (None, ts.date()), (30_000_001, ts.date())]


def test_sub_filters_stream_by_key(eng, spark, sf_small, tmp_path):
    from ago_sisdb_spark.catalog import load_table

    raw = load_table(spark, sf_small, "events")
    some_key = raw.select("user_id").first()[0]
    src = str(tmp_path / "stream_src")
    raw.write.parquet(src)  # full table: the key's rows are guaranteed present
    stream = spark.readStream.schema(raw.schema).parquet(src)
    q = eng.sub(f"{some_key}.events", stream, query_name="eng_sub_test")
    try:
        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline:
            n = spark.sql("select count(*) c from eng_sub_test").first().c
            if n > 0:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    got = spark.sql("select distinct user_id from eng_sub_test").collect()
    assert {r.user_id for r in got} == {some_key}


def test_show_keys_drop(eng, spark, sf_small):
    info = eng.show()
    assert "events" in info and info["events"]["time_col"] == "ts"
    ks = eng.keys("*.events")
    from ago_sisdb_spark.catalog import load_table

    raw = load_table(spark, sf_small, "events")
    assert ks.count() == raw.select("user_id").distinct().count()
    # all-sdb form unions every declared table's key set
    all_keys = eng.keys()
    assert {r.sdb for r in all_keys.select("sdb").distinct().collect()} == {
        "events", "orders"
    }
    eng.create("tmp_tbl", {"fields": {"time": ["S", 8]}, "index": {"time": "mindex"}})
    assert "tmp_tbl" in eng.show()
    eng.drop("tmp_tbl")
    assert "tmp_tbl" not in eng.show()


def test_bset_arrow_ingest(eng, spark, sf_small):
    import io

    import pyarrow as pa

    from ago_sisdb_spark.catalog import load_table

    raw = load_table(spark, sf_small, "events")
    n = raw.count()
    one = raw.limit(1).toPandas()
    one["event_id"] = 20_000_000
    sink = io.BytesIO()
    t = pa.Table.from_pandas(one, preserve_index=False)
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    merged = eng.bset("*.events", sink.getvalue())
    assert merged.count() == n + 1


def test_psub_replay_merge(eng, spark, sf_small, tmp_path):
    out = eng.psub(["*.events", "*.orders"])
    rows = out.limit(50).collect()
    assert {"events", "orders"} >= {r.source for r in rows}
    times = [r.event_time for r in out.limit(200).collect()]
    assert times == sorted(times)

    # the keys of one sdb resolve in one scan; a same-timestamp tie across
    # two keys emits in requested-key order
    from datetime import datetime, timedelta

    t = datetime(2024, 1, 2, 9, 30)
    spark.createDataFrame(
        [(1, t, 1.0), (2, t, 2.0), (2, t - timedelta(seconds=1), 3.0)],
        "k long, ts timestamp, v double",
    ).write.parquet(str(tmp_path / "ticks.parquet"))
    ticks = Engine(spark, str(tmp_path), {"ticks": TableSpec("ticks", "k", "ts")})
    for keys in (["2", "1"], ["1", "2"]):
        out = ticks.psub([f"{k}.ticks" for k in keys])
        assert [r.key for r in out.collect()] == ["2", *keys]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.split("== Initial Plan ==")[0].count("FileScan parquet") == 1


def test_get_offset_addressing(eng, spark, sf_small):
    from ago_sisdb_spark.catalog import load_table

    ev = load_table(spark, sf_small, "events")
    key = ev.select("user_id").first()[0]
    slice_rows = (
        ev.where(F.col("user_id") == key)
        .orderBy("ts", "event_id")
        .collect()
    )
    if len(slice_rows) < 3:
        pytest.skip("key has too few rows")
    anchor = slice_rows[2].ts
    got = eng.get(f"{key}.events", start=anchor, offset=-1).collect()
    assert len(got) == 1 and got[0].event_id == slice_rows[1].event_id


def test_get_all_render_formats(eng):
    import io
    import json as _json

    import pyarrow as pa

    j = eng.get("*.events", fields="event_id,value", count=2, fmt="json")
    assert len(_json.loads(j.decode())) == 2
    a = _json.loads(eng.get("*.events", fields="event_id,value", count=2, fmt="array"))
    assert a["fields"] == ["event_id", "value"] and len(a["rows"]) == 2
    s = eng.get("*.events", fields="event_id,value", count=2, fmt="struct")
    t = pa.ipc.open_stream(io.BytesIO(s)).read_all()
    assert t.num_rows == 2 and t.schema.names == ["event_id", "value"]


def test_get_offset_multikey_fanout(eng):
    """offset on a fan-out key pattern must return one shifted record PER
    KEY (per-key window partitions — no single-partition global window)."""
    rows = eng.get("*.events", start="2024-01-10 00:00:00", offset=-1).collect()
    keys = [r.user_id for r in rows]
    assert len(keys) == len(set(keys)) and len(keys) > 1


def test_get_zip_render_roundtrip(eng):
    """Engine.get(fmt='zip') returns the compressed Arrow form and decodes
    back with schema (the reference's compressed bulk-pull path)."""
    from ago_sisdb_spark.sources.formats import parse_render

    data = eng.get("*.events", count=10, fmt="zip")
    table = parse_render(data, "zip")
    assert table.num_rows == 10
    assert "ts" in table.column_names


# --- Method access flags (sis_method.h:30-38; r7 verdict #7) -------------

def _mk(spark, sf_small, access):
    from ago_sisdb_spark.plans import engine as E

    return Engine(
        spark, sf_small,
        {"events": TableSpec("events", "user_id", "ts", order_col="event_id")},
        access=access,
    )


def test_access_read_only_session_refuses_writes(spark, sf_small):
    """A READ-mask session can get/gets/keys/show but every WRITE- or
    DEL-class method refuses — the reference's per-method access check."""
    from ago_sisdb_spark.plans.engine import ACCESS_READ, AccessDenied

    eng = _mk(spark, sf_small, ACCESS_READ)
    assert eng.get("*.events").count() == 1          # read OK
    assert "events" in eng.show()                    # read OK
    with pytest.raises(AccessDenied, match="set requires"):
        eng.set("1.events", [{"x": 1}])
    with pytest.raises(AccessDenied, match="delete requires"):
        eng.delete("1.events")
    with pytest.raises(AccessDenied, match="create requires"):
        eng.create("t2", {"fields": {}})
    with pytest.raises(AccessDenied, match="drop requires"):
        eng.drop("events")
    with pytest.raises(AccessDenied, match="save requires"):
        eng.save("events", "/tmp/nope")


def test_access_rdwr_session_refuses_delete_only(spark, sf_small):
    """RDWR (mask 3) writes but cannot delete/drop — DEL is its own bit
    (reference: ACCESS_ADMIN=7 adds the delete bit on top of RDWR=3)."""
    from ago_sisdb_spark.plans.engine import ACCESS_RDWR, AccessDenied

    from ago_sisdb_spark.catalog import load_table

    eng = _mk(spark, sf_small, ACCESS_RDWR)
    first = load_table(spark, sf_small, "events").first()
    rec = dict(first.asDict(), event_id=10_000_001)
    assert eng.set("*.events", [rec]) is not None    # write OK
    with pytest.raises(AccessDenied):
        eng.delete("1.events")
    with pytest.raises(AccessDenied):
        eng.drop("events")


def test_access_admin_full_matrix(spark, sf_small):
    """ADMIN (default) passes every gate; the decorator records each
    method's declared access bits for audit."""
    from ago_sisdb_spark.plans.engine import (
        ACCESS_DEL,
        ACCESS_READ,
        ACCESS_WRITE,
    )

    eng = _mk(spark, sf_small, 7)
    assert eng.get("*.events").count() == 1
    assert eng.delete("*.events").count() >= 0
    assert Engine.get.__access__ == ACCESS_READ
    assert Engine.set.__access__ == ACCESS_WRITE
    assert Engine.delete.__access__ == ACCESS_DEL
    assert Engine.keys.__access__ == ACCESS_READ

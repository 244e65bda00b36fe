"""S6/S8/S10 format codecs: render round-trips + inline JSON decode +
DBF read/write round-trip."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ago_sisdb_spark.sources.dbf import read_dbf, write_dbf
from ago_sisdb_spark.sources.formats import from_json_records, render


def _df(spark):
    return spark.createDataFrame(
        [("A", 1, 1.5), ("B", 2, 2.5)], "sym string, t int, v double"
    )


def test_render_json(spark):
    out = json.loads(render(_df(spark), "json").decode())
    assert {r["sym"] for r in out} == {"A", "B"}


def test_render_array(spark):
    out = json.loads(render(_df(spark), "array").decode())
    assert out["fields"] == ["sym", "t", "v"]
    assert sorted(out["rows"]) == [["A", 1, 1.5], ["B", 2, 2.5]]


def test_render_csv_and_limit(spark):
    lines = render(_df(spark), "csv", limit=1).decode().splitlines()
    assert lines[0] == "sym,t,v"
    assert len(lines) == 2


def test_render_struct_arrow_roundtrip(spark):
    import io

    import pyarrow as pa

    buf = render(_df(spark), "struct")
    table = pa.ipc.open_stream(io.BytesIO(buf)).read_all()
    assert table.num_rows == 2
    assert table.schema.names == ["sym", "t", "v"]


def test_from_json_records_single_and_multi(spark):
    schema = "sym string, t int"
    one = from_json_records(spark, '{"sym": "A", "t": 1}', schema)
    assert one.count() == 1
    many = from_json_records(spark, '[{"sym":"A","t":1},{"sym":"B","t":2}]', schema)
    assert many.count() == 2


def test_dbf_roundtrip(spark, tmp_path):
    from datetime import date

    df = spark.createDataFrame(
        [("SH600600", 42, 12.345678, date(2024, 1, 31), True)],
        "sym string, qty int, px double, d date, act boolean",
    )
    path = str(tmp_path / "t.dbf")
    write_dbf(df, path)
    back = read_dbf(spark, path).collect()[0]
    assert back.sym == "SH600600"
    assert back.qty == 42
    assert abs(back.px - 12.345678) < 1e-6
    assert back.d == date(2024, 1, 31)
    assert back.act is True


def test_read_dbf_dir_distributed(spark, tmp_path):
    """S7 directory form: mapInPandas decode of several same-schema DBF
    files on executors."""
    from ago_sisdb_spark.sources.dbf import read_dbf_dir

    df1 = spark.createDataFrame([("SH600600", 1)], "sym string, qty int")
    df2 = spark.createDataFrame([("SZ300750", 2)], "sym string, qty int")
    for i, d in enumerate((df1, df2)):
        write_dbf(d, str(tmp_path / f"f{i}.dbf"))
    out = read_dbf_dir(spark, str(tmp_path / "*.dbf"))
    rows = sorted((r.sym, r.qty) for r in out.collect())
    assert rows == [("SH600600", 1), ("SZ300750", 2)]


def test_render_zip_roundtrip(spark):
    """S10 5th format: Arrow IPC + zstd round-trips schema and values and
    compresses repetitive data."""
    from ago_sisdb_spark.sources.formats import parse_render, render

    df = spark.createDataFrame(
        [(i, "the same repetitive payload " * 4, float(i)) for i in range(500)],
        "id bigint, body string, x double",
    )
    z = render(df, "zip")
    s = render(df, "struct")
    table = parse_render(z, "zip")
    assert table.num_rows == 500
    assert table.column_names == ["id", "body", "x"]
    assert sorted(table.column("id").to_pylist()) == list(range(500))
    assert parse_render(s, "struct").equals(table)
    assert len(z) < len(s) / 2  # zstd actually compressed the stream


def test_render_guard_blocks_big_results(spark):
    """Scale guard: the driver-side renderer must refuse oversized results
    before collecting them; limit= and distributed sinks are the way out."""
    import pytest

    from ago_sisdb_spark.sources.formats import RenderLimitError, render

    df = spark.range(5000).withColumnRenamed("id", "k")
    with pytest.raises(RenderLimitError):
        render(df, "json", max_rows=1000)
    # explicit limit brings it under the cap
    out = render(df, "json", limit=10, max_rows=1000)
    assert len(json.loads(out.decode())) == 10


def test_render_executes_plan_once(spark):
    """The guard must not re-execute the plan: one bounded collect serves
    both the cap check and the rendered rows.  Job count is tracked per job
    group.  The input spans several partitions with fewer rows than the cap
    in each, the shape where an incremental take runs a second job (a
    ``spark.range`` would not show it: its limit is pushed into the scan)."""
    from ago_sisdb_spark.sources.formats import render

    sc = spark.sparkContext
    df = spark.createDataFrame([(i,) for i in range(100)], "k bigint")
    assert df.rdd.getNumPartitions() > 1
    for fmt in ("json", "array", "csv", "struct", "zip"):
        group = f"render-once-{fmt}"
        sc.setJobGroup(group, "")
        try:
            render(df, fmt, max_rows=1000)
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 1, f"{fmt}: {len(jobs)} jobs for one render"


# Golden bytes: a planted frame with NULLs, LTZ and NTZ timestamps (one
# before 1970), decimals, extreme and signed-zero doubles, non-ASCII text
# and dotted column names.  The literals are the text/array/csv replies of
# the earlier per-format collect routes, kept so the one-collect route must
# reproduce them byte for byte.
GOLDEN_SCHEMA = (
    "`k.id` bigint, `px.last` decimal(10,3), x double, ltz timestamp, "
    "ntz timestamp_ntz, name string"
)


def _golden(spark):
    from datetime import datetime
    from decimal import Decimal

    rows = [
        (1, Decimal("1.500"), 1e-7, datetime(2024, 1, 1, 0, 0, 0, 123456),
         datetime(2024, 1, 1, 9, 30), "東京 café"),
        (None, None, None, None, None, None),
        (3, Decimal("-2.250"), 1e300, datetime(1969, 12, 31, 23, 59, 59, 500000),
         datetime(1969, 12, 31, 23, 59, 59, 500000), "plain"),
        (4, Decimal("0.000"), -0.0, datetime(1970, 1, 1), datetime(2000, 2, 29), ""),
    ]
    return spark.createDataFrame(rows, GOLDEN_SCHEMA).coalesce(1)


GOLDEN_TEXT = {
    "json": '[{"k.id":1,"px.last":1.500,"x":1.0E-7,'
    '"ltz":"2024-01-01T00:00:00.123Z","ntz":"2024-01-01T09:30:00.000",'
    '"name":"東京 café"},{},'
    '{"k.id":3,"px.last":-2.250,"x":1.0E300,"ltz":"1969-12-31T23:59:59.500Z",'
    '"ntz":"1969-12-31T23:59:59.500","name":"plain"},'
    '{"k.id":4,"px.last":0.000,"x":-0.0,"ltz":"1970-01-01T00:00:00.000Z",'
    '"ntz":"2000-02-29T00:00:00.000","name":""}]',
    "array": '{"fields": ["k.id", "px.last", "x", "ltz", "ntz", "name"], "rows": '
    '[[1, "1.500", 1e-07, "2024-01-01 00:00:00.123456", "2024-01-01 09:30:00", '
    '"\\u6771\\u4eac caf\\u00e9"], [null, null, null, null, null, null], '
    '[3, "-2.250", 1e+300, "1969-12-31 23:59:59.500000", '
    '"1969-12-31 23:59:59.500000", "plain"], '
    '[4, "0.000", -0.0, "1970-01-01 00:00:00", "2000-02-29 00:00:00", ""]]}',
    "csv": "k.id,px.last,x,ltz,ntz,name\n"
    "1,1.500,1e-07,2024-01-01 00:00:00.123456,2024-01-01 09:30:00,東京 café\n"
    ",,,,,\n"
    "3,-2.250,1e+300,1969-12-31 23:59:59.500000,1969-12-31 23:59:59.500000,plain\n"
    "4,0.000,-0.0,1970-01-01 00:00:00,2000-02-29 00:00:00,\n",
}
GOLDEN_EMPTY = {
    "json": "[]",
    "array": '{"fields": ["k.id", "px.last", "x", "ltz", "ntz", "name"], "rows": []}',
    "csv": "k.id,px.last,x,ltz,ntz,name\n",
}


def test_render_text_formats_match_golden_bytes(spark):
    df = _golden(spark)
    empty = spark.createDataFrame([], GOLDEN_SCHEMA)
    for fmt in ("json", "array", "csv"):
        assert render(df, fmt).decode() == GOLDEN_TEXT[fmt], fmt
        assert render(empty, fmt).decode() == GOLDEN_EMPTY[fmt], fmt


def test_render_arrow_formats_decode_to_golden_values(spark):
    """struct and zip carry Spark's own Arrow schema: a nullable BIGINT
    stays int64 (a pandas round trip would make it double), LTZ is
    ``timestamp[us, tz=UTC]`` under the UTC session, and no pandas
    metadata rides along."""
    from datetime import datetime, timezone
    from decimal import Decimal

    import pyarrow as pa

    from ago_sisdb_spark.sources.formats import parse_render

    utc = timezone.utc
    want = [
        {"k.id": 1, "px.last": Decimal("1.500"), "x": 1e-7,
         "ltz": datetime(2024, 1, 1, 0, 0, 0, 123456, tzinfo=utc),
         "ntz": datetime(2024, 1, 1, 9, 30), "name": "東京 café"},
        dict.fromkeys(["k.id", "px.last", "x", "ltz", "ntz", "name"]),
        {"k.id": 3, "px.last": Decimal("-2.250"), "x": 1e300,
         "ltz": datetime(1969, 12, 31, 23, 59, 59, 500000, tzinfo=utc),
         "ntz": datetime(1969, 12, 31, 23, 59, 59, 500000), "name": "plain"},
        {"k.id": 4, "px.last": Decimal("0.000"), "x": -0.0,
         "ltz": datetime(1970, 1, 1, tzinfo=utc),
         "ntz": datetime(2000, 2, 29), "name": ""},
    ]
    schema = pa.schema([
        ("k.id", pa.int64()), ("px.last", pa.decimal128(10, 3)), ("x", pa.float64()),
        ("ltz", pa.timestamp("us", tz="UTC")), ("ntz", pa.timestamp("us")),
        ("name", pa.string()),
    ])
    df = _golden(spark)
    empty = spark.createDataFrame([], GOLDEN_SCHEMA)
    for fmt in ("struct", "zip"):
        table = parse_render(render(df, fmt), fmt)
        assert table.schema == schema and table.schema.metadata is None, fmt
        assert table.to_pylist() == want, fmt
        assert str(table.column("x")[3].as_py()) == "-0.0"
        none = parse_render(render(empty, fmt), fmt)
        assert none.schema == schema and none.num_rows == 0, fmt


def test_render_nested_and_binary_cells(spark):
    """Nested and binary cells: json is the JVM's text; array and csv give
    a struct cell as a dict and a map cell as its (key, value) pairs."""
    df = spark.createDataFrame(
        [(1, (2, "x"), {"a": 1}, bytearray(b"\x00ab"))],
        "i int, st struct<a:int,b:string>, m map<string,int>, bin binary",
    )
    assert render(df, "json").decode() == (
        '[{"i":1,"st":{"a":2,"b":"x"},"m":{"a":1},"bin":"AGFi"}]'
    )
    assert render(df, "array").decode() == (
        '{"fields": ["i", "st", "m", "bin"], '
        '"rows": [[1, {"a": 2, "b": "x"}, [["a", 1]], "b\'\\\\x00ab\'"]]}'
    )
    assert render(df, "csv").decode() == (
        "i,st,m,bin\n"
        "1,\"{'a': 2, 'b': 'x'}\",\"[('a', 1)]\",b'\\x00ab'\n"
    )


def test_ltz_text_is_the_session_zones_wall_clock(spark, monkeypatch):
    """An LTZ cell reads as the session zone's wall clock in every text
    format, whatever the Python process's own zone."""
    import time

    df = spark.sql("select timestamp'2024-01-01 00:00:00' as ltz")
    monkeypatch.setenv("TZ", "Asia/Shanghai")
    time.tzset()
    try:
        as_json = json.loads(render(df, "json"))[0]["ltz"]
        as_array = json.loads(render(df, "array"))["rows"][0][0]
        as_csv = render(df, "csv").decode().splitlines()[1]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert as_json == "2024-01-01T00:00:00.000Z"
    assert as_array == as_csv == "2024-01-01 00:00:00"


def test_render_csv_quotes_cells_that_need_it(spark):
    """A cell holding a comma, quote, CR or LF is quoted, so every row
    parses back to the header's field count and the cell's own text."""
    import csv
    import io

    cells = ["a,b", 'say "hi"', "two\nlines", "cr\rhere", "plain", None]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cells)], "i int, `note, free` string"
    ).coalesce(1)
    out = render(df, "csv").decode()
    rows = list(csv.reader(io.StringIO(out, newline="")))
    assert rows[0] == ["i", "note, free"]
    assert all(len(r) == 2 for r in rows)
    assert [r[1] for r in rows[1:]] == [c or "" for c in cells]
    assert out.endswith("4,plain\n5,\n")


def test_write_csv_reads_back_with_a_schema(spark, tmp_path):
    """S6: the distributed CSV sink, read back by the built-in reader with
    an explicit schema (no inference)."""
    from ago_sisdb_spark.sources.formats import write_csv

    df = spark.createDataFrame(
        [("A", 1, 1.5), ("B,C", 2, None)], "sym string, t int, v double"
    )
    path = str(tmp_path / "out_csv")
    write_csv(df, path)
    back = spark.read.schema("sym string, t int, v double").option(
        "header", "true"
    ).csv(path)
    assert sorted(map(tuple, back.collect())) == [("A", 1, 1.5), ("B,C", 2, None)]


def test_write_dbf_executor_side_large(spark, tmp_path):
    """The DBF sink encodes on executors and streams chunks — a result
    bigger than any single Arrow batch round-trips intact."""
    from ago_sisdb_spark.sources.dbf import read_dbf, write_dbf

    df = spark.range(2000).select(
        F.col("id").cast("bigint").alias("k"),
        (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("name_"), F.col("id")).alias("nm"),
    ).repartition(4)
    path = str(tmp_path / "big.dbf")
    write_dbf(df, path)
    back = read_dbf(spark, path)
    assert back.count() == 2000
    rows = {r.k: r for r in back.collect()}
    assert rows[7].nm == "name_7" and abs(rows[7].x - 10.5) < 1e-9


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/source parity: values survive a roundtrip, and both column
    pruning (ReadSchema) and predicate pushdown (PushedFilters) reach the
    native ORC scan — the S3-family contract parquet already pins."""
    from ago_sisdb_spark.sources import formats

    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )
    path = str(tmp_path / "orc_t")
    formats.write_orc(df, path)
    back = formats.read_orc(spark, path)
    assert back.count() == 100
    assert {tuple(r) for r in back.collect()} == {
        (i, 2 * i, f"s{i}") for i in range(100)
    }
    pruned = back.where(F.col("k") > 90).select("k", "v")
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,90)]" in plan
    assert "s:" not in plan.split("ReadSchema")[1].split("\n")[0]


# ------------------------------------------------- sdb_bars Python DataSource


def _bars():
    return [
        ("AAA", 1000 + i, 1.0 + i, 2.0 + i, 0.5 + i, 1.5 + i, 100 + i)
        for i in range(5)
    ] + [
        ("BBB", 2000 + i, 9.0 + i, 9.5 + i, 8.5 + i, 9.1 + i, 50 + i)
        for i in range(3)
    ]


def test_sdb_bars_roundtrip_and_layout(spark, tmp_path):
    """Write via the DataSourceWriter (symbol-partitioned upstream → one
    prunable <symbol>.partN.sdb file per symbol), read back via the
    DataSourceReader: full fidelity incl. doubles and int64 ts."""
    import os

    from ago_sisdb_spark.sources import sdbfmt

    sdbfmt.register(spark)
    d = str(tmp_path / "bars")
    df = spark.createDataFrame(_bars(), sdbfmt.SCHEMA_DDL).repartition(2, "symbol")
    df.write.format("sdb_bars").mode("append").save(d)
    names = sorted(os.listdir(d))
    assert len(names) == 2 and all(n.endswith(".sdb") for n in names)
    assert {n.split(".")[0] for n in names} == {"AAA", "BBB"}

    back = spark.read.format("sdb_bars").load(d)
    assert sorted(map(tuple, back.collect())) == sorted(_bars())


def test_sdb_bars_pushdown_prunes_files(spark, tmp_path):
    """symbol-equality filters prune whole files at partition-planning
    time; non-symbol filters are handed back to Spark and still evaluate
    correctly post-scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from ago_sisdb_spark.sources import sdbfmt

    sdbfmt.register(spark)
    d = str(tmp_path / "bars")
    spark.createDataFrame(_bars(), sdbfmt.SCHEMA_DDL).repartition(
        2, "symbol"
    ).write.format("sdb_bars").mode("append").save(d)

    # end-to-end: values correct under a pushed filter
    flt = spark.read.format("sdb_bars").load(d).where(F.col("symbol") == "AAA")
    assert flt.count() == 5

    # unit: the reader consumes symbol filters and shrinks partitions()
    r = sdbfmt.SdbBarReader({"path": d})
    remaining = list(
        r.pushFilters([EqualTo(("symbol",), "BBB"), GreaterThan(("ts_us",), 0)])
    )
    assert len(remaining) == 1 and isinstance(remaining[0], GreaterThan)
    parts = r.partitions()
    assert len(parts) == 1 and "BBB" in parts[0].path

    r2 = sdbfmt.SdbBarReader({"path": d})
    assert list(r2.pushFilters([In(("symbol",), ("AAA", "ZZZ"))])) == []
    assert len(r2.partitions()) == 1

    # combined pushed + residual filter evaluates correctly end-to-end
    both = (
        spark.read.format("sdb_bars").load(d)
        .where((F.col("symbol") == "AAA") & (F.col("volume") >= 103))
    )
    assert both.count() == 2


def test_sdb_bars_bad_magic_rejected(tmp_path):
    import pytest as _pytest

    from ago_sisdb_spark.sources import sdbfmt

    p = str(tmp_path / "x.sdb")
    with open(p, "wb") as f:
        f.write(b"JUNKdata")
    with _pytest.raises(ValueError, match="bad magic"):
        list(sdbfmt.read_sdb_file(p))


def test_sdb_bars_stream_exactly_once_across_restarts(spark, tmp_path):
    """readStream over the sdb_bars directory: run 1 (availableNow)
    ingests file A; file B arrives; run 2 with the SAME checkpoint
    ingests ONLY B — file-set offsets give exactly-once per file across
    restarts."""
    from ago_sisdb_spark.sources import sdbfmt

    sdbfmt.register(spark)
    d = tmp_path / "feed"
    d.mkdir()
    out = tmp_path / "out"
    ck = str(tmp_path / "ck")

    a = [("AAA", 1000 + i, 1.0, 2.0, 0.5, 1.5, 100 + i) for i in range(4)]
    b = [("BBB", 2000 + i, 9.0, 9.5, 8.5, 9.1, 50 + i) for i in range(2)]
    sdbfmt.write_sdb_file(str(d / "AAA.sdb"), a)

    def run():
        q = (
            spark.readStream.format("sdb_bars")
            .load(str(d))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got1 = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    assert got1 == sorted(a)

    sdbfmt.write_sdb_file(str(d / "BBB.sdb"), b)
    run()
    got2 = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    assert got2 == sorted(a + b)  # B ingested once, A not duplicated


def test_sdb_bars_consumed_filters_enforced_row_level(spark, tmp_path):
    """pushFilters CONSUMES symbol filters, so Spark never re-evaluates
    them — the reader must enforce them itself. Pinned here via files
    the name-pruner cannot help with: (a) a filter naming a symbol with
    no file returns 0 rows (pyspark substitutes read(None) for an empty
    partition list — must not crash), (b) dotted symbols survive
    ('BRK.A.part0.sdb' is keyed BRK.A, not BRK), (c) two stacked symbol
    filters intersect rather than last-one-wins."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, In

    from ago_sisdb_spark.sources import sdbfmt

    sdbfmt.register(spark)
    d = tmp_path / "bars"
    d.mkdir()
    brka = [("BRK.A", 1000 + i, 1.0, 2.0, 0.5, 1.5, 10 + i) for i in range(3)]
    aaa = [("AAA", 2000, 9.0, 9.5, 8.5, 9.1, 50)]
    sdbfmt.write_sdb_file(str(d / "BRK.A.part0.sdb"), brka)
    sdbfmt.write_sdb_file(str(d / "AAA.sdb"), aaa)

    load = lambda: spark.read.format("sdb_bars").load(str(d))
    # (a) fully-pruned scan: zero rows, no AttributeError on read(None)
    assert load().where(F.col("symbol") == "ZZZ").count() == 0
    # (b) dotted symbol: exact key matches, truncated key does not
    assert load().where(F.col("symbol") == "BRK.A").count() == 3
    assert load().where(F.col("symbol") == "BRK").count() == 0

    # (c) stacked consumed filters AND together (unit level: the
    # DataFrame API collapses them before pushdown, so drive the reader)
    r = sdbfmt.SdbBarReader({"path": str(d)})
    rest = list(
        r.pushFilters(
            [EqualTo(("symbol",), "AAA"), In(("symbol",), ("BBB", "CCC"))]
        )
    )
    assert rest == [] and r._symbols == set()
    assert r.partitions() == []
    assert list(r.read(None)) == []


def test_sdb_bars_key_addressed_write_contract(tmp_path):
    """write_sdb_file rejects rows whose symbol contradicts the
    file-name key — the invariant that makes reader-side file pruning
    sound (a .sdb file's name cannot lie about its contents)."""
    import pytest as _pytest

    from ago_sisdb_spark.sources import sdbfmt

    p = str(tmp_path / "AAA.sdb")
    with _pytest.raises(ValueError, match="file-name key"):
        sdbfmt.write_sdb_file(
            p, [("AAA", 1, 1.0, 1.0, 1.0, 1.0, 1), ("BBB", 2, 1.0, 1.0, 1.0, 1.0, 1)]
        )


def test_sdb_bars_overwrite_clears_stale_and_append_accumulates(
    spark, tmp_path
):
    """mode('overwrite') must not union with previous saves: stale .sdb
    files (other symbols, other jobs) are cleared at COMMIT time, while
    staged tmp files are invisible to readers. mode('append') twice must
    accumulate both jobs' rows (per-job tokens keep same-pid file names
    from clobbering)."""
    import os

    from ago_sisdb_spark.sources import sdbfmt

    sdbfmt.register(spark)
    d = str(tmp_path / "bars")

    first = [("AAA", 1000, 1.0, 2.0, 0.5, 1.5, 100)]
    second = [("BBB", 2000, 9.0, 9.5, 8.5, 9.1, 50)]
    mk = lambda rows: spark.createDataFrame(rows, sdbfmt.SCHEMA_DDL)

    mk(first).write.format("sdb_bars").mode("append").save(d)
    mk(second).write.format("sdb_bars").mode("append").save(d)
    both = spark.read.format("sdb_bars").load(d)
    assert sorted(map(tuple, both.collect())) == sorted(first + second)

    # same-symbol append must ALSO accumulate (the pre-fix layout reused
    # <sym>.part{pid}.sdb and silently clobbered the earlier job's file)
    mk(first).write.format("sdb_bars").mode("append").save(d)
    assert spark.read.format("sdb_bars").load(d).count() == 3

    mk(second).write.format("sdb_bars").mode("overwrite").save(d)
    after = spark.read.format("sdb_bars").load(d)
    assert sorted(map(tuple, after.collect())) == sorted(second)
    names = os.listdir(d)
    assert all(n.endswith(".sdb") for n in names)  # no tmp litter
    assert not any("AAA" in n for n in names)


def test_sdb_bars_stream_crash_midbatch_redelivery(spark, tmp_path):
    """S14 failure soak (r9 verdict #8): the first run CRASHES after the
    source has produced batch 0 but before the sink commits it (a
    foreachBatch that writes, then raises — the crash point between
    offset fetch and sink commit).  The restart with the same checkpoint
    must REDELIVER the same rows via readBetweenOffsets, and the
    batchId-keyed idempotent sink must land them exactly once."""
    import json
    import os

    from ago_sisdb_spark.sources import sdbfmt

    sdbfmt.register(spark)
    d = tmp_path / "feed"
    d.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    ck = str(tmp_path / "ck")
    crashed_marker = tmp_path / "crashed"
    deliveries = tmp_path / "deliveries.jsonl"

    a = [("AAA", 1000 + i, 1.0, 2.0, 0.5, 1.5, 100 + i) for i in range(4)]
    sdbfmt.write_sdb_file(str(d / "AAA.sdb"), a)

    def sink(batch_df, batch_id):
        rows = sorted(map(tuple, batch_df.collect()))
        with open(deliveries, "a") as f:
            f.write(json.dumps({"batch": batch_id, "n": len(rows)}) + "\n")
        # idempotent by batchId: a redelivered batch overwrites its own
        # directory instead of appending a duplicate
        batch_df.write.mode("overwrite").format("parquet").save(
            str(out / f"batch={batch_id}")
        )
        if not crashed_marker.exists():
            crashed_marker.write_text("x")
            raise RuntimeError("injected crash before sink commit")

    def run():
        q = (
            spark.readStream.format("sdb_bars")
            .load(str(d))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    import pytest as _pytest

    with _pytest.raises(Exception, match="injected crash"):
        run()
    run()  # restart with the same checkpoint: must redeliver batch 0

    log = [json.loads(line) for line in deliveries.read_text().splitlines()]
    batch0 = [e for e in log if e["batch"] == 0]
    assert len(batch0) == 2 and all(e["n"] == 4 for e in batch0)  # redelivered

    got = sorted(
        map(tuple, spark.read.parquet(str(out / "batch=0")).collect())
    )
    assert got == sorted(a)  # exactly once, no duplicates

    # and the stream keeps going after recovery: a new file lands in a
    # NEW batch, old batches untouched
    b = [("BBB", 2000, 9.0, 9.5, 8.5, 9.1, 50)]
    sdbfmt.write_sdb_file(str(d / "BBB.sdb"), b)
    run()
    dirs = sorted(os.listdir(out))
    assert len(dirs) >= 2
    allrows = sorted(
        map(
            tuple,
            spark.read.parquet(*[str(out / x) for x in dirs]).collect(),
        )
    )
    assert allrows == sorted(a + b)


def test_sdb_bars_filter_enforcement_property():
    """Property sweep of the S13 reader's filter semantics (r10 verdict
    #6): random dotted/undotted symbols x honest key-named files (with
    and without .part suffixes) x hand-written MIXED files (raw-byte
    legacy files whose name lies about their contents) x random
    EqualTo/In/stacked filter combinations, at unit level (pushFilters →
    partitions → read).  Three invariants:

    1. soundness — a filtered read NEVER returns a row outside the
       filter set, mixed files included (the consumed-filter row-level
       enforcement);
    2. honest-corpus equality — when every file honors the key-addressed
       naming contract, filtered read == unfiltered read + post-filter,
       exactly (file pruning is then a pure optimization);
    3. full behavioral model — a file is pruned iff its name-key misses
       the filter set; surviving files are row-filtered (pins the
       documented one-sided contract for mis-named legacy files).
    """
    import os as _os
    import tempfile

    from hypothesis import given, settings, strategies as st
    from pyspark.sql.datasource import EqualTo, In

    from ago_sisdb_spark.sources import sdbfmt

    seg = st.sampled_from(["A", "B", "BRK", "X", "Y2", "QQQ"])
    symbol = st.builds(".".join, st.lists(seg, min_size=1, max_size=3))

    @st.composite
    def corpus(draw):
        syms = draw(st.lists(symbol, min_size=1, max_size=4, unique=True))
        files = []  # (filename, rows, honest)
        for i, s in enumerate(syms):
            name = f"{s}.part{i}.sdb" if draw(st.booleans()) else f"{s}.sdb"
            n = draw(st.integers(1, 3))
            rows = [(s, 1000 * i + j, 1.0, 2.0, 0.5, 1.5, j) for j in range(n)]
            files.append((name, rows, True))
        if draw(st.booleans()) and len(syms) >= 2:  # a mixed legacy file
            rows = [(s, 9000 + k, 3.0, 4.0, 2.5, 3.5, k)
                    for k, s in enumerate(syms[:2])]
            # name either shares an honest symbol's KEY (distinct file —
            # .part9 can't collide with the .part{i<4}/plain honest
            # names — so the file is READ under that filter and
            # row-enforcement is exercised) or is a foreign MIX.* key
            # (so whole-file pruning is exercised on lying names)
            name = (
                f"{syms[0]}.part9.sdb"
                if draw(st.booleans())
                else f"MIX.{draw(symbol)}.sdb"
            )
            files.append((name, rows, False))
        fsyms = draw(
            st.lists(st.one_of(symbol, st.just("ZZZ")), min_size=1,
                     max_size=3, unique=True)
        )
        stacked = draw(st.booleans()) and len(fsyms) >= 2
        return files, fsyms, stacked

    @given(corpus())
    @settings(max_examples=60, deadline=None)
    def check(case):
        files, fsyms, stacked = case
        with tempfile.TemporaryDirectory() as d:
            for name, rows, honest in files:
                if honest:
                    sdbfmt.write_sdb_file(_os.path.join(d, name), rows)
                else:  # bypass the key check like a foreign/legacy writer
                    tmp = _os.path.join(d, "legacy.bin")
                    sdbfmt.write_sdb_file(tmp, rows)
                    _os.replace(tmp, _os.path.join(d, name))

            def run(filters):
                r = sdbfmt.SdbBarReader({"path": d})
                rest = list(r.pushFilters(filters)) if filters else []
                assert rest == []  # symbol filters are always consumed
                out = []
                parts = r.partitions()
                for p in parts or [None]:
                    out.extend(r.read(p))
                return sorted(out)

            if stacked:
                filters = [EqualTo(("symbol",), fsyms[0]),
                           In(("symbol",), tuple(fsyms))]
                fset = {fsyms[0]}  # intersection semantics
            else:
                filters = [In(("symbol",), tuple(fsyms))]
                fset = set(fsyms)

            unfiltered = run([])
            got = run(filters)

            all_rows = [r for _, rows, _ in files for r in rows]
            assert unfiltered == sorted(all_rows)
            # (1) soundness
            assert all(r[0] in fset for r in got)
            # (2) honest-corpus equality: filtered == unfiltered + post
            if all(h for _, _, h in files):
                assert got == sorted(r for r in unfiltered if r[0] in fset)
            # (3) full model: prune by name-key, then row-filter
            expect = sorted(
                r
                for name, rows, _ in files
                if sdbfmt._file_symbol(name) in fset
                for r in rows
                if r[0] in fset
            )
            assert got == expect

    check()

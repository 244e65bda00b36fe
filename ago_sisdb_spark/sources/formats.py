"""CSV / JSON sources and the multi-format result renderer.

Reference: csv codecs `src/core/sis_csv.h:29-75` (S6), JSON struct codecs
`src/core/sis_utils.h:47-50` (S8), and the 5-way output format switch
``json|array|csv|struct|zip`` (`src/core/sis_db.h:20-30`, S10).

Spark: CSV/JSON files are read by the built-in DataFrameReader with an
explicit schema (``spark.read.schema(...).csv/json``); the inline JSON form
is ``from_json_records``.  ``render`` returns driver-side bytes for API
responses: one Arrow collect per reply, every format built from that table.
Result sets here are post-aggregation and small; the reference's own
responses cap at 64 KB before going async (`workers/sisdb/sisdb.h:73`).
Large exports go through ``df.write`` sinks.
"""

from __future__ import annotations

import io
import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def from_json_records(
    spark: SparkSession, records: str | list[dict], schema: StructType
) -> DataFrame:
    """S8 inline form: a JSON object (single row) or array (multi-row)
    string → DataFrame, the `set key.sdb {json}` decode path
    (`workers/sisdb/sisdb_io.c:209-237`)."""
    if isinstance(records, str):
        parsed = json.loads(records)
    else:
        parsed = records
    rows = [parsed] if isinstance(parsed, dict) else list(parsed)
    return spark.createDataFrame(rows, schema)


class RenderLimitError(RuntimeError):
    """Raised when a render() target exceeds ``max_rows`` — the driver-side
    formats are for API responses, not bulk export.  Use ``write_csv`` /
    ``df.write.parquet`` (distributed sinks) for large results."""


def _rows(table: pa.Table) -> list[tuple]:
    """Row tuples with Python cells.  An LTZ timestamp arrives tz-aware in
    its Arrow column's zone, the session zone; it is given as that zone's
    naive wall clock, the one ``json`` writes."""
    cols = []
    for col in table.columns:
        vals = col.to_pylist()
        if pa.types.is_timestamp(col.type) and col.type.tz:
            vals = [None if v is None else v.replace(tzinfo=None) for v in vals]
        cols.append(vals)
    return list(zip(*cols))


def _csv_field(v) -> str:
    """A CSV cell: NULL is empty; a cell holding a comma, quote, CR or LF
    is quoted with its quotes doubled (RFC 4180)."""
    s = "" if v is None else str(v)
    if any(c in s for c in ',"\r\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def render(
    df: DataFrame,
    fmt: str = "json",
    limit: int | None = None,
    max_rows: int = 100_000,
) -> bytes:
    """S10: render a (small) result set to one of the reference's 5 formats
    (`sis_db.h:20-30`).

    - ``json``   : array of objects (the reference's {} rows form)
    - ``array``  : column-name header + row arrays (compact form)
    - ``csv``    : header + comma rows, quoted where a cell needs it
    - ``struct`` : Arrow IPC stream bytes (the binary-struct analogue —
                   schema-carrying, zero-copy; replaces packed C structs)
    - ``zip``    : Arrow IPC with zstd body compression — the compressed
                   bulk-pull form (`workers/sisdb_server/sisdb_incr.h:17-30`
                   incr-zip analogue; schema-carrying, seekable by batch)

    One collect serves every format: ``limit(max_rows+1)`` comes to the
    driver once, as an Arrow table, so the plan runs once and at most
    ``max_rows+1`` rows reach the driver.  For ``json`` the JVM writes each
    row's text (``to_json(struct(*))``) inside that collect.  More than
    ``max_rows`` rows raises ``RenderLimitError``: large exports belong in
    the distributed sinks (``write_csv``, ``df.write.parquet``), mirroring
    the reference's own 64 KB-reply-then-async rule
    (`workers/sisdb/sisdb.h:73`).
    """
    if fmt not in ("json", "array", "csv", "struct", "zip"):
        raise ValueError(f"unknown format: {fmt!r} (json|array|csv|struct|zip)")
    if limit is not None:
        df = df.limit(limit)
    capped = df.limit(max_rows + 1)
    if fmt == "json":
        capped = capped.selectExpr("to_json(struct(*))")
    table = capped.toArrow()
    if table.num_rows > max_rows:
        raise RenderLimitError(
            f"render({fmt!r}) over {max_rows} rows — use write_csv/parquet "
            "sinks for bulk export, or pass limit="
        )

    if fmt == "json":
        return ("[" + ",".join(table.column(0).to_pylist()) + "]").encode()
    if fmt == "array":
        data = {"fields": table.column_names, "rows": _rows(table)}
        return json.dumps(data, default=str).encode()
    if fmt == "csv":
        lines = [table.column_names, *_rows(table)]
        return "".join(",".join(map(_csv_field, r)) + "\n" for r in lines).encode()
    sink = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression="zstd" if fmt == "zip" else None)
    with pa.ipc.new_stream(sink, table.schema, options=opts) as w:
        w.write_table(table)
    return sink.getvalue()


def parse_render(data: bytes, fmt: str):
    """Inverse of ``render`` for the binary formats → pyarrow Table
    (client-side decode; compression is transparent in the IPC stream)."""
    if fmt in ("struct", "zip"):
        with pa.ipc.open_stream(io.BytesIO(data)) as r:
            return r.read_all()
    raise ValueError(f"parse_render supports struct|zip, got {fmt!r}")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6 sink: distributed CSV export (the large-result path)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (Spark-native, zlib default) — interchange with
    Hive/Trino warehouses; same distributed-sink contract as write_csv.
    The reference's columnar store is its own SDB block format
    (`src/core/disk/sis_disk.io.h:108-114`); here the warehouse formats
    are Parquet (primary, TESTDATA) and ORC (interchange)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — schema comes from the file footer (self-describing,
    like Parquet); predicate pushdown and column pruning work through the
    native reader, pinned in tests/test_formats.py."""
    return spark.read.orc(path)

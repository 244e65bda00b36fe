"""Engine — the reference's command surface as a PySpark API (SURVEY §3).

Reference protocol (README1.MD §指令集): ``get key.sdb {"fields": …,
"range": {start, stop, offset, count, ifprev}, "format": …}``, ``gets``,
``set/bset``, ``del``, ``sub/psub``.  Here ``key.sdb`` resolves to
(table, key-predicate): the table is a catalog dataset, the key a column —
so every request compiles to a declarative DataFrame plan that Catalyst
prunes/pushes down, and distribution comes free (SURVEY §3.1 mapping).

    eng = Engine(spark, root="/root/testdata/sf0.1",
                 table_specs={"events": TableSpec("events", "user_id", "ts",
                                                 order_col="event_id")})
    eng.get("42.events", fields="ts,value", start=..., stop=...)
    eng.get("*.events", count=-5)            # tail 5 per the key pattern
    eng.gets(["1.events", "2.events"])       # last record per key
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ago_sisdb_spark.catalog import Catalog
from ago_sisdb_spark.operators import rangescan
from ago_sisdb_spark.sources.formats import render
from ago_sisdb_spark.streaming.pubsub import key_pattern_filter


# Method access flags (reference `src/core/sis_method.h:30-38`): a session
# carries a bitmask; each Engine method declares the access class it needs.
# NONE on the method side means unrestricted (the reference's ACCESS_NONE).
ACCESS_NONE = 0
ACCESS_READ = 1
ACCESS_WRITE = 2
ACCESS_DEL = 4
ACCESS_RDWR = ACCESS_READ | ACCESS_WRITE  # 3
ACCESS_ADMIN = ACCESS_READ | ACCESS_WRITE | ACCESS_DEL  # 7


class AccessDenied(PermissionError):
    """A session whose access mask lacks the method's required bits."""


def _requires(needed: int):
    """Gate an Engine method on the session access mask — the Spark-side
    twin of the reference's per-method ``access`` field dispatch check."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            if needed and (self.access & needed) != needed:
                raise AccessDenied(
                    f"{fn.__name__} requires access bits {needed:#b}; "
                    f"session mask is {self.access:#b}"
                )
            return fn(self, *args, **kwargs)

        wrapper.__access__ = needed
        return wrapper

    return deco


def _long_literal(term: str) -> int | None:
    """``int(term)`` when ``term`` is the canonical text of a 64-bit
    integer (``str(int(term)) == term``), else None."""
    try:
        v = int(term)
    except ValueError:
        return None
    return v if str(v) == term and -(1 << 63) <= v < (1 << 63) else None


def key_predicate(df: DataFrame, key_col: str, pattern: str) -> Column:
    """The row predicate of one key pattern over ``df[key_col]`` — the one
    route for ``get``/``gets``/``psub``/``delete``/``keys``.

    On an integral key column, a pattern whose every comma term is the
    canonical text of an integer compiles to a typed ``col == v`` /
    ``col.isin(vs)``: Catalyst pushes it into the Parquet reader
    (``PushedFilters: [EqualTo…]`` / ``[In…]``), so row groups whose key
    min/max exclude it are skipped.  Every other pattern — globs,
    non-canonical tokens such as ``05``, ``+5`` or ``-0``, and non-integral
    key columns — keeps the reference's text match on ``cast(col AS
    string)``, which is not pushable.  The two forms select the same rows:
    an integer's string cast is its canonical text, so it equals ``t``
    exactly when the value equals ``int(t)``."""
    col = F.col(key_col)
    vals = [_long_literal(t.strip()) for t in pattern.split(",") if t.strip()]
    if (vals and None not in vals
            and isinstance(df.schema[key_col].dataType, IntegralType)):
        return col == vals[0] if len(vals) == 1 else col.isin(vals)
    return key_pattern_filter(col.cast("string"), pattern)


@dataclass
class TableSpec:
    """Schema contract per sdb: which columns are key / time / tie-break
    (the reference's mindex + solely declaration, sis_dynamic.h:105-106)."""

    table: str
    key_col: str
    time_col: str
    order_col: str | None = None  # deterministic tie-break within same time


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        table_specs: dict[str, TableSpec],
        access: int = ACCESS_ADMIN,
    ):
        from ago_sisdb_spark.schema import SchemaRegistry

        self.spark = spark
        self.access = access  # sis_method.h:30-38 session mask
        self.catalog = Catalog(spark, root)
        self.specs = table_specs
        self.schemas = SchemaRegistry()

    @_requires(ACCESS_WRITE)
    def create(self, sdb: str, spec: dict) -> TableSpec:
        """Reference `create` command (`workers/sisdb/sisdb_io.c:8-21`):
        declare a table from a JSON field spec; mindex/solely flags become
        the TableSpec's time/tie-break contract."""
        sch = self.schemas.create(sdb, spec)
        time_col = sch.time_field()
        if time_col is None:
            raise ValueError(f"{sdb}: spec declares no mindex (time) field")
        uniq = sch.unique_fields()
        ts = TableSpec(sdb, uniq[0] if uniq else time_col, time_col)
        self.specs[sdb] = ts
        return ts

    def _resolve(self, key_sdb: str) -> tuple[DataFrame, TableSpec, str]:
        """``key.sdb`` → (keyed scan, spec, key pattern).  Key patterns are
        the reference's fan-out forms (P5): exact, comma list, glob."""
        key, _, sdb = key_sdb.rpartition(".")
        if sdb not in self.specs:
            raise KeyError(f"unknown sdb {sdb!r}; known: {sorted(self.specs)}")
        spec = self.specs[sdb]
        df = self.catalog.load(spec.table)
        if key and key != "*":
            df = df.where(key_predicate(df, spec.key_col, key))
        return df, spec, key

    def _order(self, spec: TableSpec) -> list:
        cols = [F.col(spec.time_col)]
        if spec.order_col:
            cols.append(F.col(spec.order_col))
        return cols

    @_requires(ACCESS_READ)
    def get(
        self,
        key_sdb: str,
        fields: str | None = None,
        start=None,
        stop=None,
        count: int | None = None,
        ifprev: bool = False,
        offset: int | None = None,
        where: dict | list | None = None,
        fmt: str | None = None,
    ):
        """The reference `get` (S1/S2 + P1/P3 semantics matrix).

        No range args → latest record.  ``count>0`` head / ``count<0``
        tail.  ``ifprev`` falls back to the last day with data ≤ start.
        ``offset=±n`` shifts the record located at ``start`` by n records
        in series order.  ``fmt`` renders to json/array/csv/struct/zip bytes;
        None returns the DataFrame (the composable form).
        """
        df, spec, key = self._resolve(key_sdb)
        order = self._order(spec)

        if where is not None:
            from ago_sisdb_spark.operators.search import compile_search

            df = df.where(compile_search(where))
        if offset is not None and start is not None:
            # multi-key slice (empty/*/glob/comma fan-out) → per-key window
            # partitions + per-key anchors; a single exact key keeps the
            # reference's one-series unpartitioned form
            fan_out = (not key) or key == "*" or any(c in key for c in "*?[,")
            df = rangescan.offset_shift(
                df, spec.time_col, start, offset, order,
                key_cols=[spec.key_col] if fan_out else None,
            )
        elif ifprev and start is not None:
            df = rangescan.ifprev_day_scan(df, spec.time_col, start)
        else:
            df = rangescan.time_range(df, spec.time_col, start, stop)
            if start is None and stop is None and count is None:
                df = rangescan.last_record(df, order)
        if count is not None:
            df = (
                rangescan.head_n(df, count, order)
                if count > 0
                else rangescan.tail_n(df, -count, order)
            )
        if fields:
            df = df.select(*[c.strip() for c in fields.split(",")])
        return render(df, fmt) if fmt else df

    @_requires(ACCESS_READ)
    def gets(self, key_sdbs: list[str], fields: str | None = None) -> DataFrame:
        """Reference `gets` (P6): latest record for many key.sdb at once.

        All keys of the same sdb resolve in ONE scan under the typed key
        predicate (``key_predicate``), and one ``max_by(struct(*cols),
        order)`` per key picks the whole latest record, where ``order`` is
        (time, order_col) — event time first, tie-broken by the id column,
        since ids need not be time-monotonic (ADVICE r1).  The struct
        buffer makes this a SortAggregate, which is acceptable here: the
        input is only the requested keys' rows, and the sort replaces the
        argmax-join's second scan, broadcast exchange and join
        (``lastper.last_per_key``).  Each key yields exactly one row; with
        no ``order_col``, same-time ties resolve to one of the tied rows.
        """
        by_sdb: dict[str, list[str]] = {}
        for ks in key_sdbs:
            key, _, sdb = ks.rpartition(".")
            by_sdb.setdefault(sdb, []).append(key)
        outs = []
        for sdb, keys in by_sdb.items():
            df, spec, _ = self._resolve(f"{','.join(keys)}.{sdb}")
            last = (
                df.groupBy(spec.key_col)
                .agg(F.max_by(F.struct(*df.columns), F.struct(*self._order(spec)))
                     .alias("__last"))
                .select("__last.*")
                .withColumn("sdb", F.lit(sdb))
            )
            outs.append(last)
        merged = outs[0]
        for o in outs[1:]:
            merged = merged.unionByName(o, allowMissingColumns=True)
        if fields:
            merged = merged.select(*[c.strip() for c in fields.split(",")])
        return merged

    @_requires(ACCESS_WRITE)
    def set(
        self,
        key_sdb: str,
        records,
        scale=None,
        schema=None,
    ) -> DataFrame:
        """Reference `set key.sdb {json}` (S8/T8, `sisdb_io.c:209-237`):
        decode inline JSON records and upsert them into the current table
        state under the per-scale same-timestamp rule.

        Returns the merged DataFrame (production persists via Delta MERGE /
        ``streaming.write.write_partitioned``).  ``records`` is a JSON
        string (object = one row, array = many) or a list of dicts.  The
        records are conformed to the table (``streaming.write.conform``),
        so the merge keeps the table's schema.
        """
        from ago_sisdb_spark.sources.formats import from_json_records

        _, _, sdb = key_sdb.rpartition(".")
        current = self.catalog.load(self.specs[sdb].table)
        incoming = from_json_records(self.spark, records, schema or current.schema)
        return self._merge(sdb, current, incoming, scale)

    def _merge(self, sdb: str, current: DataFrame, incoming: DataFrame, scale):
        """``set``/``bset``: conform ``incoming`` to the table (timestamp
        types, ``dt``) and upsert it into ``current``."""
        from ago_sisdb_spark.streaming.write import TimeScale, conform, upsert

        spec = self.specs[sdb]
        incoming = conform(incoming, current.schema, spec.time_col)
        return upsert(
            current,
            incoming.select(*current.columns),
            [spec.key_col],
            spec.time_col,
            scale or TimeScale.MILLI,
        )

    @_requires(ACCESS_DEL)
    def delete(self, key_sdb: str, start=None, stop=None, where=None) -> DataFrame:
        """T9 `del`: the surviving DataFrame (caller persists via
        streaming.write.write_partitioned / Delta DELETE in production).
        ``where`` takes the reference search forms (AND-object/OR-array)."""
        from ago_sisdb_spark.streaming.write import delete_range

        df, spec, _ = self._resolve(f"*.{key_sdb.rpartition('.')[2]}")
        pred = key_predicate(df, spec.key_col, key_sdb.rpartition(".")[0] or "*")
        if where is not None:
            from ago_sisdb_spark.operators.search import compile_search

            pred = pred & compile_search(where)
        return delete_range(df, pred, spec.time_col, start, stop)

    @_requires(ACCESS_READ)
    def show(self) -> dict:
        """`show`: declared sdbs and their schema versions
        (`workers/sisdb/sisdb.c:15`)."""
        return {
            sdb: {
                "key_col": spec.key_col,
                "time_col": spec.time_col,
                "schema_versions": self.schemas.versions(sdb),
            }
            for sdb, spec in self.specs.items()
        }

    @_requires(ACCESS_READ)
    def keys(self, key_sdb: str = "*.*") -> DataFrame:
        """`keys`: distinct keys matching a pattern (`sisdb.c:23`) — an
        aggregation, never a driver-side key dict.  ``*.*`` unions the
        distinct key sets of every declared sdb with its sdb name."""
        key, _, sdb = key_sdb.rpartition(".")
        sdbs = sorted(self.specs) if sdb in ("*", "") else [sdb]
        outs = []
        for name in sdbs:
            try:
                df, spec, _ = self._resolve(f"{key or '*'}.{name}")
            except Exception:
                # declared (create) but never written — no keys yet, like the
                # reference's empty-table case
                continue
            outs.append(
                df.select(
                    F.col(spec.key_col).cast("string").alias("key")
                ).distinct().withColumn("sdb", F.lit(name))
            )
        if not outs:
            raise KeyError(f"no readable sdb matches {key_sdb!r}")
        merged = outs[0]
        for o in outs[1:]:
            merged = merged.unionByName(o)
        return merged

    @_requires(ACCESS_DEL)
    def drop(self, sdb: str) -> None:
        """`drop`: remove a declared table (`sisdb.c:21`)."""
        self.specs.pop(sdb, None)

    @_requires(ACCESS_WRITE)
    def bset(self, key_sdb: str, arrow_ipc: bytes, scale=None) -> DataFrame:
        """`bset` (S9, `sisdb.c:286-309`): binary-struct ingest.  The packed
        C-struct wire format maps to Arrow IPC — schema-carrying, columnar,
        into Spark via ``createDataFrame`` of the Arrow table itself, so a
        nullable integer column stays integral."""
        import pyarrow as pa

        _, _, sdb = key_sdb.rpartition(".")
        current = self.catalog.load(self.specs[sdb].table)
        incoming = self.spark.createDataFrame(pa.ipc.open_stream(arrow_ipc).read_all())
        return self._merge(sdb, current, incoming, scale)

    @_requires(ACCESS_READ)
    def psub(self, key_sdbs: list[str], start=None, stop=None) -> DataFrame:
        """`psub` (T2, `sisdb.c:494-546`): historical replay — all requested
        key.sdb streams merged to one event-time-ordered DataFrame; iterate
        with ``toLocalIterator`` for one-by-one emission.

        All keys of one sdb resolve in ONE scan, as in ``gets``.  Rows at
        the same event time emit in requested-key order: a row's merge
        order is the list position of the first requested key it matches
        (a row matched by several patterns is emitted once).
        """
        from ago_sisdb_spark.streaming.replay import replay_range

        by_sdb: dict[str, list[tuple[int, str]]] = {}
        for i, ks in enumerate(key_sdbs):
            key, _, sdb = ks.rpartition(".")
            by_sdb.setdefault(sdb, []).append((i, key or "*"))
        tables, orders = [], []
        for sdb, keys in by_sdb.items():
            pattern = "*" if any(k == "*" for _, k in keys) else ",".join(
                k for _, k in keys
            )
            df, spec, _ = self._resolve(f"{pattern}.{sdb}")
            tables.append((spec.table, df, spec.key_col, spec.time_col))
            orders.append(F.coalesce(
                *[F.when(key_predicate(df, spec.key_col, k), i) for i, k in keys]
            ))
        return replay_range(
            self.spark, tables, start=start, stop=stop, orders=orders
        )

    @_requires(ACCESS_READ)
    def sub(self, key_sdb: str, stream: DataFrame, query_name: str = "subscription"):
        """T1 `sub`: live subscription to a streaming DataFrame filtered by
        the key pattern; returns the StreamingQuery (stop() = `unsub`)."""
        from ago_sisdb_spark.streaming.pubsub import subscribe

        key, _, sdb = key_sdb.rpartition(".")
        spec = self.specs[sdb]
        return subscribe(stream, spec.key_col, key or "*", query_name=query_name)

    @_requires(ACCESS_WRITE)
    def save(self, sdb: str, path: str) -> None:
        """S11 `save`: persist the table in the query-optimal layout
        (dt-partitioned, key/time-sorted day files —
        ``streaming.write.write_partitioned``)."""
        from ago_sisdb_spark.streaming.write import write_partitioned

        spec = self.specs[sdb]
        df = self.catalog.load(spec.table)
        write_partitioned(df, path, spec.time_col, key_bucket_col=spec.key_col)

    @_requires(ACCESS_WRITE)
    def pack(self, sdb: str, path: str) -> None:
        """S11 `pack` (`sisdb_disk.c:338-373`): merge each day of a table
        saved at ``path`` that holds more than one file — appends add one
        per batch — into one (key, time)-sorted file.  The file listing
        runs no Spark job; only those days are read and re-committed,
        through ``write_partitioned``'s day replace: every other day
        directory is left as it is, the table root keeps its inode, and
        the schema cache entry stays current."""
        from ago_sisdb_spark.catalog import read_parquet
        from ago_sisdb_spark.streaming.write import day_files, write_partitioned

        spec = self.specs[sdb]
        table = read_parquet(self.spark, path)
        days = [day for day, files in day_files(table).items() if len(files) > 1]
        if days:
            write_partitioned(
                table.where(F.col("dt").isin(days)), path, spec.time_col,
                mode="replace_days", key_bucket_col=spec.key_col,
            )

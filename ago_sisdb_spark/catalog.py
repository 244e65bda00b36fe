"""Table catalog over a warehouse directory of parquet tables.

The reference addresses data as ``key.sdb`` (entity key + table name,
``workers/sisdb/sisdb.h:44-55``); here a *table* is a parquet dataset and the
entity key is a plain column, so Catalyst gets partition pruning, predicate
pushdown and column pruning for free (SURVEY.md §4).

At 100 TB the same layout holds: each logical table is a date-partitioned,
symbol-bucketed parquet/Delta table; ``load`` only ever issues
``spark.read.parquet`` with pushed filters, never a driver-side scan.

Schema cache.  A bare ``spark.read.parquet(path)`` infers the schema from
parquet footers, and that inference is a Spark job of its own — paid on
every request that loads a table.  ``read_parquet`` keeps one inferred
schema per table path and reads with ``spark.read.schema(s)`` while the
table is unchanged.  The entry is keyed on the stat of the table's root
directory and of its ``_SUCCESS`` marker: every Spark commit to the path
(overwrite, append, dynamic partition overwrite) creates and removes its
``_temporary`` / ``.spark-staging-*`` directory under the root, which moves
the root's mtime, so the next read infers again.  The file listing is never
cached — each read lists the directory afresh, so appended rows show at
once.  A table without a marker (not committed by Spark, or not on the
local filesystem) is inferred on every call.

The package's own writers keep the entry current (``committed``): when the
entry matched the table just before one of their commits, and the frame
they wrote has the cached schema's (name, type) list, the entry is
re-keyed to the stamp taken after the commit — the files now on disk still
infer to the same schema, so the next read skips the inference job.  Any
other commit (another writer, a changed schema, a table not yet cached)
leaves the entry stale and the next read infers as before.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Driver-provided test tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Catalog:
    """Resolve table names to DataFrames rooted at a warehouse directory."""

    def __init__(self, spark: SparkSession, root: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def load(self, name: str) -> DataFrame:
        return load_table(self.spark, self.root, name)

    def register_views(self, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register each table as a temp view for spark.sql use."""
        for name in names:
            if os.path.exists(self.path(name)):
                self.load(name).createOrReplaceTempView(name)

    def tables(self) -> list[str]:
        return [
            f[: -len(".parquet")]
            for f in sorted(os.listdir(self.root))
            if f.endswith(".parquet")
        ]


# table path -> (commit stamp, inferred schema); see the module docstring
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _commit_stamp(path: str) -> tuple | None:
    """Stat of a table's root directory and ``_SUCCESS`` marker — changes on
    every Spark commit to ``path``; None when there is no local marker."""
    try:
        root = os.stat(path)
        marker = os.stat(os.path.join(path, "_SUCCESS"))
    except OSError:
        return None
    return (
        root.st_ino, root.st_mtime_ns, root.st_ctime_ns,
        marker.st_ino, marker.st_mtime_ns,
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the per-call schema-inference
    job while the table is unchanged (module docstring: schema cache)."""
    stamp = _commit_stamp(path)
    hit = _SCHEMAS.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        # stamped before inference: a commit racing it only forces the
        # next call to infer again
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def _fields(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def committed(path: str, written: DataFrame, commit: Callable[[], None]) -> None:
    """Run ``commit`` (a Spark write of ``written`` to ``path``) and keep
    the schema cache entry of ``path`` current across it (module
    docstring: the writer rule)."""
    before = _commit_stamp(path)
    hit = _SCHEMAS.get(path)
    commit()
    if before is None or hit is None or hit[0] != before:
        return
    if _fields(written.schema) != _fields(hit[1]):
        return
    after = _commit_stamp(path)
    if after is not None:
        _SCHEMAS[path] = (after, hit[1])


def load_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Load a parquet table, normalizing nanosecond timestamps.

    The driver's `events` table stores ts as parquet TIMESTAMP(NANOS), which
    Spark's reader rejects; with the legacy nanosAsLong conf it arrives as
    LongType nanos and is normalized to TimestampType (µs precision — the
    same truncation DuckDB applies).  Integer `div`, not `/`: ns epoch
    values exceed double's 2^53 mantissa, float division rounds the µs.
    W-type µs encodings in the reference normalize identically (SURVEY §1.2).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp semantics must match the DuckDB oracle (UTC-naive) even when
    # the caller (driver) built the session without our defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, os.path.join(root, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df

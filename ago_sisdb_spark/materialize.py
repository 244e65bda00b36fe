"""Central choke point for in-session materialization of small collapse
tables (the r7 two-consumer-trap fixes: vocab tables, bucket counts,
per-term dfreq, doc lengths, batch verdicts, query sets), and for the
parallelism spread in front of Python-worker kernels (``spread``).

Why a choke point and not bare ``localCheckpoint`` at each site:

- ``SPARK_GRAFT_NO_MATERIALIZE=1`` turns every site into a no-op.  An
  eager checkpoint truncates lineage — the audited plan shows ``Scan
  ExistingRDD`` where the real subplan ran — so ``tools/audit_plans.py``
  sets this flag to audit the FULL lineage (anti-pattern detectors and
  --dupscans pass counting both need it).  Results are identical either
  way; only execution shape changes.
- One documented rule at one site: materialize ONLY frames that are
  bounded by vocabulary / bucket-count / batch / doc-cardinality — never
  corpus-scale rows (CLAUDE.md known-traps).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENV_FLAG = "SPARK_GRAFT_NO_MATERIALIZE"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly pin a SMALL collapse table so multiple plan consumers read
    blocks instead of re-running its (corpus-pass) lineage.  No-op when
    ``SPARK_GRAFT_NO_MATERIALIZE=1`` (plan audits; debugging lineage)."""
    if os.environ.get(ENV_FLAG) == "1":
        return df
    return df.localCheckpoint(eager=True)


def spread(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Repartition a frame with too few partitions across the cores.

    Fires when the frame has fewer partitions than ``defaultParallelism``;
    hash-partitions by ``key_col`` when given.

    A local corpus in one small file otherwise runs a whole mapInPandas
    or shingle pass in a single task; at scale, input splits already give
    the parallelism and the repartition never fires.  Hash-partitioning
    on the doc id lets a downstream ``groupBy(doc)`` reuse the
    distribution.  A streaming frame is returned unchanged: micro-batch
    partitioning is the trigger's concern, and ``.rdd`` is illegal on it.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_col is None:
        return df.repartition(target)
    return df.repartition(target, F.col(key_col))

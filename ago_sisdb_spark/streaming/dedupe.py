"""Streaming ingestion-time dedup for the LLM data pipeline (SURVEY §2.11
× §2.9): drop exact-duplicate documents as they arrive, before they ever
land in the corpus.

State design (100 TB mandate): ``dropDuplicatesWithinWatermark`` keys the
state store on the content digest only — 16 bytes per seen document within
the watermark horizon, evicted as the watermark advances.  The horizon is
the dedup guarantee: a duplicate arriving later than ``delay`` after the
original re-enters; the batch `exact_dedup_groups` pass downstream is the
backstop (standard lambda split: cheap online filter + exact offline
sweep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ago_sisdb_spark.operators.dedup import content_digest

# State-store layout version of ``streaming_minhash_screen``.  v1 stored
# ``docs array<long>``; v2 (the r6 DEAD-bucket fix) widened it to
# ``docs array<long>, dead boolean``.  Spark's state store validates the
# value schema at restart and rejects the widening outright
# ([STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE]) — reference semantics are
# that recovery never corrupts (sisdb.h:16-18 WAL replay), so the guard
# here is (a) version-tagged checkpoint locations so a new schema never
# lands on an old store, and (b) ``await_screen`` translating Spark's
# low-level error into the actionable fix when a caller pins a raw path.
STATE_SCHEMA_VERSION = 2


def minhash_screen_checkpoint(base: str) -> str:
    """Checkpoint location for ``streaming_minhash_screen``, tagged with
    the state-schema version.  A schema-widening release changes the tag,
    so restarts land on a fresh store instead of tripping Spark's
    state-schema validation mid-query; the old versioned directory stays
    untouched for audit/rollback (never corrupted, WAL-replay semantics).
    """
    import os

    return os.path.join(base, f"minhash-screen-state-v{STATE_SCHEMA_VERSION}")


def await_screen(query, timeout_secs: float | None = None) -> None:
    """``awaitTermination`` that converts the state-schema-incompatibility
    failure (restarting a widened state layout on a pre-widening
    checkpoint) into an actionable error instead of a JVM stack."""
    try:
        if timeout_secs is None:
            query.awaitTermination()
        else:
            query.awaitTermination(timeout_secs)
    except Exception as exc:
        if "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in str(exc):
            raise RuntimeError(
                "streaming_minhash_screen: this checkpoint was written by "
                "an older state-schema version (pre-v%d '1-field docs' "
                "layout). Restart with a fresh checkpoint location — use "
                "minhash_screen_checkpoint(base), which version-tags the "
                "path — or keep running the old binary against the old "
                "store. The old checkpoint is NOT corrupted." % STATE_SCHEMA_VERSION
            ) from exc
        raise


def streaming_content_dedup(
    stream: DataFrame,
    text_col: str,
    time_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Exact content dedup on a stream: digest the body, keep the first
    record per digest within the watermark horizon."""
    return (
        stream.withColumn("__digest", content_digest(F.col(text_col)))
        .withWatermark(time_col, delay)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


def streaming_bloom_screen(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
) -> DataFrame:
    """Streaming twin of ``incremental.screen_batch``'s Bloom tier: the
    (word, mask) bitmap lives in ``applyInPandasWithState`` keyed by word,
    carried across micro-batches (r4 verdict #8).

    Each arriving doc's k probe positions are checked against the bitmap
    AS OF the previous micro-batch, then the batch's bits are OR-ed in —
    exactly the batch semantics where ``build_bloom(history)`` precedes
    ``screen_batch(batch)``; within one micro-batch, intra-batch
    duplicates screen as unseen, matching the batch operator.  Positions
    and packing are ``incremental.bloom_positions`` verbatim, so verdicts
    are bit-for-bit those of the batch twin (pinned in
    tests/test_incremental.py).

    Emits one (id, hit) row per probe position.  The per-doc verdict
    (min(hit): 0 anywhere → definitely_new) is a BATCH aggregation the
    caller runs inside ``foreachBatch`` via ``bloom_verdicts_for_batch``
    — a doc's k positions always share a micro-batch, and Spark forbids a
    streaming aggregation downstream of applyInPandasWithState (stateful
    chaining restriction), so the aggregation boundary sits at the sink.

    State at scale: ≤ n_bits/32 word groups × one int64 — the same ~10
    bits/doc budget as the batch bitmap (size with
    ``incremental.bloom_bits_for``), resident in the state store instead
    of a broadcast.  The exact verify tier (``history`` join) remains a
    downstream batch join on the flagged slice, as in the batch operator.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ago_sisdb_spark.operators.incremental import bloom_positions

    id_type = stream.schema[id_col].dataType.simpleString()
    probes = (
        stream.select(
            F.col(id_col).alias("id"),
            content_digest(F.col(text_col)).alias("digest"),
        )
        .select(
            "id",
            F.explode(
                bloom_positions(F.col("digest"), n_bits, n_hashes)
            ).alias("pos"),
        )
        .select(
            "id",
            F.shiftright("pos", 5).alias("word"),
            F.expr("cast(pos % 32 as int)").alias("bit"),
        )
    )

    def screen(key, pdfs, state):
        import numpy as np
        import pandas as pd

        mask = state.get[0] if state.exists else 0
        ids, hits, new_mask = [], [], mask
        for pdf in pdfs:
            bits = pdf["bit"].to_numpy(dtype="int64")
            ids.append(pdf["id"])
            # hits judged against the PRE-batch mask (batch-twin parity)
            hits.append((mask >> bits) & 1)
            new_mask |= int(np.bitwise_or.reduce(1 << bits)) if len(bits) else 0
        state.update((new_mask,))
        if ids:
            yield pd.DataFrame(
                {"id": pd.concat(ids), "hit": np.concatenate(hits).astype("int32")}
            )

    return probes.groupBy("word").applyInPandasWithState(
        screen,
        outputStructType=f"id {id_type}, hit int",
        stateStructType="mask long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bloom_verdicts_for_batch(hits: DataFrame) -> DataFrame:
    """Fold a micro-batch of (id, hit) probe rows into per-doc verdicts —
    run inside ``foreachBatch`` on ``streaming_bloom_screen``'s output.
    Same status labels as ``incremental.screen_batch``."""
    return (
        hits.groupBy("id")
        .agg(F.min("hit").alias("__all_set"))
        .select(
            "id",
            F.when(F.col("__all_set") == 1, F.lit("possible_dup"))
            .otherwise(F.lit("definitely_new"))
            .alias("status"),
        )
    )


def streaming_minhash_screen(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Streaming twin of the d12 incremental NEAR-dup screen: the MinHash
    band index lives in ``applyInPandasWithState`` keyed by
    (band, bucket), carried across micro-batches — beside
    ``streaming_bloom_screen`` this closes the two-tier ingest screen in
    BOTH modes (exact Bloom + near-dup MinHash, batch and streaming).

    Each arriving doc's band rows are judged against the bucket membership
    AS OF the previous micro-batch (exactly ``minhash_screen_batch``
    against an index built from everything before this batch).  A bucket
    whose membership reaches ``max_bucket_size`` goes DEAD: its members
    are discarded and it never emits pairs again — the streaming form of
    ``cap_bucket_fanout``'s drop-the-whole-bucket semantics (members of a
    degenerate bucket are boilerplate, not near-dup signal; truncating to
    the first N would instead keep emitting pairs the batch screen
    suppresses).  Divergence from the batch twin is the append-mode
    minimum: pairs emitted while the bucket was still under cap cannot be
    retracted.

    The band rows come from ``minhash_band_rows``: the batch screen's own
    mapInPandas kernel runs on the stream, so both modes share one
    signature route.  Emits one (id, hist_id) row per shared band; fold
    per-pair counts in ``foreachBatch`` via ``minhash_pairs_for_batch``.

    State-schema note: the DEAD-bucket fix widened ``stateStructType``
    from ``docs array<long>`` to ``docs array<long>, dead boolean``.  A
    query restarted from a checkpoint written by the 1-field version must
    use a FRESH checkpoint location (Spark's state store validates the
    state schema and rejects the widening; ``screen`` also tolerates a
    1-field tuple defensively, treating the bucket as live, in case an
    old store is replayed through a lenient provider).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ago_sisdb_spark.operators.dedup import minhash_band_rows

    rows = minhash_band_rows(
        stream, id_col, text_col, shingle_k, num_hashes, bands
    )

    def screen(key, pdfs, state):
        import pandas as pd

        if state.exists:
            tup = state.get
            members = list(tup[0])
            # pre-widening checkpoints stored only `docs` — treat as live
            dead = bool(tup[1]) if len(tup) > 1 else False
        else:
            members, dead = [], False
        pre = list(members)  # pairs judged vs PRE-batch membership only
        new_ids, hist_ids = [], []
        for pdf in pdfs:
            for doc in pdf["doc"]:
                d = int(doc)
                if not dead:
                    for h in pre:
                        if h != d:
                            new_ids.append(d)
                            hist_ids.append(h)
                    members.append(d)
                    # batch cap keeps size == cap and drops only > cap
                    if len(members) > max_bucket_size:
                        dead, members, pre = True, [], []
        state.update((members, dead))
        yield pd.DataFrame({"id": new_ids, "hist_id": hist_ids})

    return rows.groupBy("band", "bucket").applyInPandasWithState(
        screen,
        outputStructType="id long, hist_id long",
        stateStructType="docs array<long>, dead boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def minhash_pairs_for_batch(hits: DataFrame) -> DataFrame:
    """Fold a micro-batch of (id, hist_id) shared-band rows into candidate
    pairs with shared-band counts — the ``minhash_screen_batch`` output
    shape."""
    return (
        hits.groupBy(F.col("id").alias("batch_id"), "hist_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )

"""Bloom-filter incremental dedup: screen a new batch against a historical
corpus WITHOUT joining the corpus.

The 100 TB ingest problem: each new batch must be deduped against
everything already ingested.  Joining batch × history shuffles history
every time; the standard fix is a compact membership summary.  A Bloom
filter over historical content digests is ~1.2 GB per 10¹⁰ documents at
1% FP (k=5, ~10 bits/doc) — broadcastable — and Bloom "no" is exact, so
only the tiny "possibly seen" slice ever touches the expensive verify
join (two-tier screen).  Reference parity: the reference dedups only
within its own write path (`sisdb_fmap_ctrl.c` same-key upserts);
cross-corpus screening is part of the beyond-reference LLM-pipeline
surface (SURVEY §2.11).

Spark shapes — everything is DataFrame-native and portable across engines:

- the filter itself is a DATAFRAME of (word, mask) rows — 32-bit words
  packed in longs, built by groupBy(word) + bit_or aggregate.  The bitmap
  partial-aggregates map-side, so building it shuffles at most
  n_bits/32 rows regardless of corpus size, and the result broadcasts;
- bit positions derive from ``portable_hash60(digest || '#' || i)`` —
  the same md5-based portable hash as the MinHash/SimHash oracle twins,
  so the ENTIRE structure (set bits, probe hits, verdicts) is
  reproducible in DuckDB SQL and hash-checked by the gate;
- membership probing is an explode (k rows per doc) + broadcast join on
  word + per-doc min(bit_set) — a Bloom miss on ANY of the k positions
  proves the doc unseen (no false negatives, by construction);
- ``verify=True`` adds the second tier: ONLY docs flagged possible_dup
  join the historical digest set for the exact verdict.

Spark's built-in ``DataFrame.stat`` Bloom support stays JVM-side and
non-portable; this form trades a few percent of build speed for an
oracle-checkable, engine-agnostic artifact you can persist as parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ago_sisdb_spark.materialize import materialize

from ago_sisdb_spark.operators.dedup import (
    PORTABLE_HASH_SQL,
    content_digest,
    portable_hash60,
)


# broadcast the (word, mask) bitmap only while it stays executor-friendly:
# n_bits/32 rows × ~16 B data ≈ n_bits/2 bytes ≈ 512 MiB at 2^33 bits.
# Above that the hint is dropped and the probe join runs as a plain
# shuffle join on `word` — identical verdicts, no per-executor copy.
BROADCAST_MAX_BITS = 1 << 33


def bloom_bits_for(n_docs: int, fp_rate: float = 0.01, n_hashes: int = 5) -> int:
    """Size the bitmap for an expected corpus: smallest ``n_bits`` giving
    ``fp_rate`` false positives at ``n_hashes`` probes.

    Inverts the standard occupancy model p = (1 − e^(−k·n/m))^k for m:
    m = −k·n / ln(1 − p^(1/k)).  At the defaults (k=5, p=1%) this lands on
    ~9.9 bits/doc — the "~10 bits/doc at 1%" rule of thumb.  Use this
    instead of the 2¹⁶ test default whenever the history size is known;
    the test default screens ~6.6 k docs at 1%, nothing more.
    """
    import math

    if n_docs <= 0:
        raise ValueError("n_docs must be positive")
    if not 0.0 < fp_rate < 1.0:
        raise ValueError("fp_rate must be in (0, 1)")
    m = -n_hashes * n_docs / math.log(1.0 - fp_rate ** (1.0 / n_hashes))
    return int(math.ceil(m))


def bloom_positions(digest: Column, n_bits: int, n_hashes: int) -> Column:
    """k portable bit positions per digest (array<long>)."""
    return F.array(
        *[
            portable_hash60(F.concat(digest, F.lit(f"#{i}"))) % F.lit(n_bits)
            for i in range(n_hashes)
        ]
    )


def build_bloom(
    history: DataFrame,
    text_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
) -> DataFrame:
    """Sparse Bloom bitmap over content digests: (word, mask) rows.

    32-bit words (word = pos >> 5, mask bits = pos & 31) keep every shift
    inside non-negative int64 territory in both Spark and the SQL oracle.
    Row count ≤ n_bits/32; persist as parquet to reuse across batches.
    """
    pos = history.select(
        F.explode(
            bloom_positions(content_digest(F.col(text_col)), n_bits, n_hashes)
        ).alias("pos")
    )
    # shiftleft/shiftright take a Column bit count only via SQL form
    return (
        pos.groupBy(F.shiftright("pos", 5).alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))")
            ).alias("mask")
        )
    )


def screen_batch(
    batch: DataFrame,
    bloom: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
    history: DataFrame | None = None,
    broadcast_max_bits: int = BROADCAST_MAX_BITS,
) -> DataFrame:
    """Two-tier incremental dedup verdicts for a new batch.

    Returns (id, status, is_dup):

    - status 'definitely_new' — some probed bit unset; EXACT (a Bloom
      filter has no false negatives), is_dup = false with no join;
    - status 'possible_dup' — all k bits set; if ``history`` is given,
      ONLY these docs join the historical digests for the exact is_dup
      verdict (the second tier); otherwise is_dup is null.

    The bitmap side is broadcast only while ``n_bits <= broadcast_max_bits``
    (default 2³³ ≈ 512 MiB of (word, mask) rows); beyond that the probe
    join falls back to a plain shuffle join on ``word`` — same verdicts,
    no executor-wide bitmap copy.  Size ``n_bits`` with ``bloom_bits_for``.
    """
    probes = batch.select(
        F.col(id_col).alias("id"),
        content_digest(F.col(text_col)).alias("digest"),
    ).select(
        "id",
        "digest",
        F.explode(bloom_positions(F.col("digest"), n_bits, n_hashes)).alias("pos"),
    )
    hit = F.when(
        F.col("mask").isNotNull()
        & (
            F.expr("shiftright(mask, cast(pos % 32 as int)) & 1") == 1
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    bloom_side = F.broadcast(bloom) if n_bits <= broadcast_max_bits else bloom
    verdicts = (
        probes.withColumn("word", F.shiftright("pos", 5))
        .join(bloom_side, "word", "left")
        .select("id", "digest", hit.alias("hit"))
        .groupBy("id", "digest")
        .agg(F.min("hit").alias("__all_set"))
        .select(
            "id",
            "digest",
            F.when(F.col("__all_set") == 1, F.lit("possible_dup"))
            .otherwise(F.lit("definitely_new"))
            .alias("status"),
        )
    )
    if history is None:
        return verdicts.select(
            "id", "status", F.lit(None).cast("boolean").alias("is_dup")
        )
    # the verify tier consumes verdicts TWICE (the possible_dup slice and
    # the final join) — without materializing, each consumer re-ran the
    # whole probe pipeline INCLUDING the bloom build (audit_plans
    # --dupscans: 5 table scans).  verdicts is batch-sized and narrow
    # (id, digest, status) — exactly the frame screen_batch exists to
    # bound — so holding it is the designed cost shape
    verdicts = materialize(verdicts)
    # verify WITHOUT shuffling the history (r8, same shape as the prep
    # digest screen): the possible_dup digest set is batch-bounded (and
    # Bloom-FP-small), so it broadcasts into a left_semi over the raw
    # history digests — a map-side scan, no corpus-wide distinct, no
    # exchange of history — and the matched subset broadcasts back.
    maybe = verdicts.where(F.col("status") == "possible_dup")
    matched = (
        history.select(content_digest(F.col(text_col)).alias("digest"))
        .join(
            F.broadcast(maybe.select("digest").distinct()),
            "digest",
            "left_semi",
        )
        .distinct()
    )
    verified = maybe.join(F.broadcast(matched), "digest", "left_semi").select(
        "id", F.lit(True).alias("is_dup")
    )
    return (
        verdicts.join(F.broadcast(verified), "id", "left")
        .select(
            "id",
            "status",
            F.when(F.col("status") == "definitely_new", F.lit(False))
            .otherwise(F.coalesce("is_dup", F.lit(False)))
            .alias("is_dup"),
        )
    )


def bloom_screen_oracle_sql(
    hist_sql: str,
    batch_sql: str,
    id_col: str,
    text_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
) -> str:
    """DuckDB SQL reproducing build_bloom + screen_batch(verify) exactly —
    same md5 digests, same portable positions, same 32-bit packing, same
    two-tier verdicts.  ``hist_sql`` / ``batch_sql`` are subqueries
    yielding the historical and new rows."""
    def pos_expr(i: int) -> str:
        h = PORTABLE_HASH_SQL.format(col=f"digest || '#{i}'")
        return f"({h}) % {n_bits}"

    hist_pos = "\n        UNION ALL ".join(
        f"SELECT {pos_expr(i)} AS pos FROM hist" for i in range(n_hashes)
    )
    batch_pos = "\n        UNION ALL ".join(
        f"SELECT id, digest, {pos_expr(i)} AS pos FROM batch"
        for i in range(n_hashes)
    )
    return f"""
    WITH hist AS (
        SELECT md5({text_col}) AS digest FROM ({hist_sql})),
    hpos AS (
        {hist_pos}),
    bloom AS (
        SELECT pos >> 5 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos & 31 AS INT)) AS mask
        FROM hpos GROUP BY 1),
    batch AS (
        SELECT {id_col} AS id, md5({text_col}) AS digest FROM ({batch_sql})),
    bpos AS (
        {batch_pos}),
    probed AS (
        SELECT p.id, p.digest,
               CASE WHEN b.mask IS NOT NULL
                         AND ((b.mask >> CAST(p.pos & 31 AS INT)) & 1) = 1
                    THEN 1 ELSE 0 END AS hit
        FROM bpos p LEFT JOIN bloom b ON (p.pos >> 5) = b.word),
    verdicts AS (
        SELECT id, digest,
               CASE WHEN min(hit) = 1 THEN 'possible_dup'
                    ELSE 'definitely_new' END AS status
        FROM probed GROUP BY id, digest)
    SELECT id, status,
           CASE WHEN status = 'definitely_new' THEN false
                ELSE digest IN (SELECT digest FROM hist) END AS is_dup
    FROM verdicts
    """

"""Deduplication operators for large-scale training-data pipelines
(SURVEY §2.11; no reference analogue — the reference's ANN module is dead
code, `src/core/ai/sis_ai_ann.h:1-80`).

Scale design (100 TB corpus):

- exact:   hash-groupBy on a content digest — one shuffle of (digest, id),
           never the documents themselves.
- minhash: shingle → k independent min-hashes → band buckets, all in one
           mapInPandas pass per task (no shuffle) → (band, bucket) grouping
           — candidate pairs only ever materialize within a bucket, the
           classic LSH bound.
- simhash: 60-bit fingerprint per doc via weighted token hash bits; near-dups
           = fingerprints at small Hamming distance, found by 4-way band
           partitioning (each band exact-matched by groupBy).

One signature hash everywhere: ``portable_hash60`` (md5-derived, 60 bits),
so every MinHash, SimHash and duplicated-span result is reproducible by
its DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ago_sisdb_spark.materialize import materialize, spread

# 2^31-1: keeps a*h products inside int64 (Spark 4 runs ANSI mode — long
# overflow raises instead of wrapping).
_MERSENNE = (1 << 31) - 1
# permutation seed shared by every MinHash route (kernel, expressions and
# the DuckDB oracle SQL) so their signatures agree
_DEFAULT_SEED = 7
# SimHash fingerprint width: the width of portable_hash60
_SIMHASH_BITS = 60


def content_digest(text: Column) -> Column:
    """Stable content digest for exact dedup (md5, as in the SQL oracle)."""
    return F.md5(text)


def portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit string hash: first 15 hex chars of md5,
    parsed base-16.  Produces the identical value in any engine with md5
    (DuckDB twin: fold over the hex digits) — the one signature hash of
    the MinHash, SimHash and duplicated-span operators, so their banded
    pair logic is hash-checked end-to-end by the SQL oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# DuckDB expression computing the same 60-bit value ({col} is interpolated).
PORTABLE_HASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, 16), i -> CAST(strpos('0123456789abcdef', "
    "substring(md5({col}), i, 1)) - 1 AS BIGINT))), (acc, x) -> acc * 16 + x)"
)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: digest, group size, keeper id."""
    return (
        df.select(F.col(id_col), content_digest(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def exact_dup_drop_ids(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Ids to DROP under keep-lowest-id exact dedup, computed on a NARROW
    (digest, id) projection — the shuffle carries ~24-byte rows, never the
    documents (the d1 layout).  Consumers anti-join by id; with a low dup
    rate (the common corpus case) AQE turns that into a broadcast anti
    join and the corpus itself never shuffles at all — the digest-window
    form this replaces (r8) exchanged FULL text rows to decide the same
    drop set.  When the drop set outgrows broadcast, the sort-merge
    fallback shuffles the same volume the window did — never worse."""
    from pyspark.sql import Window

    w = Window.partitionBy("digest")
    return (
        df.select(content_digest(F.col(text_col)).alias("digest"), F.col(id_col))
        .withColumn("__min", F.min(id_col).over(w))
        .where(F.col(id_col) != F.col("__min"))
        .select(id_col)
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_words: int | None = None,
) -> DataFrame:
    """(doc, shingle) rows: shingles built IN-ARRAY per document (slice +
    array_join over an index sequence), then one explode — zero shuffles.

    A document's words arrive in one row, so the whole shingle set is a
    per-row expression; the old window-lead formulation paid an exchange +
    per-doc sort before any aggregation.  With no pre-shuffle, a downstream
    ``groupBy(doc)`` min-agg gets map-side partial combine over co-located
    rows — the exchange carries one signature-wide row per doc per
    partition instead of every (doc, shingle) row.

    Multiset semantics — apply ``.distinct()`` for set semantics (Jaccard);
    MinHash doesn't need it (min over multiset == min over set).
    Short documents (< k words) contribute one truncated shingle of all
    their words, matching the previous window form exactly (A/B verified
    multiset-identical at sf0.01).

    ``min_words`` drops docs with fewer words INSIDE this pass, reusing
    the already-split word array — a caller-side ``where(size(split(...))
    >= n)`` evaluates a SECOND full-text split on the scan (r8: the d3
    entry paid one extra corpus-wide split per run for exactly this).
    """
    # Map parallelism comes from input splits at scale; a local corpus in
    # one small file would otherwise run the whole shingle+hash pipeline in
    # a single task.  Spreading the COMPACT doc rows (id + text, one row
    # per doc) is strictly cheaper than the old window form's exchange of
    # exploded word rows, and hash-partitioning on the doc id lets a
    # downstream groupBy(doc) reuse the distribution with no second
    # shuffle.
    df = spread(df, id_col)
    # split materialized as a column BEFORE the transform: a lambda that
    # references the raw split() expression re-evaluates the split per
    # element under the interpreted HOF path (~16× slower end-to-end)
    wdf = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), r"\s+").alias("__w")
    )
    if min_words is not None:
        wdf = wdf.where(F.size("__w") >= min_words)
    w, n = F.col("__w"), F.size("__w")
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.array_join(F.slice(w, i, k), " "),
    )
    return wdf.select("doc", F.explode(arr).alias("shingle"))


def _perm_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def _minhash_mins(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    seed: int = _DEFAULT_SEED,
    min_words: int | None = None,
) -> DataFrame:
    """One min column per permutation (s0..sN-1) as expressions: the
    signature layer of ``minhash_estimator_audit`` and the reference form
    the band-row kernel is pinned against (same mins as the DuckDB
    oracle)."""
    base = shingle_rows(df, id_col, text_col, shingle_k, min_words).select(
        "doc", (portable_hash60(F.col("shingle")) % F.lit(_MERSENNE)).alias("h")
    )
    return base.groupBy("doc").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MERSENNE)).alias(
                f"s{i}"
            )
            for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
        ]
    )


def cap_bucket_fanout(
    df: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int,
    log_drops: bool = False,
    name: str = "lsh",
) -> DataFrame:
    """Drop over-full LSH buckets before a self-join emits O(m²) candidates.

    A single degenerate bucket of m members (near-constant docs, zero
    vectors, boilerplate) emits m(m-1)/2 candidate pairs — at corpus scale
    one such bucket stalls the whole job.  Same rationale as the
    ``max_doc_freq`` stop-shingle filter in ``ngram_jaccard_pairs``: members
    of a bucket that large are not near-dup signal.  The ENTIRE bucket is
    dropped (keeping a subset would bias which pairs surface).

    Cost: a count window over the bucket keys — the window's hash
    partitioning is exactly the distribution the downstream self-join
    requires, so Catalyst adds no extra shuffle for the cap.

    ``log_drops=True`` runs one extra action to count what was dropped and
    logs it — diagnostics only; leave False in production plans.  Silent
    truncation would read as "covered everything", so callers that cap
    should surface the count in their own metrics when it matters.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    sized = df.withColumn("__bsz", F.count(F.lit(1)).over(w))
    if log_drops:
        import logging

        dropped = sized.where(F.col("__bsz") > max_bucket_size)
        n_rows = dropped.count()
        n_buckets = dropped.select(*bucket_cols).distinct().count()
        logging.getLogger(__name__).warning(
            "%s: dropped %d over-cap buckets (> %d members, %d rows total)",
            name, n_buckets, max_bucket_size, n_rows,
        )
    return sized.where(F.col("__bsz") <= max_bucket_size).drop("__bsz")


def capped_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    member_col,
    pair_fields: str,
    max_bucket_size: int,
    log_drops: bool = False,
    name: str = "lsh",
) -> DataFrame:
    """The shared per-bucket pair generator (r7; one implementation for
    the MinHash / SimHash / cosine-LSH / SemDeDup candidate stages):
    cap → collect → expand.

    The cap runs as ``cap_bucket_fanout``'s count window BEFORE
    ``collect_list``, never after: a degenerate 10⁷-member bucket must be
    dropped by a spillable row-level filter, not first materialized as
    one multi-GB aggregation-buffer array and then discarded by a size()
    guard (review-caught, late r7).  The window's hash partitioning is
    the grouping the aggregate needs, so the cap adds a sort but NO extra
    exchange, and the collected arrays are ≤ ``max_bucket_size``.

    ``member_col`` is what each bucket collects (an id column or a
    struct whose FIRST field is the id — array_sort then orders pairs so
    id_a < id_b); ``pair_fields`` is the struct body of one emitted pair
    over the sorted array's (x, y), e.g. ``"x AS id_a, y AS id_b"`` or
    ``"x.doc AS id_a, y.doc AS id_b, x.simhash AS __fa, ..."``.  Output:
    ``bucket_cols + the pair fields``, with ``id_a = id_b`` self-pairs
    (possible when the same id appears twice in one bucket, e.g. a
    re-ingested embedding row) filtered out — the old ``a.id < b.id``
    self-joins could never emit them, and keep-lowest-id policies would
    otherwise drop a doc against itself.
    """
    rows = cap_bucket_fanout(
        rows, bucket_cols, max_bucket_size, log_drops, name
    )
    grp = rows.groupBy(*bucket_cols).agg(
        F.array_sort(F.collect_list(member_col)).alias("__ms")
    )
    return (
        grp.where(F.size("__ms") >= 2)
        .select(
            *bucket_cols,
            F.explode(
                F.expr(
                    "flatten(transform(__ms, (x, i) -> "
                    "transform(slice(__ms, i + 2, size(__ms)), "
                    f"y -> struct({pair_fields}))))"
                )
            ).alias("__p"),
        )
        .select(*bucket_cols, "__p.*")
        .where(F.col("id_a") != F.col("id_b"))
    )


def _band_rows_udf(
    shingle_k: int, num_hashes: int, bands: int, seed: int,
    min_words: int | None,
):
    """mapInPandas kernel behind ``minhash_band_rows``: (doc, __text)
    Arrow batches → (doc, band, bucket) rows, numerically IDENTICAL to the
    expression formulation (``_minhash_mins`` + mod-p polynomial band
    folds; r14, guide §4.2 — the same exact-replay discipline as
    ``similarity.fold_cosine_block``):

    - word split replays Spark's ``split(text, '\\s+', -1)``: Java's
      default ``\\s`` is the ASCII class [ \\t\\n\\x0B\\f\\r], which is
      exactly Python's ``re.ASCII`` ``\\s``; Java keeps the leading empty
      string a positive-width match at position 0 produces AND (limit -1)
      all trailing empties — both match ``re.split`` semantics.
    - shingles replay ``transform(sequence(1, greatest(n-k+1, 1)),
      i -> array_join(slice(w, i, k), ' '))``: ``" ".join(w[i:i+k])``
      with Python slice truncation == ``slice``'s.
    - the shingle hash replays ``portable_hash60`` bit-for-bit: the md5
      digest's first 8 bytes big-endian ``>> 4`` IS the first-15-hex-chars
      value ``conv(substring(md5(s), 1, 15), 16, 10)`` parses (md5 of the
      same UTF-8 bytes; both non-negative, so ``% p`` agrees).
    - permutations and band buckets are the SAME ``_perm_params`` affine
      transforms and mod-p polynomial folds in int64 (a < 2^31, h < 2^31
      ⇒ a·h + b < 2^62: no overflow, value-exact — integer ops have no
      rounding-order freedom, so unlike the float kernels this needs no
      fold-order care).

    Why a kernel at all (measured, sf0.1, noop sink): the expression
    chain paid ~0.5 s building shingle strings via interpreted
    slice/array_join lambdas + explode and another ~0.4 s for the
    32-permutation min aggregate — per-shingle string/hash work that a
    per-task C pass (hashlib + ``np.minimum.reduceat``) does in
    milliseconds, and the (doc, shingle) explode plus the 32-wide
    groupBy(doc) combine disappear from the plan entirely.

    ``doc`` values pass through untouched (sliced from the input column),
    so the output keeps the id column's type, string ids included.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    params = _perm_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)
    rows = num_hashes // bands
    band_ids = np.arange(bands, dtype=np.int64)
    bands_i32 = band_ids.astype(np.int32)
    split_re = re.compile(r"\s+", re.ASCII)
    minw = 0 if min_words is None else min_words
    k = shingle_k
    md5 = hashlib.md5

    def gen(batches):
        for pdf in batches:
            docs = pdf["doc"]
            keep: list[int] = []  # row positions of the signed docs
            counts: list[int] = []
            h_all: list[int] = []
            null_rows: list[int] = []
            for r, text in enumerate(pdf["__text"].tolist()):
                if text is None:
                    # expression-form replay: with no min_words filter a
                    # NULL text still yields one NULL shingle (size(NULL)
                    # is NULL, greatest ignores it → sequence(1,1); the
                    # join/hash/min/fold chain stays NULL), i.e. 8 band
                    # rows with a NULL bucket; with min_words the
                    # size(...) >= n predicate is NULL and drops the doc
                    if minw == 0:
                        null_rows.append(r)
                    continue
                w = split_re.split(text)
                n = len(w)
                if n < minw:
                    continue
                m = n - k + 1 if n >= k else 1
                h_all.extend(
                    int.from_bytes(
                        md5(" ".join(w[i : i + k]).encode("utf-8")).digest()[:8],
                        "big",
                    )
                    >> 4
                    for i in range(m)
                )
                keep.append(r)
                counts.append(m)
            if null_rows:
                ndn = len(null_rows)
                yield pd.DataFrame(
                    {
                        "doc": docs.iloc[null_rows].repeat(bands)
                        .reset_index(drop=True),
                        "band": np.tile(bands_i32, ndn),
                        "bucket": pd.array(
                            [None] * (ndn * bands), dtype="Int64"
                        ),
                    }
                )
            if not keep:
                continue
            h = np.array(h_all, dtype=np.int64) % _MERSENNE
            offsets = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(np.array(counts[:-1], dtype=np.int64), out=offsets[1:])
            nd = len(keep)
            sig = np.empty((nd, num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                sig[:, i] = np.minimum.reduceat(
                    (A[i] * h + B[i]) % _MERSENNE, offsets
                )
            sigr = sig.reshape(nd, bands, rows)
            acc = np.broadcast_to(band_ids, (nd, bands)).copy()
            for j in range(rows):
                acc = (acc * 31 + sigr[:, :, j]) % _MERSENNE
            yield pd.DataFrame(
                {
                    "doc": docs.iloc[keep].repeat(bands).reset_index(drop=True),
                    "band": np.tile(bands_i32, nd),
                    "bucket": acc.reshape(-1),
                }
            )

    return gen


def _check_bands(num_hashes: int, bands: int) -> None:
    """Every band holds ``num_hashes // bands`` rows: refuse a split that
    would leave hashes over (the kernel would fail mid-job on the reshape,
    the expression form would silently drop them)."""
    if bands <= 0 or num_hashes % bands:
        raise ValueError(
            f"bands must be positive and divide num_hashes; got "
            f"num_hashes={num_hashes}, bands={bands}"
        )


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_words: int | None = None,
) -> DataFrame:
    """(doc, band, bucket) LSH band rows — the shared signature layer of
    the self-join candidates (``minhash_lsh_candidates``), the
    incremental history index (``build_minhash_index``) and the streaming
    screen (``streaming_minhash_screen``).

    One route: a vectorized mapInPandas pass over the compact (doc, text)
    rows (``_band_rows_udf`` — r14, value-identical by construction,
    pinned row-identical vs the expression form in tests/test_dedup.py):
    the (doc, shingle) explode, the per-shingle md5→conv string chain and
    the 32-wide groupBy(doc) min-combine all collapse into per-task C
    work, and the first thing after the scan that ever shuffles is the
    3-column band-row frame.  ``doc`` keeps the id column's type.  A
    streaming frame runs the same kernel; only the parallelism spread is
    skipped there (micro-batch partitioning is the trigger's concern)."""
    _check_bands(num_hashes, bands)
    schema = StructType([
        StructField("doc", df.schema[id_col].dataType),
        StructField("band", IntegerType()),
        StructField("bucket", LongType()),
    ])
    # same compact-doc-row parallelism spread as shingle_rows: a local
    # corpus in one small file would otherwise run the whole kernel in a
    # single task (at scale, input splits already provide this and the
    # repartition never fires)
    return spread(df, id_col).select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__text")
    ).mapInPandas(
        _band_rows_udf(shingle_k, num_hashes, bands, _DEFAULT_SEED, min_words),
        schema,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1000,
    log_drops: bool = False,
    min_words: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands; docs sharing any band bucket become
    a candidate pair.  Returns (id_a, id_b, n_shared_bands); downstream
    verifies with exact Jaccard (``ngram_jaccard_pairs``) on candidates only.

    ``max_bucket_size`` bounds the per-(band, bucket) self-join fan-out
    (``cap_bucket_fanout``); exact duplicates should be removed by
    ``exact_dedup_groups`` first — a bucket of 10⁶ byte-identical docs is
    the exact-dedup operator's job, not LSH's.

    The shingle hash is ``portable_hash60`` and the band bucket a mod-p
    polynomial fold, so the ENTIRE banded pair logic is reproducible in
    the DuckDB oracle (``minhash_lsh_oracle_sql``).  Oracle-checked
    callers pass ``min_words=shingle_k``: shorter docs otherwise get one
    truncated shingle, which the SQL twin's range() expansion omits.

    Pair generation is one aggregate, not a self-join
    (``capped_bucket_pairs``): each (band, bucket) group collects its
    cap-bounded (≤1000-element, the cap filters rows BEFORE the collect)
    sorted member array and expands the C(m,2) pairs locally with array
    HOFs — same pairs as the equi-self-join (sorted array ⇒ earlier
    element is the smaller id), one fewer shuffle.  The HOF lambdas
    range over a materialized column array, so neither the
    interpreted-HOF re-evaluation trap nor the literal-array self-join
    trap applies.
    """
    banded = minhash_band_rows(
        df, id_col, text_col, shingle_k, num_hashes, bands, min_words
    )
    pairs = capped_bucket_pairs(
        banded, ["band", "bucket"], F.col("doc"), "x AS id_a, y AS id_b",
        max_bucket_size, log_drops, "minhash_lsh",
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def minhash_lsh_drop_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1000,
    min_words: int | None = None,
) -> DataFrame:
    """The ids to DROP under the keep-lowest-id near-dup policy — exactly
    ``minhash_lsh_candidates(...).select(id_b).distinct()``, computed
    WITHOUT materializing the O(m²) candidate pairs.

    A doc appears as some pair's ``id_b`` iff it shares a surviving
    (band, bucket) with a LOWER id, i.e. iff ``doc > min(doc)`` over its
    bucket.  One window partitioned by (band, bucket) evaluates both the
    fan-out cap count and the bucket min in a single WindowExec over the
    band rows the pair join would have shuffled anyway — so the drop set
    costs O(Σ bucket size) where the self-join pays O(Σ bucket size²).
    A degenerate near-cap bucket (999 boilerplate docs → ~500 k pairs)
    is the difference between a row filter and a joined blow-up.

    Pipelines that only anti-join the drop list (``full_prep_pipeline``,
    the in-batch prune of ``incremental_prep_batch``) should use this;
    callers that need the pairs themselves (d3's reported
    ``n_shared_bands``, connected-components clustering) keep
    ``minhash_lsh_candidates``.
    """
    banded = minhash_band_rows(
        df, id_col, text_col, shingle_k, num_hashes, bands, min_words
    )
    return drop_ids_from_band_rows(banded, id_col, max_bucket_size)


def drop_ids_from_band_rows(
    banded: DataFrame, id_col: str, max_bucket_size: int = 1000
) -> DataFrame:
    """The window half of ``minhash_lsh_drop_ids``, for callers that
    already hold (doc, band, bucket) rows — the incremental screen derives
    the batch's band rows once and feeds this AND the index probe, so the
    shingle hashing never runs twice per batch."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    sized = banded.select(
        "doc",
        F.count(F.lit(1)).over(w).alias("__bsz"),
        F.min("doc").over(w).alias("__bmin"),
    )
    return (
        sized.where(
            (F.col("__bsz") <= F.lit(max_bucket_size))
            & (F.col("doc") > F.col("__bmin"))
        )
        .select(F.col("doc").alias(id_col))
        .distinct()
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over whitespace tokens.

    60 bits is the width of ``portable_hash60``, the token hash.

    For each bit position, sum +1/-1 token votes (token hash bit set → +1);
    fingerprint bit = sign of the sum.  Explode → hash each token ONCE →
    one conditional-sum aggregate per bit (map-side combined), then pack
    the sign bits into one long.  The token hash is the expensive part,
    so it runs once per token, never once per bit.
    """
    nbits = _SIMHASH_BITS
    base = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).select("doc", portable_hash60(F.col("tok")).alias("h"))
    votes = base.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(nbits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(nbits):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc", fp.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above threshold.

    Explode distinct shingles → self-equi-join on shingle (the shuffle key)
    → |∩| per pair → |A∪B| = |A|+|B|−|∩|.  The equi-join means only docs
    *sharing a shingle* ever pair up — no O(n²) crossjoin.

    ``max_doc_freq`` is the stop-shingle filter for corpus scale: a shingle
    appearing in d documents generates O(d²) join rows, so one boilerplate
    phrase shared by 1M docs would alone produce 10¹² pairs.  Dropping
    shingles with doc-frequency > max_doc_freq bounds the fan-out; sizes
    are computed on the FILTERED shingle sets so the Jaccard stays an exact
    similarity over the reduced universe (standard practice — common
    shingles carry no near-dup signal).
    """
    sh = shingle_rows(df, id_col, text_col, n).distinct()
    if max_doc_freq is not None:
        # count window, not groupBy + join-back: the aggregate form made
        # the corpus-scale shingle distinct a two-consumer subplan that
        # executed twice (r8, same fix as decontaminate); the window's
        # shingle partitioning is what the pair self-join needs anyway
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .where(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    # sizes feeds BOTH pair sides (sa and sb) — materialize the
    # doc-cardinality table once or each side re-runs the shingle explode
    # (audit_plans --dupscans; the a/b self-join itself reuses its
    # exchange, true self-joins do)
    sizes = materialize(
        sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _star_contract(
    edges: DataFrame, max_iter: int = 30
) -> tuple[DataFrame, int]:
    """Two-rule star contraction (Kiveris, Lattanzi, Mirrokni, Rastogi
    & Vassilvitskii, "Connected Components in MapReduce and Beyond",
    SoCC 2014): alternate

    - **large-star** — every node links each STRICTLY LARGER neighbor to
      the minimum of its closed neighborhood, and
    - **small-star** — every node links itself and all SMALLER neighbors
      to the smallest of them

    until the edge set is stable, at which point it is a star forest
    (child → component-minimum root).  Converges in O(log n) rounds on
    ANY topology — including the boilerplate-chain corpora where plain
    min-label propagation degrades to O(diameter) sequential joins.

    Input ``edges`` must be symmetric-closed and self-loop-free (the
    caller builds it); returns the star edge set (child, root) plus the
    number of (large+small) rounds executed.  Each round is a fixed
    number of node-keyed shuffles; per-round eager localCheckpoint cuts
    the iterative lineage exactly like the propagation loop did."""
    rounds = 0
    for _ in range(max_iter):
        # large-star over the symmetric closure of the current edge set
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("__m")
        )
        large = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .distinct()
        )
        # small-star over (hi, lo)-canonicalized edges
        canon = large.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        ).where(F.col("hi") != F.col("lo"))
        smins = canon.groupBy("hi").agg(F.min("lo").alias("__m"))
        small = (
            canon.join(smins, "hi")
            .select(F.col("lo").alias("src"), F.col("__m").alias("dst"))
            .union(smins.select(F.col("hi").alias("src"), F.col("__m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        # stable ⟺ same edge SET: both are distinct, so subset + equal
        # count suffices; isEmpty is a limit-1 probe, not a full count
        if small.count() == edges.count() and small.exceptAll(edges).isEmpty():
            edges = small
            break
        edges = small
    return edges, rounds


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    method: str = "star",
) -> DataFrame:
    """Near-dup clustering: connected components over a pair graph →
    (id, component) with component = min id in the group.

    Pairs alone don't answer "which docs do I drop": A~B and B~C must
    collapse to one group even when A~C was never emitted.  Two
    distributed strategies behind one API — no driver-side union-find,
    no O(V) state on any single machine, identical output labels:

    - ``method="star"`` (default since r10, r9 verdict #5): large-star /
      small-star contraction (``_star_contract``), O(log n) rounds on
      any topology.  A 1000-node boilerplate chain (A~B~C~… through
      shared template text) converges in ~⌈log₂ n⌉ rounds instead of
      hitting ``max_iter`` sequential joins — and unlike propagation it
      cannot silently return half-merged labels on a deep graph.
    - ``method="propagate"``: min-label propagation — every node starts
      labeled with itself and takes its neighborhood minimum each round;
      O(diameter) rounds with an early stop when nothing changes.  Kept
      for shallow graphs (near-dup clusters are usually ≤3 deep, where
      its per-round cost is slightly lower) and as the property-test
      cross-check for the star path.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if method == "star":
        nodes = edges.select(F.col("src").alias("id")).distinct()
        stars, _rounds = _star_contract(edges, max_iter=max(max_iter, 30))
        return nodes.join(
            stars.select(F.col("src").alias("id"), F.col("dst").alias("__root")),
            "id",
            "left",
        ).select("id", F.coalesce("__root", "id").alias("component"))
    if method != "propagate":
        raise ValueError(f"connected_components: unknown method {method!r}")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("__nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__nmin"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage growth
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .where(F.col("o.component") != F.col("n.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def neardup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: exact n-gram Jaccard pairs → connected
    components → (doc, keep) decisions (keep = min id per component;
    singleton docs are implicitly kept — they never appear in pairs)."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold, max_doc_freq)
    comp = connected_components(pairs)
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("keep_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
    stride: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the approximate form of
    exact-substring training-data dedup (Lee et al. 2021,
    arXiv:2107.06499, "Deduplicating Training Data Makes Language Models
    Better"): rolling ``span_tokens``-token windows every ``stride``
    tokens, hashed; a window hash occurring in ≥ ``min_docs`` DISTINCT
    documents flags every occurrence.  Catches cross-document boilerplate
    and quotation reuse that document-level MinHash misses (two long docs
    sharing one paragraph are nowhere near Jaccard-similar overall).

    Scale shape: window starts are a per-row ``sequence`` + explode (map
    stage, no shuffle); the only shuffled rows are (span_hash, doc,
    start) — never text.  Frequency counting partial-aggregates map-side;
    flagged hashes equi-join back to occurrences on the hash, so fan-out
    is occurrence-count (linear), never pairwise.  The span hash is the
    md5-derived 60-bit ``portable_hash60`` the DuckDB twin reproduces.

    Returns (doc, start_tok, span_hash, n_docs_sharing) — one row per
    flagged window occurrence; span [start_tok, start_tok + span_tokens).
    """
    if span_tokens <= 0 or stride <= 0:
        raise ValueError("span_tokens and stride must be positive")
    # materialize the split before any per-element expression (the
    # interpreted-HOF re-evaluation trap)
    wdf = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
    )
    n = F.size("__w")
    starts = F.when(
        n >= span_tokens,
        F.sequence(F.lit(0), n - span_tokens, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    occ = wdf.select(
        "doc", "__w", F.explode(starts).alias("start_tok")
    )
    span_text = F.array_join(
        F.slice(F.col("__w"), F.col("start_tok") + 1, span_tokens), " "
    )
    spans = occ.select(
        "doc",
        F.col("start_tok").cast("bigint").alias("start_tok"),
        portable_hash60(span_text).alias("span_hash"),
    )
    # distinct-doc count per span WITHOUT the aggregate + join-back (which
    # made the corpus-scale occurrence frame a two-consumer subplan that
    # executed twice — r8, same family as the stop-shingle fix):
    # dense_rank over (span_hash ordered by doc), then max over the
    # partition = countDistinct, one shuffle, occurrence rows kept.  The
    # two windows share the span_hash exchange and sort; memory stays
    # bounded (no collect_set of a boilerplate span's million docs).
    from pyspark.sql import Window

    w_ord = Window.partitionBy("span_hash").orderBy("doc")
    w_all = Window.partitionBy("span_hash")
    return (
        spans.withColumn("__dr", F.dense_rank().over(w_ord))
        .withColumn(
            "n_docs_sharing", F.max("__dr").over(w_all).cast("bigint")
        )
        .where(F.col("n_docs_sharing") >= min_docs)
        .select("doc", "start_tok", "span_hash", "n_docs_sharing")
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
    stride: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The transform half of ``duplicated_spans`` (Lee et al. 2021 CUT the
    duplicated substrings from the training text, they didn't just report
    them — the same relationship t8's redact has to t9's PII audit): drop
    every token covered by at least one flagged window and reassemble the
    document.  Returns (id, clean_text, n_removed bigint) for EVERY input
    doc (clean docs pass through with n_removed = 0).

    Scale shape: the flag report shuffles (span_hash, doc, start) only;
    per-doc start lists come back as ONE collect_set row per flagged doc
    (span-occurrence bounded) joined to the corpus; the cut itself is an
    index-filter over the materialized token array — both the token array
    and the start array are columns, so the nested HOF lambdas are the
    safe inner kind (no per-element re-evaluation)."""
    spans = duplicated_spans(
        df, id_col, text_col, span_tokens, stride, min_docs
    )
    flagged = spans.groupBy("doc").agg(
        F.collect_set("start_tok").alias("__starts")
    )
    # NULL text reads as '' (one empty token, nothing to cut) — without the
    # coalesce the whole row would go NULL while the oracle emits ''
    wdf = df.select(
        F.col(id_col).alias("doc"),
        F.split(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
        ).alias("__w"),
    )
    j = wdf.join(flagged, "doc", "left").withColumn(
        "__s", F.coalesce(F.col("__starts"), F.array().cast("array<bigint>"))
    )
    kept = F.filter(
        F.col("__w"),
        lambda t, i: ~F.exists(
            F.col("__s"),
            lambda s: (i.cast("bigint") >= s)
            & (i.cast("bigint") < s + F.lit(span_tokens)),
        ),
    )
    return j.select(
        F.col("doc").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("__w") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def remove_duplicated_spans_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
    stride: int = 8,
    min_docs: int = 2,
) -> str:
    """DuckDB twin of ``remove_duplicated_spans``:
    same flag derivation as ``duplicated_spans_oracle_sql``, then the same
    index-filter cut (range is 1-based here, starts are 0-based — the
    i-1 aligns them exactly as Spark's 0-based filter index does)."""
    span_expr = PORTABLE_HASH_SQL.format(
        col=(
            "array_to_string(list_slice(words, s + 1, "
            f"s + {span_tokens}), ' ')"
        )
    )
    return rf"""
    WITH w AS (
        SELECT {id_col} AS doc,
               string_split_regex(trim(coalesce({text_col}, '')), '\s+')
                   AS words
        FROM {table}),
    sp AS (
        SELECT doc, CAST(s AS BIGINT) AS start_tok, {span_expr} AS span_hash
        FROM (
            SELECT doc, words,
                   unnest(range(0, len(words) - {span_tokens} + 1, {stride}))
                       AS s
            FROM w WHERE len(words) >= {span_tokens})),
    freq AS (
        SELECT span_hash FROM sp GROUP BY span_hash
        HAVING count(DISTINCT doc) >= {min_docs}),
    flags AS (
        SELECT doc, list(DISTINCT start_tok) AS starts
        FROM sp JOIN freq USING (span_hash) GROUP BY doc),
    cut AS (
        SELECT w.doc, w.words,
               list_filter(
                   list_transform(range(1, len(w.words) + 1), i ->
                       CASE WHEN len(list_filter(
                                coalesce(flags.starts,
                                         CAST([] AS BIGINT[])),
                                s -> i - 1 >= s
                                     AND i - 1 < s + {span_tokens})) > 0
                            THEN NULL ELSE w.words[i] END),
                   x -> x IS NOT NULL) AS kept
        FROM w LEFT JOIN flags ON w.doc = flags.doc)
    SELECT doc AS {id_col},
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(words) - len(kept) AS BIGINT) AS n_removed
    FROM cut
    """
    # (coalesce: DuckDB array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — a fully-cut doc must read '' on both sides)


def duplicated_spans_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
    stride: int = 8,
    min_docs: int = 2,
) -> str:
    """DuckDB twin of ``duplicated_spans``: same
    windows, same md5-derived 60-bit span hash, same frequency gate."""
    span_expr = PORTABLE_HASH_SQL.format(
        col=(
            "array_to_string(list_slice(words, s + 1, "
            f"s + {span_tokens}), ' ')"
        )
    )
    return rf"""
    WITH w AS (
        SELECT {id_col} AS doc,
               string_split_regex(trim({text_col}), '\s+') AS words
        FROM {table}),
    sp AS (
        SELECT doc, CAST(s AS BIGINT) AS start_tok, {span_expr} AS span_hash
        FROM (
            SELECT doc, words,
                   unnest(range(0, len(words) - {span_tokens} + 1, {stride}))
                       AS s
            FROM w WHERE len(words) >= {span_tokens})),
    freq AS (
        SELECT span_hash, count(DISTINCT doc) AS n_docs_sharing
        FROM sp GROUP BY span_hash
        HAVING count(DISTINCT doc) >= {min_docs})
    SELECT sp.doc, sp.start_tok, sp.span_hash, freq.n_docs_sharing
    FROM sp JOIN freq USING (span_hash)
    """


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 1000,
    log_drops: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprints → band blocking → exact
    Hamming re-check (60-bit fingerprints, 15-bit bands at ``bands=4``).

    Pigeonhole guarantee: fingerprints within Hamming distance d share at
    least one of ``bands`` bands unchanged when d < bands — so blocking on
    exact band match has 100% recall for d ≤ bands-1.  The re-check is
    ``bit_count(xor)`` — one codegen'd instruction pair per candidate.

    ``max_bucket_size`` bounds the per-(band, bucket) fan-out — near-
    constant documents collapse to a handful of fingerprints and would
    otherwise emit O(m²) candidates from one bucket (``cap_bucket_fanout``).
    """
    width = _SIMHASH_BITS // bands
    fp = simhash64(df, id_col, text_col)
    banded = fp.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # pair generation per bucket via capped_bucket_pairs — same shape as
    # minhash_lsh_candidates: row-level cap, then the sorted member array
    # expands its C(m,2) pairs locally, one fewer shuffle than the
    # equi-self-join
    cand = capped_bucket_pairs(
        banded,
        ["band", "bucket"],
        F.struct(F.col("doc"), F.col("simhash")),
        "x.doc AS id_a, y.doc AS id_b, x.simhash AS __fa, y.simhash AS __fb",
        max_bucket_size,
        log_drops,
        "simhash",
    ).dropDuplicates(["id_a", "id_b"])
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# DuckDB oracle twins — generated from the SAME hash, permutation and band
# parameters as the builders above, so the banded pair logic is hash-checked
# end-to-end by the driver gate (r2 verdict #2).
# --------------------------------------------------------------------------


def minhash_lsh_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = _DEFAULT_SEED,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB SQL reproducing ``minhash_lsh_candidates(..., min_words=shingle_k)``
    exactly: same shingles, same md5-derived 60-bit hash, same affine
    permutations (shared ``_perm_params``), same polynomial band buckets,
    same bucket cap."""
    rows = num_hashes // bands
    words = rf"string_split_regex({text_col}, '\s+')"
    shingle = " || ' ' || ".join(
        f"{words}[i + {j}]" if j else f"{words}[i]" for j in range(shingle_k)
    )
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    )
    band_selects = []
    for b in range(bands):
        acc = str(b)
        for j in range(rows):
            acc = f"(({acc}) * 31 + s{b * rows + j}) % 2147483647"
        band_selects.append(f"SELECT doc, {b} AS band, {acc} AS bucket FROM mins")
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    hash_sql = PORTABLE_HASH_SQL.format(col="shingle")
    return f"""
    WITH sh AS (
        SELECT {id_col} AS doc,
               unnest(list_transform(range(1, len({words}) - {shingle_k - 1} + 1),
                      i -> {shingle})) AS shingle
        FROM {table} WHERE len({words}) >= {shingle_k}),
    h AS (SELECT doc, {hash_sql} % 2147483647 AS h FROM sh),
    mins AS (
        SELECT doc,
         {mins}
        FROM h GROUP BY doc),
    bands AS (
      {bands_sql}),
    capped AS (
        SELECT * FROM bands
        QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size})
    SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_shared_bands
    FROM capped a
    JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    """


def simhash_pairs_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB SQL reproducing ``simhash_neardup_pairs``:
    same 60-bit token hash, same per-bit votes and sign packing, same
    15-bit band blocking and bit_count(xor) re-check."""
    nbits = _SIMHASH_BITS
    width = nbits // bands
    hash_sql = PORTABLE_HASH_SQL.format(col="tok")
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(nbits)
    )
    pack = "\n           + ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(nbits)
    )
    band_sel = "\n      UNION ALL\n      ".join(
        f"SELECT doc, simhash, {b} AS band,"
        f" (simhash >> {b * width}) & {(1 << width) - 1} AS bucket FROM fp"
        for b in range(bands)
    )
    return rf"""
    WITH toks AS (
        SELECT {id_col} AS doc, unnest(string_split_regex({text_col}, '\s+')) AS tok
        FROM {table}),
    h AS (SELECT doc, {hash_sql} AS h FROM toks),
    votes AS (
        SELECT doc,
         {votes}
        FROM h GROUP BY doc),
    fp AS (
        SELECT doc, {pack} AS simhash
        FROM votes),
    bands AS (
      {band_sel}),
    capped AS (
        SELECT * FROM bands
        QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size}),
    cand AS (
        SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
               a.simhash AS fa, b.simhash AS fb
        FROM capped a
        JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc)
    SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
    """


def cdc_chunk_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/LBFS gear-hash family, e.g.
    Muthitacharoen et al. SOSP 2001): split each document at positions
    where a rolling hash of the last ``window`` chars ≡ 0 (mod
    ``divisor``), giving chunks of expected length ``divisor`` whose
    boundaries survive insertions/deletions — the property fixed-size
    blocks lack, and the reason CDC is the standard for chunk-level dedup.

    Returns one row per chunk: (id, chunk_idx, chunk, chunk_len).

    Implementation is a vectorized ``mapInPandas``: per-byte rolling
    hashes are the textbook case where relational HOFs lose — an
    interpreted ``filter(sequence(...), i -> 8-term-hash)`` lambda
    re-evaluates its source expression per element (the r4 t12 trap,
    measured ~250× slower here) — while a numpy sliding-window dot
    computes every boundary of a document in one matmul.  Chunking is
    embarrassingly row-parallel: NO shuffle, no state, Arrow-batched,
    so the operator scales with scan bandwidth.  The hash is the explicit
    ascii·31^j polynomial, restated verbatim by the DuckDB oracle twin
    (d11_cdc_chunks); a production gear table swaps in without changing
    the plan.
    """
    import numpy as np
    import pandas as pd

    globals()["pd"] = pd  # pandas_udf + future-annotations gotcha
    w, d = window, divisor
    # codes[i-w..i-1] · [31^(w-1) .. 31^0] = Σ_j code(i-j)·31^j
    weights = np.array([31**j for j in range(w)][::-1], dtype=np.int64)
    out_schema = f"`{id_col}` long, chunk_idx long, chunk string"

    def gen(batches):
        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                t = txt.strip(" ").lower()  # parity with SQL trim/lower
                n = len(t)
                if n == 0:
                    continue
                ends = [n]
                if n >= w:
                    codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                    h = np.lib.stride_tricks.sliding_window_view(codes, w) @ weights
                    hits = (np.nonzero(h % d == 0)[0] + w).tolist()
                    ends = sorted(set(hits + [n]))
                prev = 0
                for k, e in enumerate(ends):
                    ids.append(did)
                    idxs.append(k)
                    chunks.append(t[prev:e])
                    prev = e
            yield pd.DataFrame({id_col: ids, "chunk_idx": idxs, "chunk": chunks})

    # spread a single-split local input across the executor cores (the
    # shingle_rows guard): per-byte numpy work on one task otherwise
    # serializes the whole corpus pass
    slim = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    return slim.mapInPandas(gen, out_schema).withColumn(
        "chunk_len", F.length("chunk").cast("long")
    )


def duplicate_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    divisor: int = 64,
    min_occurrences: int = 2,
) -> DataFrame:
    """Cross-document duplicate-chunk report over CDC chunks: chunks are
    keyed by digest, so the shuffle carries (digest, id, len) — never the
    chunk text — and partial aggregation collapses repeats map-side.
    Returns (digest, n_occ, n_docs, chunk_len) for chunks seen at least
    ``min_occurrences`` times; filtering the originals to remove dup
    chunks is one semi-join on digest away."""
    ch = cdc_chunk_docs(df, id_col, text_col, window, divisor)
    return (
        ch.select(
            F.md5("chunk").alias("digest"),
            F.col(id_col),
            F.col("chunk_len"),
        )
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct(id_col).alias("n_docs"),
            F.max("chunk_len").alias("chunk_len"),
        )
        .where(F.col("n_occ") >= min_occurrences)
    )


def minhash_index_path(warehouse_dir: str, sf_dir: str) -> str:
    """Stable on-disk location for a corpus's MinHash band index."""
    import os

    tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    return os.path.join(warehouse_dir, "minhash_index", tag)


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1000,
) -> None:
    """Materialize the historical corpus's (doc, band, bucket) LSH rows —
    the near-dup counterpart of d8's Bloom bitmap for incremental ingest:
    screening a new batch against 100 TB of history must not re-shingle
    the history, so the band rows are computed once and persisted,
    repartitioned by band so each band's buckets land contiguously for
    the screen join.  The bucket cap is applied AT BUILD (over-cap history
    buckets are degenerate boilerplate; dropping them once bounds every
    future screen's fan-out).  Appending a day's accepted docs = appending
    their band rows; no rebuild."""
    rows = minhash_band_rows(df, id_col, text_col, shingle_k, num_hashes, bands)
    rows = cap_bucket_fanout(rows, ["band", "bucket"], max_bucket_size)
    rows.repartition(F.col("band")).write.mode("overwrite").parquet(path)


def append_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    band_rows: DataFrame | None = None,
) -> None:
    """Append a batch's (doc, band, bucket) rows to an existing index —
    the per-batch half of ``build_minhash_index``'s append contract: a
    day's ACCEPTED docs extend the history index with no rebuild and no
    re-shingling of what's already there.  The build-time bucket cap is
    not re-applied across old+new rows (that would require reading the
    index); a batch that would push a bucket over the cap is the periodic
    compaction's job, and screens remain correct either way — the cap
    only bounds fan-out.

    ``band_rows``: precomputed band rows of the batch (superset allowed —
    they are filtered to ``df``'s ids), so the ingest loop hashes each
    batch once for screen + prune + append."""
    rows = band_rows if band_rows is not None else minhash_band_rows(
        df, id_col, text_col, shingle_k, num_hashes, bands
    )
    if band_rows is not None:
        rows = rows.join(
            df.select(F.col(id_col).alias("doc")), "doc", "left_semi"
        )
    rows.repartition(F.col("band")).write.mode("append").parquet(path)


def load_minhash_index(spark, path: str) -> DataFrame | None:
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema("doc bigint, band int, bucket bigint").parquet(
            path
        )
    except AnalysisException:
        return None


def minhash_screen_batch(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    band_rows: DataFrame | None = None,
    min_words: int | None = None,
) -> DataFrame:
    """Near-duplicate screen of a new batch against a materialized history
    index: the batch's band rows equi-join the persisted buckets — shuffle
    keys are (band, bucket), never batch×history — and docs sharing any
    band come back as (batch_id, hist_id, n_shared_bands).  Two-tier like
    the Bloom screen: verify candidates with exact ``ngram_jaccard_pairs``
    on the pair set only.  Re-screened history members match themselves;
    the self-pair is excluded so re-ingest runs are idempotent.

    ``band_rows`` (optional): precomputed ``minhash_band_rows`` of the
    SAME batch/parameters — callers that also prune in-batch or append to
    the index pass one persisted frame so the shingle hashing runs once
    per batch, not once per consumer.

    The BATCH side carries the broadcast hint (r8): left unhinted, the
    planner happily builds the smaller-looking side — locally that is
    the index, and broadcasting a CORPUS-scale band index is exactly
    backwards at 100 TB (it also disables the map-side streaming of the
    index parquet).  Batch band rows are batch-bounded by construction,
    so the hint makes the probe a single index scan with no exchange on
    the history side at any scale."""
    brows = band_rows if band_rows is not None else minhash_band_rows(
        batch, id_col, text_col, shingle_k, num_hashes, bands, min_words
    )
    j = F.broadcast(brows.alias("n")).join(
        index.alias("h"),
        (F.col("n.band") == F.col("h.band"))
        & (F.col("n.bucket") == F.col("h.bucket"))
        & (F.col("n.doc") != F.col("h.doc")),
    )
    return j.groupBy(
        F.col("n.doc").alias("batch_id"), F.col("h.doc").alias("hist_id")
    ).agg(F.count(F.lit(1)).alias("n_shared_bands"))


def minhash_screen_oracle_sql(
    hist_where: str,
    batch_where: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = _DEFAULT_SEED,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB twin of ``build_minhash_index`` + ``minhash_screen_batch``:
    same shingles, hashes, band
    folds, history-side cap, and self-pair exclusion."""
    rows = num_hashes // bands
    words = rf"string_split_regex({text_col}, '\s+')"
    shingle = " || ' ' || ".join(
        f"{words}[i + {j}]" if j else f"{words}[i]" for j in range(shingle_k)
    )
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    )
    band_selects = []
    for b in range(bands):
        acc = str(b)
        for j in range(rows):
            acc = f"(({acc}) * 31 + s{b * rows + j}) % 2147483647"
        band_selects.append(f"SELECT doc, {b} AS band, {acc} AS bucket FROM mins")
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    hash_sql = PORTABLE_HASH_SQL.format(col="shingle")
    return f"""
    WITH sh AS (
        SELECT {id_col} AS doc,
               unnest(list_transform(range(1, len({words}) - {shingle_k - 1} + 1),
                      i -> {shingle})) AS shingle
        FROM {table} WHERE len({words}) >= {shingle_k}),
    h AS (SELECT doc, {hash_sql} % 2147483647 AS h FROM sh),
    mins AS (
        SELECT doc,
         {mins}
        FROM h GROUP BY doc),
    bands AS (
      {bands_sql}),
    hist AS (
        SELECT b.* FROM bands b JOIN {table} t ON b.doc = t.{id_col}
        WHERE {hist_where}
        QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size}),
    batch AS (
        SELECT b.* FROM bands b JOIN {table} t ON b.doc = t.{id_col}
        WHERE {batch_where})
    SELECT n.doc AS batch_id, h.doc AS hist_id, count(*) AS n_shared_bands
    FROM batch n
    JOIN hist h ON n.band = h.band AND n.bucket = h.bucket AND n.doc != h.doc
    GROUP BY n.doc, h.doc
    """


def soft_dedup_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Soft dedup (the keep-but-downweight alternative to dropping exact
    duplicates, cf. SoftDeDup / SlimPajama-DC ablations): every document
    survives, carrying weight 1/c where c is its byte-identical
    multiplicity — the training loss then sees each unique text with unit
    total mass.  Returns (id, n_dups, weight_e6) with the weight in exact
    integer millionths (1e6 div c), so the table is hash-portable.

    Scale shape: the d1 narrow layout — one count window over a
    (digest, id) projection; the shuffle carries ~24-byte rows, never
    document bodies, and consumers join the weight back by id."""
    from pyspark.sql import Window

    narrow = df.select(F.col(id_col), content_digest(F.col(text_col)).alias("__dg"))
    return narrow.withColumn(
        "n_dups", F.count(F.lit(1)).over(Window.partitionBy("__dg"))
    ).select(
        id_col,
        F.col("n_dups").cast("long").alias("n_dups"),
        F.expr("CAST(1000000 div n_dups AS BIGINT)").alias("weight_e6"),
    )


def cluster_representatives(
    comp: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Representative selection for near-dup clusters: RefinedWeb-style
    keep-the-best — per connected component, keep the LONGEST member
    (tie -> lowest id) instead of blindly the lowest id; near-dup groups
    usually contain one full document and several truncated/boilerplate
    variants.  Input ``comp`` is ``connected_components`` output
    (id, component).

    Returns (component, rep_id, rep_len, n_members).

    Scale shape: the component table is near-dup-graph-sized (tiny vs the
    corpus); lengths join in from a narrow (id, length) projection — a
    second cheap pruned scan, never a corpus-body shuffle; one window over
    the component table picks the representative."""
    from pyspark.sql import Window

    lens = docs.select(
        F.col(id_col).alias("id"), F.length(text_col).cast("long").alias("tlen")
    )
    j = comp.join(lens, "id")
    w = Window.partitionBy("component").orderBy(
        F.col("tlen").desc(), F.col("id").asc()
    )
    cw = Window.partitionBy("component")
    return (
        j.withColumn("n_members", F.count(F.lit(1)).over(cw).cast("long"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "component",
            F.col("id").alias("rep_id"),
            F.col("tlen").alias("rep_len"),
            "n_members",
        )
    )


def minhash_estimator_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Estimator-quality audit for the MinHash family: for every banded
    candidate pair, the signature-based similarity estimate (matching
    positions / num_hashes) beside the TRUE shingle Jaccard, plus the
    absolute error — the check that says whether 32 hashes are enough for
    this corpus before trusting the prune at scale.  All three ratios are
    exact integer millionths (matches and set sizes are integers), so the
    report is hash-portable with no float boundary.

    Returns (id_a, id_b, n_shared_bands, est_e6, jac_e6, err_e6).

    Scale shape: two corpus passes (signature mins; distinct shingles of
    CANDIDATE docs only — the second pass prunes through a broadcast
    semi-join on the pair-graph ids).  The candidate table and its sig
    subset are pair-graph-sized and checkpointed (small collapse points);
    the true-Jaccard shingle self-join runs over candidate docs only,
    never the corpus."""
    cands = materialize(
        minhash_lsh_candidates(
            df, id_col, text_col, shingle_k, num_hashes, bands,
            max_bucket_size, min_words=shingle_k,
        )
    )
    ids = (
        cands.select(F.col("id_a").alias("doc"))
        .union(cands.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    mins = _minhash_mins(
        df, id_col, text_col, shingle_k, num_hashes, min_words=shingle_k,
    )
    sigs = materialize(mins.join(F.broadcast(ids), "doc"))
    a = sigs.select(
        F.col("doc").alias("id_a"),
        *[F.col(f"s{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    b = sigs.select(
        F.col("doc").alias("id_b"),
        *[F.col(f"s{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    nm = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("long")
        for i in range(num_hashes)
    )
    est = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", "n_shared_bands", nm.alias("__nm"))
        .withColumn("est_e6", F.expr(f"(1000000 * __nm) div {num_hashes}"))
        .drop("__nm")
    )
    # true Jaccard over candidate docs only
    cand_docs = df.join(
        F.broadcast(ids.withColumnRenamed("doc", id_col)), id_col, "left_semi"
    )
    sh = materialize(
        shingle_rows(cand_docs, id_col, text_col, shingle_k, min_words=shingle_k)
        .distinct()
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        sh.select(F.col("doc").alias("id_a"), "shingle")
        .join(sh.select(F.col("doc").alias("id_b"), "shingle"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    out = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc").alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .withColumn("__ni", F.coalesce("__ni", F.lit(0)))
        .withColumn(
            "jac_e6",
            F.expr("(1000000 * __ni) div (__na + __nb - __ni)"),
        )
    )
    return out.select(
        "id_a", "id_b", "n_shared_bands", "est_e6", "jac_e6",
        F.abs(F.col("est_e6") - F.col("jac_e6")).alias("err_e6"),
    )


def minhash_estimator_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = _DEFAULT_SEED,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB twin of ``minhash_estimator_audit``: same shingles / hash /
    permutations / band buckets as ``minhash_lsh_oracle_sql``, extended
    with the per-pair signature match count and the true distinct-shingle
    Jaccard, all in integer millionths."""
    rows = num_hashes // bands
    words = rf"string_split_regex({text_col}, '\s+')"
    shingle = " || ' ' || ".join(
        f"{words}[i + {j}]" if j else f"{words}[i]" for j in range(shingle_k)
    )
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % 2147483647) AS s{i}"
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    )
    band_selects = []
    for b in range(bands):
        acc = str(b)
        for j in range(rows):
            acc = f"(({acc}) * 31 + s{b * rows + j}) % 2147483647"
        band_selects.append(f"SELECT doc, {b} AS band, {acc} AS bucket FROM mins")
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    hash_sql = PORTABLE_HASH_SQL.format(col="shingle")
    match_sum = " + ".join(
        f"CAST(ma.s{i} = mb.s{i} AS BIGINT)" for i in range(num_hashes)
    )
    return f"""
    WITH sh AS (
        SELECT {id_col} AS doc,
               unnest(list_transform(range(1, len({words}) - {shingle_k - 1} + 1),
                      i -> {shingle})) AS shingle
        FROM {table} WHERE len({words}) >= {shingle_k}),
    h AS (SELECT doc, {hash_sql} % 2147483647 AS h FROM sh),
    mins AS (
        SELECT doc,
         {mins}
        FROM h GROUP BY doc),
    bands AS (
      {bands_sql}),
    capped AS (
        SELECT * FROM bands
        QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket_size}),
    pairs AS (
        SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_shared_bands
        FROM capped a
        JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
        GROUP BY a.doc, b.doc),
    dsh AS (SELECT DISTINCT doc, shingle FROM sh),
    sizes AS (SELECT doc, count(*) AS n FROM dsh GROUP BY doc),
    inter AS (
        SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS ni
        FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2),
    est AS (
        SELECT p.id_a, p.id_b, p.n_shared_bands,
               (1000000 * ({match_sum})) // {num_hashes} AS est_e6
        FROM pairs p
        JOIN mins ma ON ma.doc = p.id_a
        JOIN mins mb ON mb.doc = p.id_b)
    SELECT e.id_a, e.id_b, e.n_shared_bands, e.est_e6,
           (1000000 * coalesce(i.ni, 0))
               // (sa.n + sb.n - coalesce(i.ni, 0)) AS jac_e6,
           abs(e.est_e6 - (1000000 * coalesce(i.ni, 0))
               // (sa.n + sb.n - coalesce(i.ni, 0))) AS err_e6
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa.doc = e.id_a
    JOIN sizes sb ON sb.doc = e.id_b
    """


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-gram, slide a
    window of ``w`` consecutive hashes, and select each window's MINIMUM
    hash (rightmost occurrence on ties).  The selected (position, hash)
    set is a provably-dense sketch: any substring shared between two
    documents of length ≥ k + w - 1 is guaranteed to contribute at least
    one common fingerprint, with expected density 2/(w+1) — the
    plagiarism/near-dup detector that, unlike MinHash, localizes WHERE
    the overlap is.

    Returns one row per selected fingerprint: (id, pos, fp) with ``pos``
    the 1-based END position of the k-gram (the d11 CDC convention) and
    ``fp`` the explicit ascii·31^j polynomial hash — restated verbatim by
    the DuckDB oracle twin (d18).  Docs shorter than k + w - 1 chars
    (no full window) emit nothing.

    Same execution shape as ``cdc_chunk_docs``: per-char work is the
    textbook interpreted-HOF trap, so a vectorized ``mapInPandas``
    computes all of a document's k-gram hashes as ONE numpy sliding
    dot and the window minima as one sliding-window min — row-parallel,
    no shuffle, scan-bandwidth scaling.  Matching docs pair up
    downstream by grouping on fp (digest-style, never text)."""
    import numpy as np
    import pandas as pd

    globals()["pd"] = pd  # pandas_udf + future-annotations gotcha
    weights = np.array([31**j for j in range(k)][::-1], dtype=np.int64)
    out_schema = f"`{id_col}` long, pos long, fp long"

    def gen(batches):
        for pdf in batches:
            ids, poss, fps = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                t = txt.strip(" ").lower()  # parity with SQL trim/lower
                n = len(t)
                if n < k + w - 1:
                    continue
                codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                h = np.lib.stride_tricks.sliding_window_view(codes, k) @ weights
                wins = np.lib.stride_tricks.sliding_window_view(h, w)
                # rightmost argmin: argmin over the reversed window
                idx = w - 1 - np.argmin(wins[:, ::-1], axis=1)
                pos = np.arange(len(wins), dtype=np.int64) + idx + k
                fp = wins[np.arange(len(wins)), idx]
                pos_u, first = np.unique(pos, return_index=True)
                ids.extend([did] * len(pos_u))
                poss.extend(pos_u.tolist())
                fps.extend(fp[first].tolist())
            yield pd.DataFrame({id_col: ids, "pos": poss, "fp": fps})

    slim = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    return slim.mapInPandas(gen, out_schema)


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    max_df: int = 8,
    min_shared: int = 3,
) -> DataFrame:
    """Cross-document overlap localization over winnowing fingerprints —
    the MOSS matching stage: documents pair up through shared selected
    fingerprints, and each pair reports how MUCH they share and WHERE
    (the matched-fingerprint position span on each side), which MinHash
    cannot do.

    Boilerplate control is a document-frequency FILTER, not a cap:
    fingerprints selected by more than ``max_df`` documents are dropped
    whole (stop-gram removal, the ``max_doc_freq`` rationale from
    ngram_jaccard_pairs) — exactly restatable by the SQL oracle, and the
    hot keys that would melt the pair expansion at 100 TB are precisely
    the uninformative ones.  The filter runs as a count window BEFORE
    any collect (spillable row-level, per the capped_bucket_pairs cap
    lesson), then ``capped_bucket_pairs`` expands each surviving ≤
    ``max_df``-member bucket in-array — one fp shuffle + one pair
    shuffle, no self-join, and the shuffles carry (fp, id, span) rows,
    never text.

    Returns (id_a, id_b, n_shared, span_a_lo, span_a_hi, span_b_lo,
    span_b_hi) for pairs sharing ≥ ``min_shared`` distinct surviving
    fingerprints; spans are min/max END positions of MATCHED k-grams."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    g = fps.groupBy("fp", F.col(id_col).alias("id")).agg(
        F.min("pos").alias("lo"), F.max("pos").alias("hi")
    )
    wdf = Window.partitionBy("fp")
    g = (
        g.withColumn("__dfc", F.count(F.lit(1)).over(wdf))
        .where((F.col("__dfc") >= 2) & (F.col("__dfc") <= max_df))
        .drop("__dfc")
    )
    member = F.struct(F.col("id"), F.col("lo"), F.col("hi"))
    pairs = capped_bucket_pairs(
        g,
        ["fp"],
        member,
        "x.id AS id_a, x.lo AS __la, x.hi AS __ha, "
        "y.id AS id_b, y.lo AS __lb, y.hi AS __hb",
        max_bucket_size=max_df,
        name="winnow",
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.min("__la").alias("span_a_lo"),
            F.max("__ha").alias("span_a_hi"),
            F.min("__lb").alias("span_b_lo"),
            F.max("__hb").alias("span_b_hi"),
        )
        .where(F.col("n_shared") >= min_shared)
    )

"""Training-data preparation operators (SURVEY §2.11 extension — the ops a
large-scale LLM data pipeline runs between dedup and the trainer; no
reference analogue, included under the 100 TB pipeline mandate).

- decontaminate: benchmark/test-set leakage scan — train docs sharing any
  word k-gram with an eval set.  Shingle equi-join (the d2 pattern): only
  docs sharing a shingle ever meet, never O(train × eval); the stop-shingle
  cap bounds boilerplate fan-out.
- pack_sequences: contiguous context-window packing — deterministic binning
  of docs into fixed token budgets.  Packing is inherently sequential, so
  it runs per SHARD (hash of the id): the running-sum window partitions by
  shard — no single-partition global window, bins are reproducible at any
  parallelism.
- quality_sample: temperature-style sampling — per-quality-bucket keep
  rates applied via a deterministic Knuth-hash gate, so the sample is
  reproducible (no RNG state) and pushes down as a plain filter.
- chunk_documents: overlapping context-window chunking — each doc's chunks
  are built as ONE per-row array expression then exploded, so the op is a
  pure map (no shuffle, no window); parallelism comes from input splits.
- mixture_sample: domain reweighting to target token shares — a tiny
  per-domain totals aggregate broadcast back onto the corpus, then the
  same deterministic hash gate; the only shuffle is the domains-sized agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ago_sisdb_spark.materialize import materialize

from ago_sisdb_spark.operators.dedup import shingle_rows


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(train_id, n_shared_shingles): train docs overlapping the eval set.

    Both sides shingle to (doc, shingle) rows; the equi-join on the shingle
    string is the only pairing mechanism — shuffle keys are shingles, so
    cost scales with shared-shingle count, not |train|×|eval|.
    ``max_doc_freq`` (train-side document frequency) drops boilerplate
    shingles exactly like ``ngram_jaccard_pairs`` does.
    """
    tr = shingle_rows(train, id_col, text_col, ngram).distinct()
    ev = shingle_rows(eval_df, id_col, text_col, ngram).select("shingle").distinct()
    if max_doc_freq is not None:
        # stop-shingle cap as a count window, not groupBy + join-back:
        # the aggregate form made tr (a corpus-scale shingle distinct,
        # too big to checkpoint) a two-consumer subplan that executed
        # twice (r8; the drop_ids_from_band_rows pattern).  The window's
        # shingle hash partitioning is exactly what the eval equi-join
        # needs, so the cap adds no extra exchange.
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        tr = (
            tr.withColumn("__df", F.count(F.lit(1)).over(w))
            .where(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    hits = tr.alias("t").join(ev.alias("e"), "shingle")
    # tr is (doc, shingle)-unique and ev shingle-unique, so the joined rows
    # stay unique per (doc, shingle): plain count == count(DISTINCT shingle)
    # without the two-phase distinct aggregate
    return (
        hits.groupBy(F.col("t.doc").alias("train_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col,
    window_tokens: int = 2048,
    n_shards: int = 64,
    order_cols: list | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """Assign each doc a (shard, bin) context-window slot; returns the input
    plus ``shard``, ``bin``, ``tokens`` columns.

    Contiguous greedy packing in id order *within a shard*: bin of a doc =
    floor(tokens_before_it_in_shard / window_tokens).  The running sum is a
    window partitioned by shard — at 1000 executors each shard packs
    independently; no global sort, no driver loop.  Deterministic: same
    data → same bins at any parallelism.

    ``shard_col`` reuses an upstream shard assignment (e.g.
    ``global_shuffle``'s) instead of hashing the id; ``n_shards`` is then
    ignored — pass ``order_cols=["pos"]`` alongside to pack in the
    shuffled read order.
    """
    from pyspark.sql import Window

    tokens = token_count_col if not isinstance(token_count_col, str) else F.col(
        token_count_col
    )
    shard = (
        F.col(shard_col) if shard_col else F.pmod(F.col(id_col), F.lit(n_shards))
    )
    # ``order_cols`` overrides the in-shard packing order (default id order);
    # curriculum packing passes (tier, id) so early bins hold easy docs
    w = (
        Window.partitionBy("shard")
        .orderBy(*(order_cols if order_cols else [id_col]))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn("shard", shard.cast("bigint")).withColumn(
        "tokens", tokens.cast("bigint")
    )
    cum_before = F.coalesce(F.sum("tokens").over(w), F.lit(0))
    return out.withColumn(
        "bin", F.floor(cum_before / window_tokens).cast("bigint")
    )


def quality_sample(
    df: DataFrame,
    id_col: str,
    bucket_col,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its bucket's probability, decided by a
    deterministic hash of the id (Knuth multiplicative, mod 1e6) — the
    reproducible form of temperature sampling: same corpus → same sample,
    resumable.  The gate is a codegen'd filter evaluated in the scan stage
    (it is NOT a parquet-pushable predicate — hash of a column — so expect
    a full scan; pair with partition filters for bounded passes)."""
    bucket = bucket_col if not isinstance(bucket_col, str) else F.col(bucket_col)
    rate = F.lit(default_rate)
    for name, r in rates.items():
        rate = F.when(bucket == name, F.lit(r)).otherwise(rate)
    return df.where(hash_gate(id_col) < rate * 1000003)


def hash_gate(id_col: str):
    """Deterministic 0..1000002 gate value from an integer id (Knuth
    multiplicative).  mod BEFORE the multiply: id * 2654435761 overflows
    int64 (ANSI mode raises) once ids pass ~3.4e9 — real at 100 TB.
    (id % p) * a % p is the same multiplicative hash, kept inside 2^62."""
    return (F.pmod(F.col(id_col), F.lit(1000003)) * F.lit(2654435761)) % F.lit(1000003)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 256,
    stride: int = 192,
) -> DataFrame:
    """Explode each document into overlapping word-token context windows.

    Output: (doc, chunk_idx, start_tok, n_toks, chunk_text).  Chunk i
    covers words [i*stride, i*stride + window); the last chunk may be
    short; a doc shorter than one window yields exactly one chunk.

    Scale shape: the whole chunk list is ONE per-row array expression
    (sequence → slice → array_join) followed by a single posexplode — a
    pure map stage with no shuffle and no per-doc window sort.  Row
    explosion is bounded by ~n_words/stride per doc; downstream per-chunk
    ops (embedding, dedup) see chunks already co-located with their doc.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    # split materialized as a column BEFORE the transform: a lambda that
    # references the raw split() expression re-evaluates the split per
    # element under the interpreted HOF path (~16× slower end-to-end)
    wdf = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
    )
    words, n = F.col("__w"), F.size("__w")
    # number of chunks: 1 + ceil(max(0, n - window) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - window, F.lit(0)) / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.least(n - s, F.lit(window)).alias("n_toks"),
            F.array_join(F.slice(words, s + 1, window), " ").alias("chunk_text"),
        ),
    )
    return wdf.select(
        "doc", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("c.start_tok").cast("bigint").alias("start_tok"),
        F.col("c.n_toks").cast("bigint").alias("n_toks"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    token_col: str,
    shares: dict[str, float],
    budget_tokens: int,
    default_share: float = 0.0,
) -> DataFrame:
    """Downsample each domain toward ``share * budget_tokens`` target
    tokens; returns the input rows that survive, plus a ``keep_rate``
    column.

    rate(domain) = min(1, share(domain) * budget / tokens(domain)), applied
    through the deterministic Knuth gate (reproducible, no RNG).  Domains
    absent from ``shares`` get ``default_share``.  Cost at scale: one
    domains-sized aggregate (map-side combine, output rows = #domains)
    broadcast-joined back — no corpus-wide shuffle; the gate itself is a
    codegen'd filter in the scan stage.
    """
    totals = df.groupBy(domain_col).agg(
        F.sum(F.col(token_col).cast("bigint")).alias("__dom_toks")
    )
    share = F.lit(default_share)
    for name, s in shares.items():
        share = F.when(F.col(domain_col) == name, F.lit(s)).otherwise(share)
    rate = F.least(
        F.lit(1.0), share * F.lit(float(budget_tokens)) / F.col("__dom_toks")
    )
    joined = df.join(F.broadcast(totals), domain_col)
    return (
        joined.withColumn("keep_rate", rate)
        .where(hash_gate(id_col) < F.col("keep_rate") * 1000003)
        .drop("__dom_toks")
    )


def weighted_sample_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling without replacement, k per group, no RNG state:
    Efraimidis–Spirtakis A-Res (Inf. Proc. Letters 97(5), 2006) with the
    deterministic Knuth gate as the uniform source.

    Each row draws u ∈ (0,1] from ``hash_gate(id)`` and scores
    ``skey = ln(u) / w`` — taking the k LARGEST skey per group is exactly
    weighted sampling without replacement with inclusion ∝ weight, and the
    same corpus always yields the same sample (resumable/reproducible, the
    property plain ``rand()`` sampling lacks at 100 TB restart/retry).

    Cost at scale: one window ranking per group — the shuffle key is the
    group, rows carry (id, weight) only if you project first.  Rows with
    non-positive weight are excluded (they have inclusion probability 0).
    """
    from pyspark.sql import Window

    u = (hash_gate(id_col) + F.lit(1)) / F.lit(1000004.0)
    skey = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__skey"), F.col(id_col)
    )
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__skey", skey)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .withColumn("skey", F.round("__skey", 6))
        .drop("__skey")
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style data selection (Xie et al., NeurIPS 2023: Data Selection
    for Language Models via Importance Resampling): score every raw
    document by how target-like its hashed n-gram features are.

    features(doc) = unigrams + word bigrams hashed into ``n_buckets``;
    log-importance(doc) = Σ_f  log p̂_target(f) − log p̂_raw(f)
    with add-``alpha`` smoothed bucket probabilities.  Selecting the
    top-scoring slice (or gating with these as weights) shifts the raw
    corpus toward the target distribution — the published, cheap
    alternative to classifier-based selection.

    Scale shape: two bucket-count aggregates (≤ n_buckets rows each, from
    partial-aggregated groupBys) broadcast back into ONE scoring pass over
    the raw corpus — no corpus×corpus join, no vocabulary table; the
    feature space is fixed-size by construction, which is the point of the
    hashing trick at 100 TB.  Hashing uses the md5 ``portable_hash60``
    family so the gate twin restates every count and logprob.

    Returns (id, n_feats, logratio) — higher = more target-like.
    """
    from ago_sisdb_spark.operators.dedup import portable_hash60

    def feats(df: DataFrame, keep_id: bool) -> DataFrame:
        wdf = df.select(
            (F.col(id_col) if keep_id else F.lit(0)).alias("__id"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__w"),
        )
        w, nw = F.col("__w"), F.size("__w")
        bigrams = F.when(nw >= 2, F.zip_with(
            F.slice(w, 1, nw - 1), F.slice(w, 2, nw - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )).otherwise(F.array().cast("array<string>"))
        grams = wdf.select(
            "__id", F.explode(F.concat(w, bigrams)).alias("g")
        ).where(F.col("g") != "")
        return grams.select(
            "__id",
            (portable_hash60(F.concat(F.lit("f#"), F.col("g")))
             % F.lit(n_buckets)).alias("feature"),
        )

    raw_feats = feats(raw, keep_id=True)
    # the two bucket tables are MATERIALIZED (≤ n_buckets rows each) and
    # the totals derive from them as sums — previously tgt_counts/t_tot
    # and raw_counts/r_tot each re-ran their corpus explode (5 scans for
    # the documented 3-pass design; audit_plans --dupscans).  The
    # corpus-occurrence frame itself is never checkpointed — at 100 TB
    # only the fixed-size bucket tables are worth holding
    tgt_counts = (
        feats(target, keep_id=False)
        .groupBy("feature").agg(F.count(F.lit(1)).alias("tn"))
    )
    tgt_counts = materialize(tgt_counts)
    raw_counts = materialize(
        raw_feats.groupBy("feature").agg(F.count(F.lit(1)).alias("rn"))
    )
    # totals as 1-row aggregates, cross-joined (broadcast) into the log ratio
    t_tot = tgt_counts.agg(F.sum("tn").alias("t_total"))
    r_tot = raw_counts.agg(F.sum("rn").alias("r_total"))
    lp = (
        raw_counts.join(F.broadcast(tgt_counts), "feature", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "feature",
            (
                F.log((F.coalesce(F.col("tn"), F.lit(0)) + F.lit(alpha))
                      / (F.col("t_total") + F.lit(alpha * n_buckets)))
                - F.log((F.col("rn") + F.lit(alpha))
                        / (F.col("r_total") + F.lit(alpha * n_buckets)))
            ).alias("lr"),
        )
    )
    scored = raw_feats.join(F.broadcast(lp), "feature")
    return (
        scored.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("logratio"),
        )
        .select(F.col("__id").alias(id_col), "n_feats", "logratio")
    )


def full_prep_pipeline(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """The WHOLE training-data prep pipeline as ONE composed plan: exact
    dedup (digest window, keep lowest id) → MinHash-LSH near-dup prune
    (d3 buckets, drop everything above each bucket min) →
    decontaminate vs the held-out id%97 eval slice (3-gram shingle
    equi-join over the RAW non-eval corpus, stop-shingle cap 50, drop
    docs sharing ≥3 shingles) → quality gate (length + punctuation
    ratio) → pack into 2048-token windows across 16 shards, reported as
    per-shard doc/bin/token totals.

    Every stage is the oracle-proven building block of its standalone
    entry (d1 / d3 / pipe3 / pipe1 / pipe4); the `pipe_full_prep` query
    wraps this and its composed DuckDB twin hash-checks the whole chain.
    Lives at the operator layer (r5 verdict #4) so the scale probe can run
    it on multiplied inputs and the bench can anchor it as a headline.
    """
    from pyspark.sql import Window

    from ago_sisdb_spark.operators import dedup, text

    did = F.col(id_col)
    # exact dedup by anti-joining the NARROW drop-id set (d1's
    # shuffle-ids-not-bodies layout) — the old digest window exchanged
    # full text rows to decide the same drops (r8)
    keep = docs.join(
        dedup.exact_dup_drop_ids(docs, id_col, text_col), id_col, "left_anti"
    )
    # the >= 3-word eligibility rides the shingle pass's own split
    # (min_words) — a separate where(size(split)) would re-split the
    # whole corpus once more on this branch (r8, same fix as d3)
    nd_drop = dedup.minhash_lsh_drop_ids(
        docs, id_col, text_col, shingle_k=3, num_hashes=32, bands=8,
        min_words=3,
    )
    keep = keep.join(nd_drop, id_col, "left_anti")
    keep = keep.where(F.pmod(did, F.lit(97)) != 0)
    w3 = F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= 3
    # screen the RAW non-eval corpus, not the post-dedup survivors: contam
    # hits for docs the earlier stages already dropped are no-ops in the
    # anti-join (same principle as the incremental batch screen), and the
    # raw source keeps the decontam branch independent of the dedup chain —
    # feeding `keep` here made the digest window + MinHash prune a
    # two-consumer subplan that executed twice (~1.8× on the whole
    # pipeline at sf0.1).  Consequence: the stop-shingle document
    # frequency is computed on the raw train slice, where boilerplate
    # detection belongs, rather than on the dedup survivors.
    contam = (
        decontaminate(
            docs.where((F.pmod(did, F.lit(97)) != 0) & w3),
            docs.where((F.pmod(did, F.lit(97)) == 0) & w3),
            id_col, text_col, ngram=3, max_doc_freq=50,
        )
        .where(F.col("n_shared_shingles") >= 3)
        .select(F.col("train_id").alias(id_col))
    )
    keep = keep.join(contam, id_col, "left_anti")
    keep = keep.where(
        (F.length(text_col) >= 50)
        & (text.punct_ratio(F.col(text_col)) < 0.10)
    )
    packed = pack_sequences(
        keep.select(id_col, text.token_count(F.col(text_col)).alias("tokens")),
        id_col, "tokens", window_tokens=2048, n_shards=16,
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("bin").alias("n_bins"),
        F.sum("tokens").alias("total_tokens"),
    )


def prep_state_paths(warehouse_dir: str, sf_dir: str) -> tuple[str, str]:
    """Stable on-disk locations for a corpus's incremental-prep state:
    (digest_path, pack_state_path) — siblings of the MinHash band index
    (``dedup.minhash_index_path``), keyed by the same corpus tag."""
    import os

    tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    base = os.path.join(warehouse_dir, "prep_state", tag)
    return os.path.join(base, "digests"), os.path.join(base, "pack_state")


def build_prep_state(
    hist: DataFrame,
    digest_path: str,
    pack_state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> None:
    """One-time bootstrap of the incremental-prep state artifacts from a
    history corpus — run ONCE, then every batch consumes the parquet and
    ``advance_prep_state`` appends the batch's contribution.  At 100 TB
    this is the whole point: the per-batch cost must be batch-sized, so
    the history-sized shuffles (digest distinct, packing totals) happen
    here exactly once, never per batch.

    - ``digest_path``: distinct md5(text) of ALL history docs (the exact
      screen drops a batch doc whose text appeared anywhere in history,
      accepted or not — same rule as ``full_prep_pipeline`` over the
      union).
    - ``pack_state_path``: (shard, base_tokens) — per-shard token totals
      of the history's accepted docs (exact-dedup keep-lowest-id + the
      pipe1 quality gate), i.e. where each shard's packing cursor stopped.
    """
    from pyspark.sql import Window

    from ago_sisdb_spark.operators import text

    hist.select(F.md5(text_col).alias("digest")).distinct().write.mode(
        "overwrite"
    ).parquet(digest_path)
    from ago_sisdb_spark.operators import dedup

    hkeep = hist.join(
        dedup.exact_dup_drop_ids(hist, id_col, text_col), id_col, "left_anti"
    ).where(
        (F.length(text_col) >= 50)
        & (text.punct_ratio(F.col(text_col)) < 0.10)
    )
    (
        hkeep.groupBy(
            F.pmod(F.col(id_col), F.lit(n_shards)).cast("bigint").alias("shard")
        )
        .agg(
            F.sum(text.token_count(F.col(text_col)))
            .cast("bigint")
            .alias("base_tokens")
        )
        .write.mode("overwrite")
        .parquet(pack_state_path)
    )


def load_prep_state(
    spark, digest_path: str, pack_state_path: str
) -> tuple[DataFrame, DataFrame] | None:
    """(digests, pack_state) DataFrames, or None if not yet bootstrapped."""
    from pyspark.errors import AnalysisException

    try:
        digests = spark.read.schema("digest string").parquet(digest_path)
        state = spark.read.schema("shard bigint, base_tokens bigint").parquet(
            pack_state_path
        )
    except AnalysisException:
        return None
    return digests, state


def advance_prep_state(
    spark,
    batch: DataFrame,
    batch_result: DataFrame,
    digest_path: str,
    pack_state_path: str,
    text_col: str = "text",
) -> None:
    """Append ONE processed batch's contribution to the persisted state,
    so the next batch screens against history ∪ this batch:

    - digests: the batch's distinct md5(text) values are APPENDED (parquet
      append — no rewrite of the history-sized digest set, ever),
    - pack_state: each shard's ``base_tokens`` advances by the batch's
      accepted ``total_tokens`` (taken from ``batch_result``, the frame
      ``incremental_prep_batch`` returned — ≤ n_shards rows, a bounded
      driver reduction, then an overwrite of the shards-sized file).

    The MinHash band index advances separately via
    ``dedup.append_minhash_index`` on the batch's ACCEPTED docs (the
    index's documented append contract).  Caller sequencing: collect any
    results you need from ``batch_result`` before calling this — the
    pack_state overwrite invalidates previously loaded state frames.
    """
    totals = {
        int(r["shard"]): int(r["total_tokens"])
        for r in batch_result.select("shard", "total_tokens").collect()
    }
    old = {
        int(r["shard"]): int(r["base_tokens"])
        for r in spark.read.parquet(pack_state_path).collect()
    }
    for s, t in totals.items():
        old[s] = old.get(s, 0) + t
    batch.select(F.md5(text_col).alias("digest")).distinct().write.mode(
        "append"
    ).parquet(digest_path)
    spark.createDataFrame(
        sorted(old.items()), "shard bigint, base_tokens bigint"
    ).write.mode("overwrite").parquet(pack_state_path)


def screen_prep_batch(
    batch: DataFrame,
    digests: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared_bands: int = 2,
    in_batch_prune: bool = True,
    band_rows: DataFrame | None = None,
) -> DataFrame:
    """The ACCEPTED docs of one arriving batch — every screen of
    ``incremental_prep_batch`` except packing, with the batch's columns
    unchanged: in-batch exact dedup → history-digest anti-join → index
    MinHash screen → in-batch near-dup prune → quality gate.  Split out
    so ``incremental_ingest`` can both pack the survivors AND append
    them to the artifacts without re-deriving the survivor set.

    ``band_rows``: precomputed (and ideally persisted)
    ``dedup.minhash_band_rows`` of the ≥3-word batch docs with the d3
    parameters (shingle_k=3, 32 hashes, 8 bands).  The index
    screen and the in-batch prune are two consumers of the same band
    rows — without a shared materialized frame Spark executes the
    shingle-hash subplan once PER consumer (no exchange reuse across the
    two aggregates; measured 2× the whole batch cost at sf0.1)."""
    from pyspark.sql import Window

    from ago_sisdb_spark.operators import dedup, text

    keep = batch.join(
        dedup.exact_dup_drop_ids(batch, id_col, text_col), id_col, "left_anti"
    )
    # History-digest screen WITHOUT shuffling the history (r8): a plain
    # anti-join against the corpus-scale digest artifact would exchange
    # BOTH sides by digest — at 100 TB that is terabytes of history
    # digests per arriving batch.  Instead the batch's own digest set
    # (batch-bounded) broadcasts into a left_semi over the artifact —
    # a map-side scan of the digest parquet, no exchange — and the
    # matched subset (≤ |batch|) broadcasts back into the anti-join.
    # Duplicates the append-only artifact accumulates are harmless
    # (semi/anti are existence-only); distinct() keeps both broadcast
    # sides batch-bounded.
    batch_digests = (
        batch.select(F.md5(text_col).alias("__digest")).distinct()
    )
    matched = (
        digests.select(F.col("digest").alias("__digest"))
        .join(F.broadcast(batch_digests), "__digest", "left_semi")
        .distinct()
    )
    keep = keep.withColumn("__digest", F.md5(text_col)).join(
        F.broadcast(matched), "__digest", "left_anti"
    ).drop("__digest")
    # screen the RAW batch (not the exact-survivors): hits for docs the
    # exact stage already dropped are no-ops in the anti-join, and the
    # unconditioned form is what the oracle twin restates
    # >= 3-word eligibility rides the shingle pass's split (min_words) —
    # the old where(size(split)) pre-filter re-split the batch (r8)
    hits = dedup.minhash_screen_batch(
        batch, index, id_col, text_col,
        band_rows=band_rows, min_words=3,
    )
    nd = (
        hits.where(F.col("n_shared_bands") >= min_shared_bands)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    keep = keep.join(nd, id_col, "left_anti")
    if in_batch_prune:
        if band_rows is not None:
            inb = dedup.drop_ids_from_band_rows(band_rows, id_col)
        else:
            inb = dedup.minhash_lsh_drop_ids(
                batch, id_col, text_col, shingle_k=3,
                num_hashes=32, bands=8, min_words=3,
            )
        keep = keep.join(inb, id_col, "left_anti")
    return keep.where(
        (F.length(text_col) >= 50)
        & (text.punct_ratio(F.col(text_col)) < 0.10)
    )


def incremental_prep_batch(
    batch: DataFrame,
    digests: DataFrame,
    index: DataFrame,
    pack_state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared_bands: int = 2,
    n_shards: int = 16,
    window_tokens: int = 2048,
    in_batch_prune: bool = True,
    band_rows: DataFrame | None = None,
) -> DataFrame:
    """Incremental counterpart of ``full_prep_pipeline``: prep ONE new
    batch against persisted history state, never re-processing (or even
    touching) history — the shape a daily 100 TB ingest actually runs.

    The three persisted artifacts it consumes (all parquet, bootstrapped
    by ``build_prep_state`` / ``dedup.build_minhash_index`` and advanced
    per batch by ``advance_prep_state`` / ``dedup.append_minhash_index``):

    - ``digests``: the history's exact-digest set (column ``digest``) —
      an anti-join key set, digest-sized shuffle only,
    - the materialized MinHash band ``index`` (no re-shingling of
      history), and
    - ``pack_state``: per-shard (shard, base_tokens) totals from the
      previous packing run, so new docs CONTINUE filling bins instead of
      restarting at bin 0.

    No parameter is the history corpus itself, so the executed plan
    CANNOT contain a history scan — per-batch cost is O(batch) plus the
    band-index probe (tests delete the history source before running the
    batch to prove it).

    Stages: in-batch exact dedup (digest window, keep lowest id) →
    anti-join against the history digest set → MinHash screen of ≥3-word
    docs against the index, dropping batch docs sharing ≥
    ``min_shared_bands`` bands with ANY history doc → in-batch near-dup
    prune (``in_batch_prune``, default on: two near-dups ARRIVING
    TOGETHER share no history doc, so the index screen alone would keep
    both — ADVICE r6; mirrors ``full_prep_pipeline``'s in-corpus rule
    exactly: any banded candidate pair among ≥3-word docs drops the
    higher id) → quality gate (length + punctuation, the pipe1 gate) →
    packing windows per shard offset by ``base_tokens``.  Returns
    (shard, n_docs, n_bins, first_bin, total_tokens) — the bins a
    training job must (re)write for this batch.

    Remaining semantic divergences from ``full_prep_pipeline`` over
    history ∪ batch — each deliberate (history is immutable once packed)
    and each pinned by a pytest in tests/test_prep_extra.py:

    1. Exact-dup survivor id (``test_divergence_exact_keep_id``): a batch
       doc whose text equals a HISTORY doc is always dropped by the
       digest anti-join, even when its id is LOWER; the full pipeline
       keeps the global lowest id.  Survivor texts agree, survivor ids
       need not.
    2. Near-dup direction + threshold
       (``test_divergence_neardup_direction_and_threshold``): hist×batch
       near-dups always drop the BATCH side (a batch doc can never
       retro-drop an already-packed history doc), and only at ≥
       ``min_shared_bands`` (default 2) shared bands; the full pipeline's
       in-corpus rule drops the higher id of a capped-bucket pair at ANY
       shared band.  In-batch pairs follow the full rule exactly
       (``in_batch_prune``).
    3. Packing bin offsets (``test_divergence_bin_offsets``): batch docs
       continue each shard's bins at ``base_tokens`` in batch-id order; a
       full repack interleaves history and batch ids from bin 0, so bin
       numbers differ whenever a batch id sorts before a packed history
       id.  History bins are immutable by design.
    4. No eval-slice screen (``test_divergence_no_eval_screen``): the
       batch is neither decontaminated against the id%97 eval slice nor
       stripped of eval-slice ids — eval membership is a corpus-level
       decision taken when the history state was built, and re-screening
       would need the history corpus this operator must not touch.
    """
    keep = screen_prep_batch(
        batch, digests, index, id_col, text_col,
        min_shared_bands, in_batch_prune, band_rows=band_rows,
    )
    return _pack_report(
        keep, pack_state, id_col, text_col, n_shards, window_tokens
    )


def _pack_bins(
    keep: DataFrame,
    pack_state: DataFrame,
    id_col: str,
    text_col: str,
    n_shards: int,
    window_tokens: int,
) -> DataFrame:
    """Per-doc (id, shard, tokens, bin) for ACCEPTED batch docs, bins
    continuing from ``pack_state`` — the shared packing core of the
    report aggregate and the per-batch shard sink."""
    from pyspark.sql import Window

    from ago_sisdb_spark.operators import text

    did = F.col(id_col)
    toks = keep.select(
        did.alias("__id"),
        F.pmod(did, F.lit(n_shards)).cast("bigint").alias("shard"),
        text.token_count(F.col(text_col)).cast("bigint").alias("tokens"),
    )
    toks = toks.join(F.broadcast(pack_state), "shard", "left").withColumn(
        "__base", F.coalesce(F.col("base_tokens"), F.lit(0)).cast("bigint")
    )
    wp = (
        Window.partitionBy("shard")
        .orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.col("__base") + F.coalesce(F.sum("tokens").over(wp), F.lit(0))
    return toks.withColumn(
        "bin", F.floor(cum_before / window_tokens).cast("bigint")
    ).select(F.col("__id").alias(id_col), "shard", "tokens", "bin")


def _pack_report(
    keep: DataFrame,
    pack_state: DataFrame,
    id_col: str,
    text_col: str,
    n_shards: int,
    window_tokens: int,
) -> DataFrame:
    """Pack ACCEPTED batch docs into per-shard bins continuing from
    ``pack_state`` and aggregate the (shard, n_docs, n_bins, first_bin,
    total_tokens) report — the tail of ``incremental_prep_batch``,
    callable on an already-screened survivor frame."""
    return _report_from_bins(
        _pack_bins(keep, pack_state, id_col, text_col, n_shards, window_tokens)
    )


def _report_from_bins(binned: DataFrame) -> DataFrame:
    return binned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("bin").alias("n_bins"),
        F.min("bin").alias("first_bin"),
        F.sum("tokens").alias("total_tokens"),
    )


def incremental_ingest(
    spark,
    batch: DataFrame,
    index_path: str,
    digest_path: str,
    pack_state_path: str,
    results_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared_bands: int = 2,
    n_shards: int = 16,
    window_tokens: int = 2048,
    in_batch_prune: bool = True,
    shards_path: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """One arriving batch, end to end, against the persisted artifacts —
    AND the artifact advance, in the correct order.  This is the
    ``foreachBatch`` body of a production streaming ingest::

        def sink(bdf, epoch_id):
            prep.incremental_ingest(
                bdf.sparkSession, bdf, idx_path, dig_path, st_path,
                results_path=res_path, shards_path=shards_path,
                batch_id=epoch_id)

    Per micro-batch: load artifacts → screen (``screen_prep_batch``) →
    pack against the current ``pack_state`` and MATERIALIZE the bin
    report (≤ ``n_shards`` rows — collected before any artifact is
    mutated, so the returned frame cannot observe the advanced state) →
    append the report to ``results_path`` (if given) → append the
    batch's digests and advance ``pack_state``
    (``advance_prep_state``) → append the ACCEPTED docs' band rows to
    the index (``dedup.append_minhash_index``), making the next batch
    screen against history ∪ this batch.  The survivor set is cached
    for the duration so screens run once, not once per artifact.

    ``shards_path`` additionally lands the batch's accepted, packed docs
    as TRAINING SHARDS: one new (bin, id)-ordered file per shard per
    batch, bins continuing from ``pack_state`` — so the streaming
    ingest's output IS a training-ready corpus, with
    ``training_manifest`` over the directory as the scheduler's view.
    Pass the foreachBatch ``epoch_id`` as ``batch_id`` (with a
    ``results_path``) to make REDELIVERY idempotent.  foreachBatch is
    at-least-once: Spark re-runs a batch whenever the sink finished but
    the streaming checkpoint commit didn't — by far the common replay.
    The results parquet doubles as the processed-batch LEDGER,
    partitioned by ``batch`` (the redelivery check prunes to one
    directory — O(1) however long the stream runs): the ledger rows are
    written LAST via dynamic partition overwrite, a replay of an
    already-ledgered id returns the stored report and touches NOTHING
    (an empty report ledgers a ``shard=-1`` sentinel row so even an
    all-duplicates batch commits; filter ``shard >= 0`` when consuming
    reports), and the shard write lands under ``batch=<id>/shard=<n>/``
    the same way, so re-running an unledgered batch rewrites its own
    shard partitions instead of appending duplicates.  A ledgered
    results_path refuses batch_id=None rows (and vice versa raises on
    read) rather than silently losing idempotence.  Residual window, stated exactly: a
    crash INSIDE the artifact advance (after pack_state/index mutated,
    before the ledger row) replays as at-least-once — digest re-append
    is harmless (anti-join on a set), but pack_state/index would
    re-advance; closing that needs a transactional table format (Delta/
    Iceberg MERGE in production) or batch-keyed state partitions.
    Without ``batch_id`` every write is a plain append (at-least-once).
    """
    from ago_sisdb_spark.operators import dedup

    report_schema = (
        "shard bigint, n_docs bigint, n_bins bigint, "
        "first_bin bigint, total_tokens bigint"
    )
    if batch_id is not None and results_path is not None:
        from pyspark.errors import AnalysisException

        try:
            led = spark.read.parquet(results_path)
        except AnalysisException:  # first batch: no ledger yet
            led = None
        if led is not None:
            if "batch" not in led.columns:
                # mixing ledgered and plain-append reports in one path
                # would SILENTLY disable the redelivery no-op (and a
                # replay would double-advance pack_state) — refuse loudly
                raise ValueError(
                    f"results_path {results_path!r} holds batch_id=None "
                    "reports (no 'batch' column) — use a fresh "
                    "results_path for ledgered ingest"
                )
            # 'batch' is a partition column, so this read prunes to the
            # one batch=<id> directory — O(1) in stream lifetime
            prior = (
                led.where(F.col("batch") == int(batch_id))
                .drop("batch")
                .collect()
            )
            if prior:  # ledgered: redelivery of a committed batch — no-op
                return spark.createDataFrame(
                    [r for r in prior if r["shard"] >= 0], report_schema
                )

    loaded = load_prep_state(spark, digest_path, pack_state_path)
    if loaded is None:
        raise ValueError(
            f"prep state not bootstrapped at {digest_path} / "
            f"{pack_state_path} — run build_prep_state on history first"
        )
    digests, pack_state = loaded
    index = dedup.load_minhash_index(spark, index_path)
    if index is None:
        raise ValueError(
            f"MinHash band index missing at {index_path} — run "
            "dedup.build_minhash_index on history first"
        )
    # hash the batch ONCE: the index screen, the in-batch prune, and the
    # index append are three consumers of the same (doc, band, bucket)
    # rows — without the persisted frame each consumer re-runs the
    # shingle-hash subplan (no exchange reuse across separate aggregates)
    brows = dedup.minhash_band_rows(
        batch, id_col, text_col, 3, 32, 8, min_words=3
    ).persist()
    accepted = screen_prep_batch(
        batch, digests, index, id_col, text_col,
        min_shared_bands, in_batch_prune, band_rows=brows,
    ).persist()
    binned = _pack_bins(
        accepted, pack_state, id_col, text_col, n_shards, window_tokens
    )
    if shards_path is not None:
        # the report AND the shard write both consume the pack subplan
        # (token_count + pack_state join + per-shard window) — persist it
        # or it executes twice per batch (no exchange reuse across
        # separate consumers)
        binned = binned.persist()
    try:
        report = _report_from_bins(binned)
        stable = spark.createDataFrame(report.collect(), report.schema)
        if shards_path is not None:
            write_training_shards(
                binned, shards_path, order_cols=["bin", id_col],
                mode="append", batch_id=batch_id,
            )
        advance_prep_state(
            spark, batch, stable, digest_path, pack_state_path, text_col
        )
        # band rows were built with min_words=3, so semi-joining on ALL
        # accepted ids appends exactly the >=3-word rows — no re-split
        dedup.append_minhash_index(
            accepted, id_col, text_col, index_path,
            band_rows=brows,
        )
        # the ledger/results row is written LAST: its presence means the
        # batch fully committed, so the redelivery check above can no-op
        if results_path is not None:
            if batch_id is None:
                stable.write.mode("append").parquet(results_path)
            else:
                # batch-partitioned (the redelivery check prunes to one
                # directory) + dynamic overwrite (re-writing the same id
                # replaces, never duplicates).  An EMPTY report must
                # still ledger or the batch could never commit — the
                # shard=-1 sentinel marks a committed-empty batch and is
                # filtered back out on the redelivery return path.
                rows = stable.collect() or [(-1, 0, 0, 0, 0)]
                (
                    spark.createDataFrame(rows, report_schema)
                    .withColumn("batch", F.lit(int(batch_id)))
                    .coalesce(1)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch")
                    .parquet(results_path)
                )
        return stable
    finally:
        accepted.unpersist()
        brows.unpersist()
        if shards_path is not None:
            binned.unpersist()


def global_shuffle(
    df: DataFrame,
    id_col: str,
    n_shards: int = 64,
    seed: int = 17,
) -> DataFrame:
    """Deterministic training-order shuffle: (shard, pos) totally orders
    the corpus pseudo-randomly with NO global sort and no RNG state.

    shard = knuth_hash(id, seed) mod ``n_shards``; pos = rank of the hash
    within the shard (ties by id).  A training reader consumes shards in
    shard order, each shard internally hash-ordered — the standard
    epoch-shuffle layout for a corpus too large to orderBy(rand()):
    the only non-map work is one per-shard window, so 1000 executors
    shuffle each row exactly once and sort only shard-sized runs.
    Reproducible across runs and resumable mid-epoch; vary ``seed`` per
    epoch for a fresh permutation.

    Size ``n_shards`` so one shard's rows fit a single task's sort budget
    (corpus_rows / n_shards ≲ tens of millions): the window sorts each
    shard in one task, so 64 suits the local gate while a 100 TB corpus
    wants n_shards in the tens of thousands — shard count is layout, not
    semantics (any n gives a valid permutation).

    The seed enters the MULTIPLIER, not the offset: h = (id mod p) ·
    mult(seed) mod p with mult = 1 + (2654435761 + seed·40503) mod (p−1).
    An additive seed (h + seed·c) only translates every hash by a
    constant, which relabels shards and ROTATES each shard's order —
    epoch 2 would consume nearly the same document sequence as epoch 1
    (caught by review, late r7).  Distinct multipliers mod the prime p
    are genuinely different orderings; mod-before-multiply keeps ANSI
    int64 exact at any id scale.  The oracle restates the formula
    verbatim and a rotation-detector pytest pins the reshuffle.
    """
    from pyspark.sql import Window

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    mult = 1 + (2654435761 + (seed % 1000002) * 40503) % 1000002
    h = (F.pmod(F.col(id_col), F.lit(1000003)) * F.lit(mult)) % F.lit(1000003)
    shard = F.pmod(h, F.lit(n_shards))
    out = df.select(
        F.col(id_col),
        shard.cast("bigint").alias("shard"),
        h.alias("__h"),
    )
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return out.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def epoch_mix(
    df: DataFrame,
    id_col: str,
    source_col,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
) -> DataFrame:
    """Repeat-factor source mixing: emit each doc once per training epoch
    of its source, with fractional epochs as a deterministic subsample —
    e.g. ``{"en": 2.5}`` yields every en doc in epochs 1 and 2 plus a
    reproducible half of them in epoch 3 (the Pile/LLaMA-style mixture
    where high-quality sources are seen more than once).

    Pure map stage: the copy list is one ``sequence`` expression +
    ``explode`` — no shuffle, no join; row fan-out is bounded by
    ``ceil(max epochs)``.  The fractional gate hashes (id, epoch) with
    the same Knuth form as ``quality_sample``, so the epoch-3 half is
    the SAME docs every run (resumable, oracle-restatable) and
    independent of the epoch-1/2 membership.

    Output: (id, source, epoch) with epoch 1-based.
    """
    bad = {k: v for k, v in epochs.items() if v < 0}
    if bad or default_epochs < 0:
        raise ValueError(f"epoch counts must be >= 0, got {bad or default_epochs}")
    src = source_col if not isinstance(source_col, str) else F.col(source_col)
    e = F.lit(float(default_epochs))
    for name, r in epochs.items():
        e = F.when(src == name, F.lit(float(r))).otherwise(e)
    n_full = F.floor(e).cast("int")
    # integer threshold for the fractional tail epoch: frac * 1000003
    thresh = F.floor((e - n_full) * F.lit(1000003)).cast("bigint")
    gate = (
        F.pmod(F.col(id_col), F.lit(1000003)) * F.lit(2654435761)
        + (n_full + 1) * F.lit(40503)
    ) % F.lit(1000003)
    n_copies = n_full + F.when(gate < thresh, F.lit(1)).otherwise(F.lit(0))
    out = df.select(
        F.col(id_col),
        src.alias("source"),
        F.explode(
            F.when(
                n_copies >= 1, F.sequence(F.lit(1), n_copies)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("epoch"),
    )
    return out.select(id_col, "source", F.col("epoch").cast("bigint").alias("epoch"))


def write_training_shards(
    packed: DataFrame,
    out_path: str,
    shard_col: str = "shard",
    order_cols: list | None = None,
    mode: str = "overwrite",
    batch_id: int | None = None,
) -> None:
    """Materialize a packed/shuffled corpus as training shards: one
    parquet directory per shard, rows inside each shard stored in the
    training read order (default ``bin`` — pass ``["bin", "pos"]`` after
    ``global_shuffle`` + ``pack_sequences(order_cols=["pos"])``).

    Layout, not computation: ``repartition(shard)`` moves each shard's
    rows to exactly one task (ONE shuffle, the op's only one), the
    in-task sort orders them, and ``partitionBy`` routes them to
    ``shard=N/`` directories — so every shard is a single
    internally-ordered file a training reader can stream sequentially,
    and a resuming reader's ``shard = N`` filter prunes at the directory
    level (PartitionFilters).  At 100 TB, shard count is chosen upstream
    (``global_shuffle(n_shards=...)``) so one shard fits a task's sort
    budget; the writer inherits that decision.

    ``mode="append"`` is the streaming-ingest form (one NEW ordered file
    per shard per batch — `incremental_ingest`'s per-micro-batch sink);
    order then holds within each batch's file.  ``batch_id`` instead
    lands the rows under ``batch=<id>/shard=<n>/`` via DYNAMIC partition
    overwrite — re-writing the same batch replaces its own partitions
    (retry-idempotent), other batches untouched.  Compaction = read the
    directory back and rewrite with ``write_training_shards(mode=
    "overwrite")`` — not ``Engine.pack``, which compacts the dt-partitioned
    sisdb layout and knows nothing of shards or the (bin, pos) row order.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    cols = order_cols if order_cols else ["bin"]
    if batch_id is not None:
        (
            packed.withColumn("batch", F.lit(int(batch_id)))
            .repartition(F.col(shard_col))
            .sortWithinPartitions(shard_col, *cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", shard_col)
            .parquet(out_path)
        )
        return
    (
        packed.repartition(F.col(shard_col))
        .sortWithinPartitions(shard_col, *cols)
        .write.mode(mode)
        .partitionBy(shard_col)
        .parquet(out_path)
    )


def read_training_shards(spark, path: str, shards: list[int] | None = None) -> DataFrame:
    """Read back training shards, optionally restricted to ``shards`` —
    the resume path: the shard filter prunes whole directories
    (PartitionFilters in the scan, pinned by pytest), so resuming an
    epoch at shard k reads nothing before k."""
    df = spark.read.parquet(path)
    if shards is not None:
        df = df.where(F.col("shard").isin([int(s) for s in shards]))
    return df


def training_manifest(
    shards: DataFrame,
    shard_col: str = "shard",
    bin_col: str = "bin",
    token_col: str = "tokens",
) -> DataFrame:
    """Per-shard manifest of a materialized training corpus: (shard,
    n_docs, n_bins, n_tokens, last_bin) — what a training launcher needs
    to schedule readers and size epochs without scanning payloads.  One
    shard-keyed aggregate over the shard columns only (column pruning
    keeps text/embedding payloads out of the scan)."""
    return (
        shards.groupBy(F.col(shard_col).cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(bin_col).alias("n_bins"),
            F.sum(token_col).cast("bigint").alias("n_tokens"),
            F.max(bin_col).cast("bigint").alias("last_bin"),
        )
    )


def temperature_rates(
    df: DataFrame,
    domain_col: str,
    target_frac_e6: int = 500_000,
) -> DataFrame:
    """Temperature-based domain reweighting (the multilingual-LM sampling
    rule, alpha = 0.5): per-domain mass m_d -> weight sqrt(m_d / M), then
    per-domain keep quotas against a corpus budget of
    ``target_frac_e6``/1e6 of all rows.

    Returns one row per domain: (domain, n_docs, weight, share_e6, quota,
    rate_e6) — the sampling plan, NOT the sampled rows (``apply_mix_gate``
    applies it).  Upsampling is clamped at rate 1e6 (this engine's mixes
    never replicate rows; raise the budget instead).

    Cross-engine exactness: the ONLY float ops are one correctly-rounded
    IEEE chain per domain (count/total -> sqrt -> *1e6 -> floor), which
    every engine reproduces bit-for-bit; everything downstream (share,
    quota, rate) is pure integer arithmetic, and the cross-domain
    reduction sums INTEGER weights — order-free, unlike a float
    normalization sum (the r5 round-at-boundary family).  alpha = 0.5 is
    the one exponent with a correctly-rounded primitive (sqrt); generic
    alpha swaps in pow() at the cost of that guarantee.

    Scale shape: one domains-sized aggregate (map-side combine, output
    rows = #domains) is the only corpus pass; it is checkpointed (small
    collapse point) so the totals pass and the final plan never re-scan
    the corpus.
    """
    counts = materialize(
        df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n_total"))
    w = counts.crossJoin(F.broadcast(tot)).withColumn(
        "weight",
        F.floor(
            F.lit(1000000.0) * F.sqrt(F.col("n_docs") / F.col("n_total"))
        ).cast("long"),
    )
    wtot = w.agg(F.sum("weight").cast("long").alias("w_total"))
    return (
        w.crossJoin(F.broadcast(wtot))
        .select(
            domain_col,
            "n_docs",
            "weight",
            F.expr("(1000000 * weight) div w_total").alias("share_e6"),
            F.expr(
                f"(((n_total * {int(target_frac_e6)}) div 1000000) * weight)"
                " div w_total"
            ).alias("quota"),
        )
        .withColumn(
            "rate_e6",
            F.least(
                F.lit(1000000).cast("long"),
                F.expr("(1000000 * quota) div n_docs"),
            ),
        )
    )


def apply_mix_gate(
    df: DataFrame, id_col: str, domain_col: str, rates: DataFrame
) -> DataFrame:
    """Apply a ``temperature_rates`` plan: deterministic portable-hash gate
    (md5-based, engine-portable, no RNG state) — keep a row iff
    hash('mix:' || id) mod 1e6 < its domain's rate_e6.  The rates side is
    #domains rows -> broadcast; the gate is a filter in the scan stage."""
    from ago_sisdb_spark.operators.dedup import portable_hash60

    gate = portable_hash60(
        F.concat(F.lit("mix:"), F.col(id_col).cast("string"))
    ) % 1000000
    return (
        df.join(F.broadcast(rates.select(domain_col, "rate_e6")), domain_col)
        .where(gate < F.col("rate_e6"))
        .drop("rate_e6")
    )


def prep_funnel(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pipeline observability for ``full_prep_pipeline``: every document
    tagged with the FIRST stage that drops it — exact_dup → near_dup →
    eval_holdout → decontam → quality → kept (the same stage order and
    the same oracle-proven drop sets as the pipeline itself) — then one
    count per stage.  The funnel answers "where did my corpus go"
    without re-running the pipeline once per stage.

    Scale shape: ONE tagged pass — the three drop-id sets are
    near-dup-graph / contam-sized (AQE broadcasts them into left joins on
    the id), the two expression gates ride the scan, and the only
    corpus-keyed work is what the pipeline's own stages already do.
    """
    from ago_sisdb_spark.operators import dedup, text as textops

    did = F.col(id_col)
    xdrop = dedup.exact_dup_drop_ids(docs, id_col, text_col).withColumn(
        "__x", F.lit(1)
    )
    nddrop = dedup.minhash_lsh_drop_ids(
        docs, id_col, text_col, shingle_k=3, num_hashes=32, bands=8,
        min_words=3,
    ).withColumn("__n", F.lit(1))
    w3 = F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= 3
    contam = (
        decontaminate(
            docs.where((F.pmod(did, F.lit(97)) != 0) & w3),
            docs.where((F.pmod(did, F.lit(97)) == 0) & w3),
            id_col, text_col, ngram=3, max_doc_freq=50,
        )
        .where(F.col("n_shared_shingles") >= 3)
        .select(F.col("train_id").alias(id_col))
        .withColumn("__c", F.lit(1))
    )
    quality_ok = (F.length(text_col) >= 50) & (
        textops.punct_ratio(F.col(text_col)) < 0.10
    )
    stage = (
        F.when(F.col("__x").isNotNull(), "exact_dup")
        .when(F.col("__n").isNotNull(), "near_dup")
        .when(F.pmod(did, F.lit(97)) == 0, "eval_holdout")
        .when(F.col("__c").isNotNull(), "decontam")
        .when(~quality_ok, "quality")
        .otherwise("kept")
    )
    tagged = (
        docs.select(did, F.col(text_col))
        .join(xdrop, id_col, "left")
        .join(nddrop, id_col, "left")
        .join(contam, id_col, "left")
        .select(stage.alias("stage"))
    )
    return tagged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_docs"))


def plan_compaction(
    files: DataFrame,
    partition_cols: list[str],
    size_col: str,
    order_cols: list[str],
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planning — the maintenance job behind the
    reference's explicit ``save``/merge pass (sisdb_disk.c save→pack) and
    every parquet lake's OPTIMIZE: assign each input file to an output
    slot so slots approach ``target_bytes``.

    Sequential first-fit in ``order_cols`` order WITHIN each storage
    partition:  slot(f) = floor(bytes_before_f_in_partition / target) —
    the same running-sum window shape as ``pack_sequences``, partitioned
    by the storage partition so 1000 executors plan 1000 partitions
    independently (no global sort, no driver loop, deterministic at any
    parallelism).  Ordering by file key keeps row ranges contiguous, so
    min/max column stats stay selective after the rewrite.

    Input is the file INVENTORY (one row per file: partition cols, sort
    key, size) — listing-table scale, never data scale.  Returns the
    inventory plus ``slot`` (bigint); downstream the actual rewrite is
    one read-shuffle-write per slot.  Integer-exact: oracle-checkable
    with a window cumsum."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return files.withColumn(
        "slot", F.floor(before / F.lit(target_bytes)).cast("long")
    )


# --- Z-order (Morton) clustering layout --------------------------------------

def zorder_key(qx, qy, bits: int = 8):
    """Morton/Z-order key from two already-quantized non-negative integer
    columns (each < 2**bits): interleave the bits so rows close in BOTH
    dimensions get close keys.  A fixed expression tree of shiftright/
    shiftleft/& terms — pure codegen, engine-portable verbatim (DuckDB
    spells the same tree with >>/<</&), exact int64 for bits <= 31.

    This is the layout trick behind Delta/Iceberg OPTIMIZE ZORDER: sort
    or range-partition by the key before writing and min/max file stats
    become selective for predicates on EITHER column — single-column
    sorting gives pruning on that column only."""
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    terms = []
    for i in range(bits):
        terms.append(
            f"shiftleft(shiftright({qx}, {i}) & 1, {2 * i})"
            f" + shiftleft(shiftright({qy}, {i}) & 1, {2 * i + 1})"
        )
    return F.expr(" + ".join(terms)).cast("long")


def quantize_minmax(col: Column, cmin: Column, cmax: Column, bits: int = 8):
    """Min-max quantization of an integer column into [0, 2**bits):
    ``((x - min) * (2**bits - 1)) div nullif(max - min, 0)`` — exact
    integer arithmetic, constant-range degenerates to bucket 0.  The
    min/max come from one tiny aggregate the caller broadcasts."""
    top = F.lit((1 << bits) - 1)
    n = (col - cmin) * top
    d = F.nullif((cmax - cmin), F.lit(0))
    # exact integer floor-div without F.expr (these are Column objects):
    # (n - n%d)/d is an exact integer ratio, so the double division is
    # exact and the cast cannot straddle a rounding boundary (the float
    # `/`-then-cast form can round 84.999... up to 85 — engine-divergent)
    return F.coalesce(((n - F.pmod(n, d)) / d).cast("long"), F.lit(0))


def zorder_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    bucket_shift: int = 10,
) -> DataFrame:
    """Z-order layout audit: quantize (x, y) to ``bits`` bits each via one
    broadcast min/max aggregate, interleave into the Morton key, group
    into ``z >> bucket_shift`` layout buckets (= the files a ZORDER
    rewrite would cut), and report per bucket the row count and the
    min/max of BOTH raw columns — the exact numbers a reader's
    stats-based pruning would consult.  Tight per-bucket ranges on both
    columns are the whole point; a single-column sort gives tight ranges
    on one column and full-span ranges on the other (pinned by the
    pytest).

    One corpus scan + one bucket-keyed aggregate; the min/max aggregate
    is a 1-row broadcast.  Returns (bucket, n_rows, x_min, x_max, y_min,
    y_max)."""
    mm = df.agg(
        F.min(x_col).alias("__xmin"), F.max(x_col).alias("__xmax"),
        F.min(y_col).alias("__ymin"), F.max(y_col).alias("__ymax"),
    )
    q = df.crossJoin(F.broadcast(mm)).select(
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        quantize_minmax(F.col(x_col), F.col("__xmin"), F.col("__xmax"), bits)
        .alias("__qx"),
        quantize_minmax(F.col(y_col), F.col("__ymin"), F.col("__ymax"), bits)
        .alias("__qy"),
    )
    z = q.select(
        "__x", "__y", zorder_key("__qx", "__qy", bits).alias("__z")
    )
    return (
        z.groupBy(
            F.shiftright(F.col("__z"), bucket_shift).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("__x").cast("long").alias("x_min"),
            F.max("__x").cast("long").alias("x_max"),
            F.min("__y").cast("long").alias("y_min"),
            F.max("__y").cast("long").alias("y_max"),
        )
    )

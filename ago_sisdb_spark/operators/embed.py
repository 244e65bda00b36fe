"""Embedding pooling: per-class centroids and nearest-class-mean scoring.

Class centroids (mean embedding per label) are the workhorse prototype
structure of a training-data pipeline: SemDeDup-style cluster screening
seeds from them, nearest-class-mean (NCM) classification audits label
quality (Mensink et al., ECCV 2012 — a strong no-training baseline), and
per-class mean vectors feed drift monitoring between corpus snapshots.

Scale shapes:

- ``class_centroids``: posexplode(dim) feeds DIRECTLY into a partial
  HashAggregate in the same stage — the generated (label, dim) rows are
  pipelined, never materialized, and the shuffle carries ≤ labels×dim
  rows per map partition.  No collect, no vector assembly on the driver.
- ``ncm_confusion``: the relational dot product — vector dims equi-join
  centroid dims on dim_idx (centroid side broadcast: labels×dim rows),
  partial-sum per (vector, candidate label).  Vectors never shuffle
  whole; the argmax is a per-vector window over #labels candidate rows.

Reference parity: none (the reference's ANN header is dead code,
`src/core/ai/sis_ai_ann.h`); §2.11 beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ago_sisdb_spark.materialize import materialize


def class_centroids(
    emb: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """(label, dim_idx, n_vecs, mean_val): the per-class mean embedding in
    exploded (long) form — the join-ready layout for relational dot
    products; ``F.transform(F.array_sort(...))`` re-assembles arrays when
    an array form is needed."""
    d = emb.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("dim_idx", "v"),
    )
    return d.groupBy(label_col, "dim_idx").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg(F.col("v").cast("double")).alias("mean_val"),
    )


def ncm_confusion(
    emb: DataFrame,
    id_col: str,
    label_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Nearest-class-mean audit: assign every vector to its cosine-nearest
    class centroid and report the (label, pred_label, n_vecs) confusion
    counts — diagonal mass = label/embedding agreement, off-diagonal
    hotspots = suspect labels or entangled classes.

    ``centroids`` defaults to ``class_centroids`` of the same corpus
    (leave-in evaluation, the standard corpus-audit form).  All math is
    relational: dims equi-join broadcast centroid dims, one partial-summed
    dot product per (vector, candidate), row_number argmax.  Ties break
    toward the smaller label (deterministic).
    """
    cent = centroids if centroids is not None else class_centroids(
        emb, label_col, vec_col
    )
    cent = cent.select(
        F.col(label_col).alias("cand"), "dim_idx", "mean_val"
    )
    # centroid L2 norms (labels-sized)
    cnorm = cent.groupBy("cand").agg(
        F.sqrt(F.sum(F.col("mean_val") * F.col("mean_val"))).alias("cn")
    )
    dims = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim_idx", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    vnorm = dims.groupBy("vid").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn")
    )
    dot = (
        dims.join(F.broadcast(cent), "dim_idx")
        .groupBy("vid", "label", "cand")
        .agg(F.sum(F.col("v") * F.col("mean_val")).alias("dp"))
    )
    scored = (
        dot.join(vnorm, "vid")
        .join(F.broadcast(cnorm), "cand")
        .withColumn(
            "cos",
            F.when(
                (F.col("vn") > 0) & (F.col("cn") > 0),
                F.col("dp") / (F.col("vn") * F.col("cn")),
            ).otherwise(F.lit(-2.0)),
        )
    )
    w = Window.partitionBy("vid").orderBy(F.desc("cos"), F.asc("cand"))
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.groupBy(F.col("label"), F.col("cand").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def centroid_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-class distribution drift between two corpus snapshots: cosine
    and L2 distance between each label's centroid in snapshot A vs B —
    the embedding-space counterpart of the data-card diff a pipeline runs
    before accepting a refreshed corpus (a label whose centroid swings is
    a changed class: new topic mix, collection bug, poisoning).

    Returns (label, n_a, n_b, cos_ab, l2_shift).  Cost: two centroid
    aggregates (≤ labels×dim rows each) joined on (label, dim) — nothing
    corpus-sized after the pooling passes.
    """
    a = class_centroids(emb_a, label_col, vec_col).select(
        F.col(label_col), "dim_idx",
        F.col("n_vecs").alias("na"), F.col("mean_val").alias("ma"),
    )
    b = class_centroids(emb_b, label_col, vec_col).select(
        F.col(label_col), "dim_idx",
        F.col("n_vecs").alias("nb"), F.col("mean_val").alias("mb"),
    )
    j = a.join(b, [label_col, "dim_idx"])
    agg = j.groupBy(label_col).agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(F.col("ma") * F.col("mb")).alias("dp"),
        F.sqrt(F.sum(F.col("ma") * F.col("ma"))).alias("nma"),
        F.sqrt(F.sum(F.col("mb") * F.col("mb"))).alias("nmb"),
        F.sqrt(F.sum((F.col("ma") - F.col("mb")) ** 2)).alias("l2"),
    )
    return agg.select(
        label_col,
        "n_a",
        "n_b",
        F.round(
            F.when(
                (F.col("nma") > 0) & (F.col("nmb") > 0),
                F.col("dp") / (F.col("nma") * F.col("nmb")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cos_ab"),
        F.round("l2", 6).alias("l2_shift"),
    )


def quantize_int8_report(
    emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-vector int8 affine quantization audit: codes = floor((x − lo) /
    scale + 0.5) with scale = (hi − lo)/255 — the storage form that cuts
    float32 embedding columns 4× (the poor man's n7 PQ: no codebooks, no
    training, error bounded by scale/2 per element).

    Returns (id, lo, hi, scale, code_sum, max_abs_err): the code checksum
    and reconstruction-error bound make the quantizer auditable without
    shipping the code arrays through the gate.  All math is per-row HOF
    work over the materialized array (no shuffle at all); `floor(r + 0.5)`
    instead of `round()` because identical doubles floor identically in
    every engine while round() algorithms differ on exact .5 boundaries
    (the r5 t18 lesson).  A constant vector (hi == lo) quantizes to all
    zeros with zero error.
    """
    base = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).withColumn("__lo", F.array_min("__v")).withColumn(
        "__hi", F.array_max("__v")
    ).withColumn(
        "__scale",
        F.when(
            F.col("__hi") > F.col("__lo"),
            (F.col("__hi") - F.col("__lo")) / F.lit(255.0),
        ).otherwise(F.lit(0.0)),
    )
    q = F.when(
        F.col("__scale") > 0,
        F.expr("transform(__v, x -> CAST(floor((x - __lo) / __scale + 0.5d) AS BIGINT))"),
    ).otherwise(F.expr("transform(__v, x -> CAST(0 AS BIGINT))"))
    with_q = base.withColumn("__q", q)
    err = F.expr(
        "array_max(zip_with(__v, __q, (x, c) -> abs(x - (__lo + c * __scale))))"
    )
    return with_q.select(
        id_col,
        F.round("__lo", 6).alias("lo"),
        F.round("__hi", 6).alias("hi"),
        F.round("__scale", 6).alias("scale"),
        F.expr("aggregate(__q, CAST(0 AS BIGINT), (a, x) -> a + x)").alias("code_sum"),
        F.round(err, 6).alias("max_abs_err"),
    )


def sign_words(vec, dim: int = 64):
    """Pack the sign bits of a ``dim``-wide embedding into two unsigned
    32-bit halves carried as BIGINTs (lo = dims 1..32, hi = 33..64) —
    engine-portable (no sign-bit games with a single 64-bit word) and
    exact: bit i is 1 iff v[i] > 0.  Returns (lo_col, hi_col)."""
    assert dim == 64, "sign sketch is fixed at 64 dims (two 32-bit words)"
    bits = F.transform(vec, lambda x: F.when(x > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")))
    pows = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    lo = F.aggregate(
        F.zip_with(F.slice(bits, 1, 32), pows, lambda b, p: b * p),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    hi = F.aggregate(
        F.zip_with(F.slice(bits, 33, 32), pows, lambda b, p: b * p),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return lo, hi


def hamming_vs_cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Binary sign-sketch ANN audit (Charikar SimHash applied to stored
    embeddings): 1 bit per dimension (32x smaller than float32), Hamming
    distance as the search metric, ranked side-by-side with the exact
    cosine over the SAME pairs.  Returns the union of both top-k sets per
    probe with both ranks, so recall@k of the binary sketch reads directly
    off the rows (rank_h <= k AND rank_c <= k).

    Scale shape: one corpus pass (broadcast probes); the packed words are
    computed in the scan projection; BOTH rankings share one
    hash-partitioning on the probe id (two sorts, one exchange — Spark
    reuses the window exchange); output is <= 2k rows per probe.  At
    serving scale only the two BIGINT words need storing; this operator is
    the go/no-go audit, same role as the matryoshka audit (e6)."""
    plo, phi = sign_words(F.col("__pvec"), dim)
    clo, chi = sign_words(F.col("__cvec"), dim)
    from ago_sisdb_spark.operators.similarity import cosine

    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("__pvec")
    ).select("probe_id", "__pvec", plo.alias("__plo"), phi.alias("__phi"))
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
        .crossJoin(F.broadcast(p))
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            cosine(F.col("__cvec"), F.col("__pvec")).alias("__cos"),
            clo.alias("__clo"),
            chi.alias("__chi"),
            F.col("__plo"),
            F.col("__phi"),
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.expr("bit_count(__plo ^ __clo) + bit_count(__phi ^ __chi)")
            .cast("long")
            .alias("hamming"),
            F.col("__cos"),
        )
    )
    wh = Window.partitionBy("probe_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    wc = Window.partitionBy("probe_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    ranked = scored.select(
        "probe_id",
        "neighbor_id",
        "hamming",
        F.round("__cos", 6).alias("cos_score"),
        F.row_number().over(wh).cast("long").alias("rank_h"),
        F.row_number().over(wc).cast("long").alias("rank_c"),
    )
    return ranked.where((F.col("rank_h") <= k) | (F.col("rank_c") <= k))


def hard_negative_mining(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    probe_id_col: str,
    k: int = 3,
) -> DataFrame:
    """Contrastive training-pair mining for embedding models: per anchor
    (probe), the top-k SAME-label neighbors (positives) and the top-k
    highest-scoring WRONG-label neighbors (hard negatives — the pairs
    that actually move a contrastive loss, vs easy random negatives).

    Returns (probe_id, kind 'pos'|'neg', rank, neighbor_id, label, score).

    Scale shape: the n1 broadcast-probe corpus scan; ONE window partitioned
    by (probe, kind) ranks both sets — no second pass, no label-side
    shuffle (labels ride the scan projection)."""
    from ago_sisdb_spark.operators.similarity import cosine

    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.col(label_col).alias("__plabel"),
        F.col(vec_col).alias("__pvec"),
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("__clabel"),
            F.col(vec_col).alias("__cvec"),
        )
        .crossJoin(F.broadcast(p))
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.when(F.col("__clabel") == F.col("__plabel"), "pos")
            .otherwise("neg")
            .alias("kind"),
            "neighbor_id",
            F.col("__clabel").cast("long").alias("label"),
            cosine(F.col("__cvec"), F.col("__pvec")).alias("__score"),
        )
    )
    w = Window.partitionBy("probe_id", "kind").orderBy(
        F.col("__score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "probe_id", "kind", "rank", "neighbor_id", "label",
            F.round("__score", 6).alias("score"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    vec_col: str,
    eval_id_col: str,
    threshold_e6: int = 900_000,
) -> DataFrame:
    """Embedding-space decontamination — the semantic companion to the
    n-gram overlap check (operators/prep.decontaminate): a training
    example whose embedding is near-identical to an eval example leaks
    the benchmark even when no 13-gram matches (paraphrases,
    translations, format-shuffled copies).  Published recipe: GPT-4 /
    Phi report cosine-similarity screens against eval sets beside the
    n-gram screens.

    Per corpus vector: the maximum cosine against ANY eval vector, the
    arg-max eval id (ties -> lowest eval id), and the contamination flag
    ``max_cos_e6 >= threshold_e6``.  The comparison score is EXACT
    fixed-point millionths of the cosine (floor), so the flag never sits
    on a float-rounding boundary (working-notes: round(x, 6) trap).

    Scale shape: eval sets are bounded (thousands of rows), so the eval
    side broadcasts into ONE corpus scan — no corpus-side shuffle at
    all; the per-vector max is a map-side aggregate over |eval|
    candidate rows.  At 100 TB this is the only admissible shape: the
    corpus never exchanges, and the broadcast is eval-sized.  The join
    is LEFT (condition-true BroadcastNestedLoopJoin) so an EMPTY eval
    set yields contaminated=false for every corpus row instead of
    silently annihilating the corpus side.

    Returns (id, matched_eval_id, max_cos_e6, contaminated);
    matched_eval_id / max_cos_e6 are NULL when the eval set is empty."""
    from ago_sisdb_spark.operators.similarity import cosine

    ev = eval_set.select(
        F.col(eval_id_col).alias("__eid"), F.col(vec_col).alias("__evec")
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec"))
        .join(F.broadcast(ev), F.lit(True), "left")
        .select(
            id_col,
            "__eid",
            F.floor(
                cosine(F.col("__cvec"), F.col("__evec")) * F.lit(1_000_000)
            )
            .cast("long")
            .alias("__cos_e6"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.max("__cos_e6").alias("max_cos_e6"),
        F.min_by("__eid", F.struct(-F.col("__cos_e6"), F.col("__eid")))
        .cast("long")
        .alias("matched_eval_id"),
    )
    return per.select(
        id_col,
        "matched_eval_id",
        "max_cos_e6",
        F.coalesce(
            F.col("max_cos_e6") >= F.lit(threshold_e6), F.lit(False)
        ).alias("contaminated"),
    )


def _bitext_fwd_partials_udf(src_ids, src_mat, k: int):
    """Forward-kNN partials for ``bitext_margin_mine``: per Arrow batch
    of (tgt_id, __tv), the exact-fold cosine block against the bounded
    src matrix, floored to e6 ints (bit-identical to the expression
    form — ``similarity.fold_cosine_block``), and only each src's
    batch-local top-k (cos_e6 desc, tgt_id asc) is emitted with the tgt
    vector for the backward pass.  Arrow output is ≤ batches·|src|·k
    rows, never the |src|×|tgt| cross product."""
    import numpy as np
    import pandas as pd

    from ago_sisdb_spark.operators.similarity import (
        VEC_BLOCK_ROWS,
        fold_cosine_block,
        fold_norms,
        mat_blocks,
    )

    snorm = fold_norms(src_mat) if len(src_mat) else None
    m = len(src_ids)
    block = VEC_BLOCK_ROWS

    def gen(batches):
        for pdf in batches:
            if m == 0 or len(pdf) == 0:
                continue
            tids = pdf["tgt_id"].to_numpy(dtype=np.int64)
            order0 = np.argsort(tids, kind="stable")
            tids = tids[order0]
            raw = pdf["__tv"].to_numpy()[order0]
            x = np.vstack(raw).astype(np.float64)
            # src blocks bound the (batch × src) intermediate — the
            # forward top-k is per src COLUMN, so block partials are the
            # one-pass partials bit-for-bit (an oversized-but-capped src
            # shard degrades to several exact passes, r13 verdict #2)
            for sids_b, smat_b, snorm_b in mat_blocks(
                src_ids, src_mat, snorm, block
            ):
                mb = len(sids_b)
                e6 = np.floor(
                    fold_cosine_block(x, smat_b, snorm_b) * 1_000_000
                ).astype(np.int64)
                take = min(k, len(tids))
                sel = np.argsort(-e6, axis=0, kind="stable")[:take, :]
                rows_flat = sel.T.ravel()
                cols_flat = np.repeat(np.arange(mb), take)
                yield pd.DataFrame(
                    {
                        "src_id": sids_b[cols_flat],
                        "tgt_id": tids[rows_flat],
                        "cos_e6": e6[rows_flat, cols_flat],
                        "__tv": pd.Series(list(x[rows_flat])),
                    }
                )

    return gen


def _bitext_back_sums_udf(src_mat, k: int):
    """Backward-kNN aggregates for ``bitext_margin_mine``: per candidate
    (tgt) row, the sum and count of its top-k e6 cosines over the
    bounded src side.  Entirely row-local (no cross-partition merge) and
    tie-invariant — ties only occur among EQUAL cos_e6 values, so the
    top-k integer sum is independent of which tied member is kept."""
    import numpy as np
    import pandas as pd

    from ago_sisdb_spark.operators.similarity import (
        VEC_BLOCK_ROWS,
        fold_cosine_block,
        fold_norms,
        mat_blocks,
    )

    snorm = fold_norms(src_mat) if len(src_mat) else None
    m = len(src_mat)
    block = VEC_BLOCK_ROWS

    ids_dummy = np.arange(m, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if m == 0 or len(pdf) == 0:
                continue
            x = np.vstack(pdf["__tv"].to_numpy()).astype(np.float64)
            take = min(k, m)
            # per-row top-k over src, merged across src blocks: the
            # running (rows × take) candidate set keeps the largest
            # values seen so far — the top-take of a union of blocks IS
            # the top-take overall, and the SUM of top-k is tie-invariant
            # (ties are equal values), so block merging is value-exact
            best = None
            for _, smat_b, snorm_b in mat_blocks(
                ids_dummy, src_mat, snorm, block
            ):
                e6_b = np.floor(
                    fold_cosine_block(x, smat_b, snorm_b) * 1_000_000
                ).astype(np.int64)
                cand = (
                    e6_b
                    if best is None
                    else np.concatenate([best, e6_b], axis=1)
                )
                if cand.shape[1] > take:
                    cand = np.sort(cand, axis=1)[:, -take:]
                best = cand
            top = np.sort(best, axis=1)[:, -take:]
            yield pd.DataFrame(
                {
                    "tgt_id": pdf["tgt_id"].to_numpy(dtype=np.int64),
                    "sum_y_e6": top.sum(axis=1),
                    "n_y": np.full(len(x), take, dtype=np.int64),
                }
            )

    return gen


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    threshold_e6: int = 1_050_000,
) -> DataFrame:
    """Margin-based parallel-pair mining over two embedding sets — the
    published CCMatrix/LASER recipe (Artetxe & Schwenk 2019, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings"): a raw
    cosine threshold can't separate translations from generically-similar
    sentences in dense regions, so each candidate pair is scored by its
    cosine RELATIVE to the two sides' neighborhood density:

        margin(x, y) = cos(x, y) / avg(kNN-cos(x in tgt) ∪ kNN-cos(y in src))

    'max' strategy: per src vector, the best-margin candidate is ``mined``
    when its margin clears ``threshold_e6`` (ratio > 1 ⇒ closer than the
    neighborhood average).

    Exactness contract (the e9 convention): every pair cosine is floored
    to integer millionths; neighborhood sums are INTEGER sums (order-
    free); the margin is one truncating integer division guarded to
    non-negative numerator / positive denominator (where truncation ==
    floor == DuckDB ``//``), so the whole score is hash-portable with no
    planted input.  Degenerate neighborhoods (cos_e6 < 0 or non-positive
    denominator) yield NULL margin and mined=false.

    Scale shape: ``src`` is the bounded side (a query batch, one
    language's shard) and rides into every task in the kernel closure
    (the IVF centroid precedent) — the ``tgt`` corpus never exchanges
    beyond ≤ partitions·|src|·k candidate partials; the backward-kNN
    pass runs over the candidate set (≤ |src|·k rows) map-side.  Both
    cosine passes are numpy block kernels (r13 — the r4/r5 vectorized-
    mapInPandas lesson; the interpreted zip_with/aggregate form was the
    suite's most expensive kernel at ~3× the next) built on
    ``similarity.fold_cosine_block``, which replays the expression
    tree's exact sequential fold — every cos_e6 is bit-identical to the
    interpreted form and the DuckDB twin, so the hash gate needs no
    plant.  The forward frame is the SMALL collapse point three
    consumers read (sum_x, the backward candidates, the final pair
    join), so it is eagerly pinned (``materialize``, the r7
    two-consumer rule).  Symmetric large×large mining composes this
    with the sign-sketch buckets (``sign_sketch_topk`` / e7): mine
    within buckets, union.

    Returns (src_id, tgt_id, rank, cos_e6, sum_x_e6, sum_y_e6,
    margin_e6, mined) — one row per forward top-k candidate.

    Reference: no analogue (beyond-reference LLM-data surface)."""
    from ago_sisdb_spark.operators.similarity import collect_vec_matrix

    src_ids, src_mat = collect_vec_matrix(src, id_col, vec_col)
    ty = tgt.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("__tv")
    )
    partials = ty.mapInPandas(
        _bitext_fwd_partials_udf(src_ids, src_mat, k),
        "src_id long, tgt_id long, cos_e6 long, __tv array<double>",
    )
    wf = Window.partitionBy("src_id").orderBy(
        F.col("cos_e6").desc(), "tgt_id"
    )
    fwd = partials.withColumn(
        "rank", F.row_number().over(wf).cast("long")
    ).where(F.col("rank") <= k)
    # ≤ |src|·k rows incl. __tv — the bounded collapse point; pin it so
    # the three consumers below never re-run the corpus-wide top-k
    fwd = materialize(fwd)
    sumx = fwd.groupBy("src_id").agg(
        F.sum("cos_e6").alias("sum_x_e6"),
        F.count(F.lit(1)).alias("n_x"),
    )
    # backward kNN over the bounded candidate set: each candidate's
    # top-k neighborhood over src is a per-ROW top-k (no cross-partition
    # merge), and the top-k SUM is tie-invariant (ties only occur among
    # equal cos_e6 values), so the kernel emits the final integer
    # aggregates directly — same fold, bit-identical cosines
    cands = fwd.select("tgt_id", "__tv").dropDuplicates(["tgt_id"])
    sumy = cands.mapInPandas(
        _bitext_back_sums_udf(src_mat, k),
        "tgt_id long, sum_y_e6 long, n_y long",
    )
    num = F.col("cos_e6") * (F.col("n_x") + F.col("n_y")) * F.lit(1_000_000)
    den = F.col("sum_x_e6") + F.col("sum_y_e6")
    margin = F.when(
        (F.col("cos_e6") >= 0) & (den > 0), F.call_function("div", num, den)
    )
    pairs = (
        fwd.drop("__tv")
        .join(F.broadcast(sumx), "src_id")
        .join(F.broadcast(sumy), "tgt_id")
        .withColumn("margin_e6", margin.cast("long"))
    )
    wm = Window.partitionBy("src_id").orderBy(
        F.col("margin_e6").desc_nulls_last(), "tgt_id"
    )
    return pairs.withColumn(
        "mined",
        (F.row_number().over(wm) == 1)
        & F.coalesce(
            F.col("margin_e6") >= F.lit(threshold_e6), F.lit(False)
        ),
    ).select(
        "src_id", "tgt_id", "rank", "cos_e6",
        "sum_x_e6", "sum_y_e6", "margin_e6", "mined",
    )


def cluster_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Nearest-centroid cluster id per vector as a projection over the
    scan (the IVF assignment kernel, ``similarity.nearest_centroids``):
    centroids are k×dim by definition — driver-small — so assignment
    must never touch a shuffle or a crossJoin.  Ranking is (cosine DESC,
    centroid_id ASC), ties pinned; a NULL vector gets a NULL cluster.

    ``centroids`` defaults to the training-free deterministic seed (the
    ``n_clusters`` lowest-id vectors); pass a trained table
    (similarity.train_centroids / build_ivf_index read-back) in
    production.  Returns (id, cluster)."""
    from ago_sisdb_spark.operators.similarity import (
        _collect_centroids,
        nearest_centroids,
    )

    cent = (
        centroids
        if centroids is not None
        else emb.orderBy(F.col(id_col))
        .limit(n_clusters)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("__cent"),
        )
    )
    nearest = nearest_centroids(_collect_centroids(cent), 1)
    return emb.select(
        F.col(id_col),
        F.element_at(nearest(F.col(vec_col)), 1).alias("cluster"),
    )


def cluster_balanced_mix(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    target_frac_e6: int = 500_000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space DIVERSITY rebalancing — the cluster-level
    counterpart of pipe12's domain temperature mix (SemDeDup / DataComp
    recipe family: cluster the corpus in embedding space, then sample
    clusters at flattened rates so a few mega-clusters of near-identical
    content can't dominate the training mix):

    1. ``cluster_assign`` — one shuffle-free corpus projection;
    2. ``prep.temperature_rates`` over the cluster id — alpha = 0.5
       sqrt-flattened integer-exact quotas against a
       ``target_frac_e6``/1e6 corpus budget (the one exponent with a
       correctly-rounded primitive);
    3. ``prep.apply_mix_gate`` — the deterministic portable-hash gate.

    Returns one AUDIT row per cluster: (cluster, n_docs, weight,
    share_e6, quota, rate_e6, n_kept) — the plan plus the achieved kept
    count.  Scale shape: two corpus passes by construction (mass
    aggregate, then gate), the clusters-sized plan broadcasts, no
    corpus-wide shuffle anywhere.

    Reference: no analogue (beyond-reference LLM-data surface)."""
    from ago_sisdb_spark.operators import prep

    assigned = cluster_assign(emb, id_col, vec_col, n_clusters, centroids)
    rates = prep.temperature_rates(assigned, "cluster", target_frac_e6)
    kept = (
        prep.apply_mix_gate(assigned, id_col, "cluster", rates)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "cluster", "left")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_docs", "weight", "share_e6", "quota", "rate_e6",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def _sign_band_keys(vec, bands: int, band_bits: int):
    """Array of ``bands`` integer band keys from the vector's sign bits
    (bit j of band b = 1 iff vec[b*band_bits + j] > 0) — the e7 Charikar
    sketch cut into LSH bands.

    Dimensions past the end of the vector contribute bit 0 (the
    ``coalesce`` below): ``zip_with`` null-pads the shorter side, and an
    unguarded ``bit * p`` would turn the WHOLE band key NULL — the row
    would silently vanish from the bucket equi-join while the DuckDB
    oracle's out-of-range index yields 0 (``CASE … ELSE 0``).  Matching
    the oracle's ELSE-0 exactly keeps engine and oracle in lockstep even
    when ``bands*band_bits`` overruns the vector (short trailing bands
    then carry fewer effective bits — degraded selectivity, not silent
    row loss; r12, ADVICE fix)."""
    bits = F.transform(
        vec,
        lambda x: F.when(x > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    pows = F.array(*[F.lit(1 << j).cast("long") for j in range(band_bits)])
    return F.array(*[
        F.aggregate(
            F.zip_with(
                F.slice(bits, b * band_bits + 1, band_bits),
                pows,
                lambda bit, p: F.coalesce(bit, F.lit(0).cast("long")) * p,
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        for b in range(bands)
    ])


def bitext_margin_mine_bucketed(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    threshold_e6: int = 1_050_000,
    bands: int = 4,
    band_bits: int = 8,
    max_bucket_size: int = 1000,
    log_drops: bool = False,
) -> DataFrame:
    """SYMMETRIC (large × large) margin-based bitext mining — the scale
    path ``bitext_margin_mine``'s docstring promises: neither side
    broadcasts.  Both sides key by the ``bands`` × ``band_bits`` LSH
    bands of the per-dimension sign sketch (two translations have highly
    correlated embeddings, hence mostly-equal sign bits, hence a shared
    band with probability rising in ``bands``); candidates are the plain
    EQUI JOIN within (band, key) buckets, each pair kept once at its
    lowest shared band (a window over the pair key — candidate-bounded,
    never a distinct over vectors).

    ``max_bucket_size`` caps per-(band, key) bucket occupancy on EACH
    side before the join (``dedup.cap_bucket_fanout``, the house O(m²)
    insurance every banded candidate join carries): a degenerate sign
    pattern — zero vectors, constant embedding regions — produces a
    mega-bucket no ``band_bits`` tuning anticipates, and one m-member
    bucket against its twin emits m² candidate rows.  The cap's count
    window hash-partitions by exactly the join keys, so Catalyst adds no
    extra shuffle (r12; measured recall cost at the production cap is
    zero on the real corpus — tools/measure_cap_recall.py).

    Margins use CANDIDATE-LOCAL neighborhoods (each side's top-k among
    its bucketed candidates) — the standard approximation: global-kNN
    margins would need exactly the all-pairs pass bucketing exists to
    avoid.  Scoring is the same exact-integer e6 tree as the brute
    variant, so the full plan (bits → bands → join → margins) is
    hash-checkable in SQL on real data.

    Shuffle shape at 100 TB: each side exchanges once on (band, key) —
    bands× replication of (id, vec) rows; per-bucket occupancy is
    controlled by ``band_bits`` (raise it as the corpus grows, the d6
    rule); everything downstream is candidate-bounded.

    Returns (src_id, tgt_id, band, rank, cos_e6, sum_x_e6, sum_y_e6,
    margin_e6, mined)."""
    from ago_sisdb_spark.operators.dedup import cap_bucket_fanout
    from ago_sisdb_spark.operators.similarity import cosine

    def _bandrows(df, out_id):
        rows = df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(f"__{out_id}_v"),
            F.posexplode(
                _sign_band_keys(F.col(vec_col), bands, band_bits)
            ).alias("band", "key"),
        )
        return cap_bucket_fanout(
            rows, ["band", "key"], max_bucket_size, log_drops,
            f"e12_bands_{out_id}",
        )

    cand = _bandrows(src, "src_id").join(
        _bandrows(tgt, "tgt_id"), ["band", "key"]
    )
    wp = Window.partitionBy("src_id", "tgt_id")
    cand = cand.withColumn("__minb", F.min("band").over(wp)).where(
        F.col("band") == F.col("__minb")
    )
    scored = cand.select(
        "src_id",
        "tgt_id",
        F.col("band").cast("long").alias("band"),
        F.floor(
            cosine(F.col("__src_id_v"), F.col("__tgt_id_v"))
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("cos_e6"),
    )
    # Neighborhood sums ride the SAME window exchanges that compute the
    # ranks (r12 dupscan fix): the candidate lineage (scan → sign bands →
    # cap → bucket join → pair dedup) is the expensive subplan, and the
    # old groupBy(sumx)/groupBy(sumy)/pairs consumers re-executed it
    # THREE times plus two join-back shuffles (exchange reuse does not
    # span separate consumers — the r7 trap, invisible in local wall
    # time).  Chained same-partition windows compute rank AND the
    # rank-gated sum/count in one exchange per side: one src_id
    # exchange (rank, sum_x, n_x), one tgt_id exchange (rb, sum_y,
    # n_y), then the mined window re-uses src_id partitioning — the
    # candidate table is exchanged 3× total instead of its lineage
    # running 3× end to end.
    wf = Window.partitionBy("src_id").orderBy(
        F.col("cos_e6").desc(), "tgt_id"
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_e6").desc(), "src_id"
    )
    wsp = Window.partitionBy("src_id")
    wtp = Window.partitionBy("tgt_id")
    by_src = scored.select(
        "*", F.row_number().over(wf).cast("long").alias("rank")
    ).select(
        "*",
        F.sum(F.when(F.col("rank") <= k, F.col("cos_e6")))
        .over(wsp).alias("sum_x_e6"),
        F.count(F.when(F.col("rank") <= k, F.lit(1)))
        .over(wsp).alias("n_x"),
    )
    by_tgt = by_src.select(
        "*", F.row_number().over(wb).alias("__rb")
    ).select(
        "*",
        F.sum(F.when(F.col("__rb") <= k, F.col("cos_e6")))
        .over(wtp).alias("sum_y_e6"),
        F.count(F.when(F.col("__rb") <= k, F.lit(1)))
        .over(wtp).alias("n_y"),
    )
    num = F.col("cos_e6") * (F.col("n_x") + F.col("n_y")) * F.lit(1_000_000)
    den = F.col("sum_x_e6") + F.col("sum_y_e6")
    pairs = (
        by_tgt.where(F.col("rank") <= k)
        .drop("__rb")
        .withColumn(
            "margin_e6",
            F.when(
                (F.col("cos_e6") >= 0) & (den > 0),
                F.call_function("div", num, den),
            ).cast("long"),
        )
    )
    wm = Window.partitionBy("src_id").orderBy(
        F.col("margin_e6").desc_nulls_last(), "tgt_id"
    )
    return pairs.withColumn(
        "mined",
        (F.row_number().over(wm) == 1)
        & F.coalesce(
            F.col("margin_e6") >= F.lit(threshold_e6), F.lit(False)
        ),
    ).select(
        "src_id", "tgt_id", "band", "rank", "cos_e6",
        "sum_x_e6", "sum_y_e6", "margin_e6", "mined",
    )

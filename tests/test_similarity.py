"""Approximate-vs-exact contracts: LSH near-dup precision, IVF/LSH ANN
recall floors against the brute-force ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark.catalog import load_table
from ago_sisdb_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").cache()


def test_lsh_neardup_subset_of_exact(spark, emb):
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(emb, "vec_id", "embedding", 0.40).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_neardup_lsh(
            emb, "vec_id", "embedding", 0.40, dim=64, bits=6, tables=8
        ).collect()
    }
    # precision 1.0 by construction (exact re-check inside candidates)
    assert approx <= exact


def test_ivf_recall_floor(spark, emb):
    probes = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5
    ).collect()
    approx = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5, n_centroids=16, nprobe=8
    ).collect()
    truth = {(r.probe_id, r.neighbor_id) for r in exact}
    got = {(r.probe_id, r.neighbor_id) for r in approx}
    # every returned neighbor exists and scores are exact cosines;
    # nprobe=8/16 lists → expect well over half the true neighbors found
    assert len(got & truth) >= len(truth) // 2
    assert all(len([g for g in got if g[0] == p]) == 5 for p in range(5))


def test_ivf_scores_match_bruteforce_on_hits(spark, emb):
    probes = emb.where(F.col("vec_id") == 0)
    exact = {
        r.neighbor_id: round(r.score, 9)
        for r in similarity.brute_force_topk(
            emb, probes, "vec_id", "embedding", "vec_id", 20
        ).collect()
    }
    approx = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5, n_centroids=16, nprobe=8
    ).collect()
    for r in approx:
        if r.neighbor_id in exact:
            assert round(r.score, 9) == exact[r.neighbor_id]


def test_lsh_topk_candidates_are_exactly_scored(spark, emb):
    """n2 contract: every (probe, neighbor) the LSH returns carries the
    exact cosine (re-ranked inside buckets), and neighbors are a subset of
    the corpus minus the probe itself."""
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.neighbor_id): round(r.score, 9)
        for r in similarity.brute_force_topk(
            emb, probes, "vec_id", "embedding", "vec_id", 500
        ).collect()
    }
    approx = similarity.lsh_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5, dim=64, bits=6
    ).collect()
    assert approx, "bucket join returned nothing"
    for r in approx:
        assert r.probe_id != r.neighbor_id
        key = (r.probe_id, r.neighbor_id)
        assert key in exact
        assert round(r.score, 9) == exact[key]


def test_lsh_topk_same_bucket_recall(spark, emb):
    """A vector always shares every bucket with itself ⇒ querying the corpus
    with its own members must return ≥1 same-bucket neighbor per probe when
    buckets are non-trivial (sanity floor, not a tuned recall claim)."""
    probes = emb.where(F.col("vec_id") < 10)
    out = similarity.lsh_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=3, dim=64, bits=4
    )
    per_probe = {r.probe_id for r in out.collect()}
    assert len(per_probe) >= 5  # 4-bit buckets: most probes find neighbors


def test_trained_centroids_recall_at_least_seeded(spark):
    """On a clustered corpus with pathological seeds (all lowest-id vectors
    in ONE cluster), Lloyd training must spread the centroids and beat the
    seeded recall at the same nprobe."""
    import random

    rnd = random.Random(5)
    dim, per = 8, 40
    centers = [[80.0 * (j == c) for j in range(dim)] for c in range(4)]
    rows = []
    # ids 0..39 all in cluster 0 → the 8 lowest-id seeds are degenerate
    for c in range(4):
        for i in range(per):
            # cluster 0 nearly point-like → the 8 lowest-id seeds are
            # near-identical, scattering every other cluster across lists
            sigma = 0.01 if c == 0 else 4.0
            vec = [centers[c][j] + rnd.gauss(0, sigma) for j in range(dim)]
            rows.append((c * per + i, vec))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache()
    probes = df.where(F.col("vec_id").isin([10, 50, 90, 130]))
    exact = similarity.brute_force_topk(
        df, probes, "vec_id", "embedding", "vec_id", 5
    ).collect()
    truth = {(r.probe_id, r.neighbor_id) for r in exact}

    def recall(train_iters):
        got = {
            (r.probe_id, r.neighbor_id)
            for r in similarity.ivf_topk(
                df, probes, "vec_id", "embedding", "vec_id", 5,
                n_centroids=8, nprobe=2, train_iters=train_iters,
            ).collect()
        }
        return len(got & truth) / len(truth)

    seeded, trained = recall(0), recall(4)
    assert trained >= seeded
    assert trained >= 0.9  # training recovers the cluster structure


def test_ivf_index_materialize_roundtrip(spark, emb, tmp_path):
    """Train/serve split: a materialized index must serve the same results
    as inline training, and serving must not re-run Lloyd (no collect-backed
    createDataFrame in the plan — the centroid side is a parquet scan)."""
    path = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(
        emb, "vec_id", "embedding", path, n_centroids=16, iters=2
    )
    cent = similarity.load_ivf_centroids(spark, path)
    assert cent is not None
    probes = emb.where(F.col("vec_id") < 3)
    served = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5,
        n_centroids=16, nprobe=4, centroids=cent,
    )
    inline = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5,
        n_centroids=16, nprobe=4, train_iters=2,
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )
    # serve shape: the k x dim index rides in the nearest_centroids
    # kernel closure, so the query plan must contain NO assignment
    # machinery at all — no crossJoin against a centroid relation, no
    # min_by SortAggregate, no corpus-wide exchange before the candidate
    # join (the only exchange left is the per-probe top-k)
    plan = served._jdf.queryExecution().optimizedPlan().toString()
    assert "min_by" not in plan and "Join Cross" not in plan
    executed = (
        served._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]  # AQE prints the plan twice
    )
    assert "SortAggregate" not in executed
    assert executed.count("Exchange hashpartitioning") == 1  # final top-k only


def test_load_ivf_centroids_missing_returns_none(spark, tmp_path):
    assert similarity.load_ivf_centroids(spark, str(tmp_path / "nope")) is None


def test_train_centroids_shape_and_convergence(spark):
    """Two tight clusters: training must move the (deliberately bad) seeds
    onto the cluster means."""
    # b tails start at 0.1 (not 0): a zero-tail b vector scores cosine 0
    # against BOTH bad seeds — a knife-edge tie whose (deterministic,
    # lowest-cid) resolution parks one centroid on the symmetric midpoint,
    # a genuine k-means local optimum rather than a training bug
    a = [[10.0, 0.0, 0.0, 0.1 * i] for i in range(8)]
    b = [[0.0, 10.0, 0.0, 0.1 * (i + 1)] for i in range(8)]
    rows = [(i, v) for i, v in enumerate(a + b)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = similarity.train_centroids(
        df, "vec_id", "embedding", n_centroids=2, iters=4
    ).collect()
    assert len(cents) == 2
    assert all(len(r["__cent"]) == 4 for r in cents)
    # one centroid per cluster direction
    dirs = sorted((r["__cent"][0] > r["__cent"][1]) for r in cents)
    assert dirs == [False, True]


def test_semdedup_pairs_subset_and_exact_scores(spark, emb):
    """d9 contract: every within-cluster pair is a TRUE cosine≥t pair
    (subset of the exact all-pairs twin — precision 1.0 by construction)
    and carries the exact score."""
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("__cent"),
        )
    )
    exact = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in similarity.cosine_pairs(
            emb, "vec_id", "embedding", 0.40
        ).collect()
    }
    got = similarity.semantic_dedup_pairs(
        emb, "vec_id", "embedding", cents, 0.40
    ).collect()
    assert got, "no within-cluster pairs found"
    for r in got:
        assert (r.id_a, r.id_b) in exact
        assert round(r.cosine, 9) == exact[(r.id_a, r.id_b)]


def test_semdedup_finds_planted_near_identicals(spark):
    """SemDeDup's actual claim: NEAR-IDENTICAL vectors (the semantic-dup
    regime, cos ≈ 1) co-cluster almost surely, so cluster-local comparison
    finds them — planted twins must be recovered ≥ 95% with trained
    centroids.  (Mid-threshold pairs straddling cluster boundaries are the
    documented miss mode — measured ~0.2-0.3 recall at cos≥0.40 on the
    synthetic corpus — which is the cost of dropping the O(n²) join.)"""
    import random

    rnd = random.Random(17)
    dim, per = 8, 30
    centers = [[60.0 * (j == c) for j in range(dim)] for c in range(4)]
    rows, planted = [], []
    nid = 0
    for c in range(4):
        for i in range(per):
            vec = [centers[c][j] + rnd.gauss(0, 3.0) for j in range(dim)]
            rows.append((nid, vec))
            if i % 10 == 0:  # plant a near-identical twin of this vector
                twin = [x + rnd.gauss(0, 0.01) for x in vec]
                rows.append((nid + 1, twin))
                planted.append((nid, nid + 1))
                nid += 2
            else:
                nid += 1
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).cache()
    cents = similarity.train_centroids(df, "vec_id", "embedding", 8, 3)
    got = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs(
            df, "vec_id", "embedding", cents, 0.999
        ).collect()
    }
    hit = sum(1 for p in planted if p in got)
    assert hit / len(planted) >= 0.95, (hit, len(planted))


def test_ann_recall_counts_hits_and_zero_fills(spark):
    from ago_sisdb_spark.operators.similarity import ann_recall

    truth = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 20), (1, 21)], "probe_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(0, 10), (0, 99), (0, 10)],  # dup approx rows must not double-count
        "probe_id long, neighbor_id long",
    )
    out = {r.probe_id: r for r in ann_recall(truth, approx, 2).collect()}
    assert (out[0].n_hits, out[0].recall) == (1, 0.5)
    assert (out[1].n_hits, out[1].recall) == (0, 0.0)  # absent probe → 0


def test_ann_recall_on_real_indexes(spark):
    """LSH and IVF recall@5 over the sf0.001 embeddings stays above floor."""
    from ago_sisdb_spark.inventory import extended_queries

    out = extended_queries()["n6_ann_recall"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert {r.method for r in rows} == {"lsh", "ivf"}
    by_m = {}
    for r in rows:
        by_m.setdefault(r.method, []).append(r.recall)
    for m, recalls in by_m.items():
        assert len(recalls) == 5
        assert sum(recalls) / len(recalls) >= 0.2, (m, recalls)


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_ann_recall_floor_all_sfs(spark, sf_dir):
    """r3 verdict #9: the n6 recall@5 harness wired into CI as a floor for
    the approximate indexes behind n2, at every scale factor — ANN quality
    regressions now fail pytest the way correctness does.  The indexes are
    seeded/deterministic, so measured recall is stable per SF (ivf
    0.92-1.0; lsh 0.92/0.96/1.00 at the r5-tuned 8 bits × 6 tables ×
    radius-2 config, up from 0.56-0.72 at r4); floors leave margin for
    data refresh."""
    import os

    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    from ago_sisdb_spark.queries.pipeline import n6_ann_recall

    rows = n6_ann_recall(spark, sf_dir).collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r.method, []).append(r.recall)
    assert set(by_method) == {"lsh", "ivf"}
    for method, recalls in by_method.items():
        assert len(recalls) == 5  # one row per probe, zero-filled if missed
    assert sum(by_method["ivf"]) / 5 >= 0.8, by_method["ivf"]
    assert sum(by_method["lsh"]) / 5 >= 0.8, by_method["lsh"]


def _ranked_lists_sql_reference(vec_sql: str, cent_rows: list, nprobe: int) -> str:
    """The retired literal-expression IVF ranking, kept verbatim as the
    reference ``nearest_centroids`` is pinned against: every centroid
    inlined as a literal array, cosine as interpreted zip_with/aggregate
    folds, ranked by ``array_sort`` over (negated cosine, cid) structs —
    (cosine DESC, centroid_id ASC)."""

    def d(x: float) -> str:
        return repr(float(x)) + "D"

    def cos_sql(v: list) -> str:
        arr = "array(" + ", ".join(d(x) for x in v) + ")"
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        nv = (
            f"sqrt(aggregate(transform({vec_sql}, "
            "x -> CAST(x AS DOUBLE) * x), 0.0D, (acc, x) -> acc + x))"
        )
        nl = (
            f"sqrt(aggregate(transform({arr}, "
            "x -> CAST(x AS DOUBLE) * x), 0.0D, (acc, x) -> acc + x))"
        )
        return f"({dot} / ({nv} * {nl}))"

    structs = ", ".join(
        f"named_struct('negs', -{cos_sql(v)}, "
        f"'cid', CAST({int(cid)} AS BIGINT))"
        for cid, v in cent_rows
    )
    return f"slice(array_sort(array({structs})), 1, {int(nprobe)})"


def test_nearest_centroids_matches_literal_reference(spark):
    """The one nearest-centroid kernel reproduces the retired literal SQL
    ranking exactly — the FULL k-way ranking of every row, on double and
    float32 columns.  Planted: negative and scientific-notation centroid
    cells, a duplicated centroid and an exact power-of-two scaled copy
    (exact cosine ties, broken on the lower cid), rows that are exact /
    negated / scaled copies of centroids, and sums of two mirrored
    centroids (an exact tie between the pair)."""
    import numpy as np

    rnd = np.random.RandomState(31)
    dim, k = 16, 12
    cmat = rnd.randn(k, dim)
    cmat[1, :4] = [1.25e-07, -3.5e-05, 2.5e05, -7.75e-12]  # sci notation
    cmat[4] = cmat[2]  # duplicate centroid: exact tie, cid 2 wins
    cmat[6] = 2.0 * cmat[3]  # exact scaled copy: exact tie, cid 3 wins
    cmat[7] = 3.0 * cmat[5]  # inexact scaled copy
    cmat[8] = np.r_[[1.0, 2.0], np.zeros(dim - 2)]
    cmat[9] = np.r_[[2.0, 1.0], np.zeros(dim - 2)]  # mirror of cid 8
    cent_rows = [(int(c), [float(x) for x in cmat[c]]) for c in range(k)]
    rows = [rnd.randn(dim) * 10.0 ** rnd.uniform(-3, 3) for _ in range(150)]
    for c in range(k):
        rows += [cmat[c], -cmat[c], 4.0 * cmat[c], 3.0 * cmat[c]]
    rows += [cmat[8] + cmat[9], cmat[2] + cmat[3], cmat[0] + cmat[1]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "id long, v array<double>",
    ).withColumn("f", F.col("v").cast("array<float>"))
    kernel = similarity.nearest_centroids(cent_rows, k)
    for col in ("v", "f"):
        got = df.select(
            "id",
            kernel(F.col(col)).alias("kern"),
            F.expr(_ranked_lists_sql_reference(f"`{col}`", cent_rows, k))
            .alias("ref"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            assert list(r.kern) == [s.cid for s in r.ref], (col, r.id)
    ties = {
        r.id: list(r.kern)
        for r in df.select("id", kernel(F.col("v")).alias("kern")).collect()
    }
    assert ties[150 + 4 * 4][:2] == [2, 4]  # copy of the duplicated centroid
    assert ties[150 + 4 * 6][:2] == [3, 6]  # copy of the scaled centroid
    assert ties[150 + 4 * k][:2] == [8, 9]  # cid 8 + its mirror


def test_nearest_centroid_call_sites_run_the_arrow_kernel(spark, monkeypatch):
    """Plan guard: every nearest-centroid call site ranks through the
    ArrowEvalPython kernel, with no interpreted zip_with fold in the
    assignment projection.  ivf_topk keeps one zip_with — the exact
    candidate re-rank ``cosine(__cvec, __pvec)`` — and nothing else."""
    import re

    import numpy as np

    from ago_sisdb_spark.operators import embed

    rnd = np.random.RandomState(7)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rnd.randn(8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )

    def executed(frame):
        frame.collect()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]  # AQE prints it twice

    ivf = executed(similarity.ivf_topk(
        df, df.where(F.col("vec_id") < 3), "vec_id", "embedding", "vec_id",
        k=5, n_centroids=8, nprobe=3,
    ))
    # one kernel pass per side: the join's inferred isnotnull(list_id)
    # must not copy the kernel into a second pass below the projection
    assert ivf.count("ArrowEvalPython") == 2
    second_args = re.findall(r"zip_with\([^,]+, ([^,]+),", ivf)
    assert second_args and all(a.startswith("__pvec") for a in second_args)

    ca = executed(embed.cluster_assign(df, "vec_id", "embedding", 8))
    assert "ArrowEvalPython" in ca and "zip_with(" not in ca

    plans = []
    collect = type(df).collect

    def spy(self):
        out = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(type(df), "collect", spy)
    similarity.train_centroids(df, "vec_id", "embedding", 8, iters=2)
    rounds = [p for p in plans if "ArrowEvalPython" in p]
    assert len(rounds) == 2
    assert not any("zip_with(" in p for p in plans)


def test_null_vector_joins_no_list_or_cluster(spark):
    """A NULL embedding has no nearest centroid: cluster_assign gives it a
    NULL cluster, ivf_topk files it under no list, and semantic dedup
    pairs it with nothing (the literal ranking used to file it under
    centroid 0)."""
    from ago_sisdb_spark.operators import embed

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [0.9, 0.1]),
         (4, [0.2, 0.8]), (5, None)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id bigint, __cent array<double>",
    )
    clusters = {
        r.vec_id: r.cluster
        for r in embed.cluster_assign(
            df, "vec_id", "embedding", centroids=cents
        ).collect()
    }
    assert clusters == {0: 0, 1: 1, 2: None, 3: 0, 4: 1, 5: None}
    ivf = similarity.ivf_topk(
        df, df.where(F.col("vec_id") == 3), "vec_id", "embedding", "vec_id",
        k=10, nprobe=1, centroids=cents,
    )
    assert {r.neighbor_id for r in ivf.collect()} == {0}
    pairs = similarity.semantic_dedup_pairs(
        df, "vec_id", "embedding", cents, -1.0
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 3), (1, 4)}


@pytest.mark.parametrize(
    "cell", [0.0, float("nan"), float("inf")], ids=["zero", "nan", "inf"]
)
def test_degenerate_centroids_raise_before_any_job(spark, cell):
    """Centroid rows are validated once, where the kernel is built: a
    zero-norm or non-finite centroid raises ValueError on the driver
    before the assignment job is planned, on every call site."""
    from ago_sisdb_spark.operators import embed

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [cell, 0.0])],
        "centroid_id bigint, __cent array<double>",
    )
    match = r"centroids \[1\] have a zero or non-finite norm"
    with pytest.raises(ValueError, match=match):
        similarity.nearest_centroids([(0, [1.0, 0.0]), (1, [cell, 0.0])], 1)
    with pytest.raises(ValueError, match=match):
        similarity.ivf_topk(
            df, df, "vec_id", "embedding", "vec_id", k=1, centroids=cents
        )
    with pytest.raises(ValueError, match=match):
        embed.cluster_assign(df, "vec_id", "embedding", centroids=cents)
    with pytest.raises(ValueError, match=match):
        similarity.semantic_dedup_pairs(df, "vec_id", "embedding", cents, 0.5)


def test_ragged_centroids_raise():
    """Centroid rows of mixed length (a corrupt or mismatched index) are
    rejected when the kernel is built."""
    with pytest.raises(ValueError, match="mixed dimensions"):
        similarity.nearest_centroids([(0, [1.0, 0.0]), (1, [1.0])], 1)


@pytest.mark.parametrize(
    "vec, match",
    [([0.0, 0.0], "zero-norm or non-finite vector"),
     ([1e-200, 0.0], "zero-norm or non-finite vector"),
     ([float("nan"), 1.0], "zero-norm or non-finite vector"),
     ([1.0, 0.0, 0.0], "vector length differs")],
    ids=["zero", "underflow", "nan_cell", "wrong_dim"],
)
def test_degenerate_input_vector_fails_the_job(spark, vec, match):
    """A zero-norm input vector has no cosine to any centroid: the job
    fails (as the ANSI expression form did with DIVIDE_BY_ZERO) instead
    of ranking NaN scores; a NaN cell or a vector of the wrong length
    fails the same way."""
    from ago_sisdb_spark.operators import embed

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, vec)], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id bigint, __cent array<double>",
    )
    with pytest.raises(Exception, match=match):
        embed.cluster_assign(
            df, "vec_id", "embedding", centroids=cents
        ).collect()


def test_cosine_lsh_duplicate_ids_no_self_pairs(spark):
    """A re-ingested embedding row (same id twice) lands both copies in
    the same bucket; the pair expansion must not emit an (x, x)
    self-pair — the old a.id < b.id join could never produce one, and a
    keep-lowest-id policy would otherwise drop the doc against itself."""
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # duplicate id
        (2, [1.0, 0.001, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = similarity.cosine_neardup_lsh(
        df, "vec_id", "embedding", threshold=0.9, dim=4, bits=2, tables=4
    ).collect()
    assert all(r.id_a != r.id_b for r in got)
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


def test_truncation_audit_vs_numpy(spark):
    """Independent numpy model of the matryoshka audit: exact cosine top-k
    per width over prefix slices, hit_full = membership in the full-width
    top-k.  Seeded vectors engineered so the 4-dim prefix REORDERS the
    neighborhood (degradation is visible, not vacuous)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, dim = 40, 16
    vecs = rng.normal(size=(n, dim))
    # make the tail dominate for half the vectors so short prefixes mislead
    vecs[::2, 8:] *= 4.0
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.where(F.col("vec_id").isin(0, 1))

    got = similarity.truncation_audit(
        df, probes, "vec_id", "embedding", "vec_id", dims=(4, 8, 16), k=3
    ).collect()

    # numpy model over the SAME float32-rounded values Spark read
    v32 = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)

    def topk(pid, d, k=3):
        scores = []
        for j in range(n):
            if j == pid:
                continue
            a, b = v32[j, :d], v32[pid, :d]
            s = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            scores.append((-s, j))
        return [j for _, j in sorted(scores)[:k]]

    expect = {}
    for pid in (0, 1):
        full = set(topk(pid, 16))
        for d in (4, 8, 16):
            for nb in topk(pid, d):
                expect[(d, pid, nb)] = 1 if nb in full else 0
    have = {(r.dim, r.probe_id, r.neighbor_id): r.hit_full for r in got}
    assert have == expect
    # the engineered tail makes at least one short-prefix neighbor a miss
    assert 0 in {v for (d, _, _), v in have.items() if d == 4}


def test_mmr_rerank_vs_numpy(spark):
    """Independent numpy MMR (same published greedy, reimplemented) vs the
    distributed operator on seeded random vectors; also pins that MMR
    actually diversifies — the two near-duplicate top-relevance vectors
    must not BOTH survive into the first two picks."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim = 30, 8
    vecs = rng.normal(size=(n, dim))
    vecs[1] = vecs[0] * 1.001 + rng.normal(size=dim) * 1e-2  # near-dup pair
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
    # a mix keeps margins between candidate scores ~1e-2 (far above the
    # Spark-fold vs numpy-SIMD summation noise) and away from the probe==v0
    # degeneracy where every rank-2 MMR score collapses to ~0
    probe_vec = 0.8 * unit[0] + 0.2 * unit[17]
    probes = spark.createDataFrame(
        [(999, [float(x) for x in probe_vec])],
        "vec_id long, embedding array<double>",
    )
    k, pool, lam = 5, 12, 0.5
    got = (
        similarity.mmr_rerank(
            df, probes, "vec_id", "embedding", "vec_id", k=k, pool=pool, lam=lam
        )
        .orderBy("rank")
        .collect()
    )

    pu = probe_vec / np.linalg.norm(probe_vec)
    rel = unit @ pu
    order = sorted(range(n), key=lambda j: (-rel[j], j))[:pool]
    chosen, simmax, expect = [], {j: 0.0 for j in order}, []
    for rank in range(1, k + 1):
        best = max(
            (j for j in order if j not in chosen),
            key=lambda j: (lam * rel[j] - (1 - lam) * simmax[j], -j),
        )
        expect.append((rank, best))
        chosen.append(best)
        for j in order:
            simmax[j] = max(simmax[j], float(unit[j] @ unit[best]))

    assert [(r.rank, r.neighbor_id) for r in got] == expect
    # diversity: by relevance alone the near-dups 0 and 1 are the top two;
    # MMR must break the pair up
    top_rel = set(sorted(range(n), key=lambda j: (-rel[j], j))[:2])
    assert top_rel == {0, 1}
    assert {expect[0][1], expect[1][1]} != top_rel


def test_semantic_decontaminate_exact(spark):
    """semantic_decontaminate on planted integer vectors: exact parallel
    duplicate flags at cos_e6 = 1e6, orthogonal stays clean, the max is
    taken over ALL eval vectors, and an exact two-way tie resolves to the
    lowest eval id.  Expected floors replicate the operator's own IEEE
    tree (dot / (sqrt*sqrt), then floor(x * 1e6)) in plain Python."""
    import math

    from ago_sisdb_spark.operators import embed as embed_ops

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    tr = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),  # parallel to eval 100
            (2, [0.0, 5.0]),  # parallel to eval 200
            (3, [3.0, 4.0]),  # 0.6 vs 100, 0.8 vs 200
            (4, [1.0, 1.0]),  # exact tie -> lowest eid
        ],
        "vec_id long, embedding array<double>",
    )

    def cos_e6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor((d / (na * nb)) * 1_000_000)

    out = {
        r["vec_id"]: r.asDict()
        for r in embed_ops.semantic_decontaminate(
            tr, ev, "vec_id", "embedding", "vec_id", threshold_e6=900_000
        ).collect()
    }
    assert len(out) == 4
    assert out[1]["max_cos_e6"] == 1_000_000
    assert out[1]["matched_eval_id"] == 100 and out[1]["contaminated"] is True
    assert out[2]["matched_eval_id"] == 200 and out[2]["contaminated"] is True
    d3 = out[3]
    assert d3["max_cos_e6"] == cos_e6([3.0, 4.0], [0.0, 1.0])
    assert d3["matched_eval_id"] == 200 and d3["contaminated"] is False
    d4 = out[4]
    assert d4["matched_eval_id"] == 100  # bit-identical tie -> lowest id
    assert d4["max_cos_e6"] == cos_e6([1.0, 1.0], [1.0, 0.0])


def test_semantic_decontaminate_empty_eval(spark):
    """An EMPTY eval set must mean 'nothing is contaminated', not 'the
    corpus vanishes': the left condition-true join keeps every corpus row
    with NULL match columns and contaminated=false (the r11 ADVICE fix —
    a crossJoin annihilated the corpus side)."""
    from ago_sisdb_spark.operators import embed as embed_ops

    ev = spark.createDataFrame([], "vec_id long, embedding array<double>")
    tr = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r.asDict()
        for r in embed_ops.semantic_decontaminate(
            tr, ev, "vec_id", "embedding", "vec_id"
        ).collect()
    }
    assert len(out) == 2
    for r in out.values():
        assert r["contaminated"] is False
        assert r["matched_eval_id"] is None and r["max_cos_e6"] is None


def test_bitext_margin_mine_exact(spark):
    """bitext_margin_mine on planted 2-D vectors: margins replicate the
    operator's own exact-integer tree (floor-e6 cosines, integer
    neighborhood sums, truncating division) computed in plain Python;
    the per-source best-margin candidate above threshold is mined; an
    exact translation in a diffuse neighborhood out-margins a merely
    parallel crowd."""
    import math

    from ago_sisdb_spark.operators import embed as embed_ops

    src = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [1.0, 1.0]), (4, [0.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    k = 2

    def cos_e6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return math.floor(
            d
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(x * x for x in b))
            )
            * 1_000_000
        )

    sv = {100: [1.0, 0.0], 200: [0.0, 1.0]}
    tv = {1: [1.0, 0.0], 2: [2.0, 0.0], 3: [1.0, 1.0], 4: [0.0, 3.0]}
    # forward top-k per src (cos desc, tgt id asc)
    fwd = {}
    for s, svec in sv.items():
        ranked = sorted(tv, key=lambda t: (-cos_e6(svec, tv[t]), t))[:k]
        fwd[s] = ranked
    sum_x = {s: sum(cos_e6(sv[s], tv[t]) for t in fwd[s]) for s in sv}
    cands = sorted({t for ts in fwd.values() for t in ts})
    sum_y, n_y = {}, {}
    for t in cands:
        ranked = sorted(sv, key=lambda s: (-cos_e6(sv[s], tv[t]), s))[:k]
        sum_y[t] = sum(cos_e6(sv[s], tv[t]) for s in ranked)
        n_y[t] = len(ranked)

    out = {
        (r["src_id"], r["tgt_id"]): r.asDict()
        for r in embed_ops.bitext_margin_mine(
            src, tgt, "vec_id", "embedding", k=k, threshold_e6=1_050_000
        ).collect()
    }
    assert len(out) == 2 * k
    mined_by_src = {}
    for s in sv:
        for t in fwd[s]:
            g = out[(s, t)]
            c = cos_e6(sv[s], tv[t])
            want_margin = (
                c * (k + n_y[t]) * 1_000_000 // (sum_x[s] + sum_y[t])
                if c >= 0 and sum_x[s] + sum_y[t] > 0
                else None
            )
            assert g["cos_e6"] == c and g["margin_e6"] == want_margin, (s, t)
            assert g["sum_x_e6"] == sum_x[s] and g["sum_y_e6"] == sum_y[t]
            if g["mined"]:
                mined_by_src.setdefault(s, []).append(t)
    # each src mines at most one pair, and it is its best-margin candidate
    for s, ts in mined_by_src.items():
        assert len(ts) == 1
        best = max(
            (t for t in fwd[s] if out[(s, t)]["margin_e6"] is not None),
            key=lambda t: (out[(s, t)]["margin_e6"], -t),
        )
        assert ts[0] == best


def test_bitext_margin_negative_neighborhood_null(spark):
    """Anti-parallel candidates (negative floored cosines): margin is
    NULL (guarded division) and nothing is mined — the degenerate-
    neighborhood contract."""
    from ago_sisdb_spark.operators import embed as embed_ops

    src = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    tgt = spark.createDataFrame(
        [(10, [-1.0, 0.0]), (11, [-2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = embed_ops.bitext_margin_mine(
        src, tgt, "vec_id", "embedding", k=2
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["cos_e6"] == -1_000_000
        assert r["margin_e6"] is None and r["mined"] is False


def test_cluster_balanced_mix_plan_exact(spark):
    """cluster_balanced_mix on a planted 2-cluster geometry (two seed
    directions, masses 8 vs 2): assignment goes to the cosine-nearest
    seed, the alpha=0.5 plan replicates the integer model (sqrt-flattened
    weights, floor-divided quotas and rates), and n_kept counts exactly
    the ids whose portable hash clears the cluster's gate."""
    import math

    from ago_sisdb_spark.operators import embed as embed_ops
    from ago_sisdb_spark.operators.dedup import portable_hash60

    # ids 0,1 are the seeds (lowest ids -> centroids); 8 vectors near
    # seed 0's direction, 2 near seed 1's
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows += [(10 + i, [5.0 + i, 0.5]) for i in range(7)]   # cluster 0
    rows += [(50, [0.25, 9.0])]                            # cluster 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = {
        r["cluster"]: r.asDict()
        for r in embed_ops.cluster_balanced_mix(
            emb, "vec_id", "embedding", n_clusters=2,
            target_frac_e6=500_000,
        ).collect()
    }
    assert set(out) == {0, 1}
    assert out[0]["n_docs"] == 8 and out[1]["n_docs"] == 2

    n_total = 10
    w = {c: math.floor(1e6 * math.sqrt(out[c]["n_docs"] / n_total))
         for c in out}
    w_total = sum(w.values())
    budget = (n_total * 500_000) // 1_000_000
    for c in out:
        quota = budget * w[c] // w_total
        rate = min(1_000_000, 1_000_000 * quota // out[c]["n_docs"])
        assert out[c]["weight"] == w[c]
        assert out[c]["share_e6"] == 1_000_000 * w[c] // w_total
        assert out[c]["quota"] == quota and out[c]["rate_e6"] == rate

    # n_kept = exact gate replay over the assignment
    assigned = {0: [0] + [10 + i for i in range(7)], 1: [1, 50]}
    gates = {
        r["i"]: r["h"]
        for r in spark.range(0, 51).select(
            F.col("id").alias("i"),
            (portable_hash60(
                F.concat(F.lit("mix:"), F.col("id").cast("string"))
            ) % 1_000_000).alias("h"),
        ).collect()
    }
    for c in out:
        want_kept = sum(
            1 for i in assigned[c] if gates[i] < out[c]["rate_e6"]
        )
        assert out[c]["n_kept"] == want_kept, (c, out[c], want_kept)


def test_bitext_bucketed_exactly_once_and_mines_translations(spark):
    """bitext_margin_mine_bucketed on planted sign-separable clusters:
    a pair sharing ALL bands is emitted exactly once (lowest-band dedup),
    candidates never cross sign buckets, and each source mines its
    planted translation."""
    from ago_sisdb_spark.operators import embed as embed_ops

    dim = 32  # bands=4 x band_bits=8

    def vec(sign, jitter):
        # all dims share `sign`, so every band key is all-ones or all-
        # zeros — cluster members collide in ALL 4 bands
        return [sign * (1.0 + jitter * (i % 3)) for i in range(dim)]

    src = spark.createDataFrame(
        [(100, vec(1, 0.01)), (200, vec(-1, 0.01))],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [
            (1, vec(1, 0.01)),   # translation of 100
            (2, vec(1, 0.5)),    # same bucket, farther
            (3, vec(-1, 0.01)),  # translation of 200
            (4, vec(-1, 0.7)),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = embed_ops.bitext_margin_mine_bucketed(
        src, tgt, "vec_id", "embedding", k=2, threshold_e6=1_000_100,
        bands=4, band_bits=8,
    ).collect()
    pairs = [(r["src_id"], r["tgt_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))  # exactly-once despite 4 shared bands
    assert all(r["band"] == 0 for r in rows)  # kept at the lowest band
    # no cross-sign candidates: src 100 only pairs with {1,2}, 200 with {3,4}
    for s, t in pairs:
        assert (t <= 2) == (s == 100), (s, t)
    mined = {r["src_id"]: r["tgt_id"] for r in rows if r["mined"]}
    assert mined == {100: 1, 200: 3}


def test_bitext_bucketed_caps_degenerate_sign_bucket(spark, caplog):
    """r12 (verdict #1): a degenerate sign pattern — every vector
    all-positive, so ALL rows share every (band, key) bucket — must be
    dropped by the per-side occupancy cap instead of emitting m² candidate
    rows; an uncapped run on the same input explodes quadratically.  A
    second, under-cap cluster must survive untouched."""
    import logging

    from ago_sisdb_spark.operators import embed as embed_ops

    dim = 32
    m = 12  # degenerate cluster size, > cap below

    def vec(sign, i):
        return [sign * (1.0 + 0.01 * ((i + j) % 5)) for j in range(dim)]

    # m all-positive vectors per side (one mega-bucket in all 4 bands)
    # plus 2 all-negative vectors per side (a healthy small bucket)
    src = spark.createDataFrame(
        [(100 + i, vec(1, i)) for i in range(m)]
        + [(300, vec(-1, 0)), (301, vec(-1, 3))],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(500 + i, vec(1, i + 1)) for i in range(m)]
        + [(700, vec(-1, 1)), (701, vec(-1, 4))],
        "vec_id long, embedding array<double>",
    )

    def run(cap, **kw):
        return embed_ops.bitext_margin_mine_bucketed(
            src, tgt, "vec_id", "embedding", k=3,
            bands=4, band_bits=8, max_bucket_size=cap, **kw
        ).collect()

    with caplog.at_level(logging.WARNING):
        capped = run(cap=4, log_drops=True)
    # the mega-bucket is gone: only the negative-sign cluster pairs remain
    pairs = {(r["src_id"], r["tgt_id"]) for r in capped}
    assert pairs == {(s, t) for s in (300, 301) for t in (700, 701)}
    # drops were surfaced, not silent
    assert any("e12_bands" in rec.getMessage() for rec in caplog.records)

    # uncapped twin: the mega-bucket srcs are back, each with a full
    # forward top-k (the m² explosion is the INTERNAL candidate join the
    # output's top-k hides — the cap exists to stop it before the join)
    full = run(cap=10**9)
    full_pairs = {(r["src_id"], r["tgt_id"]) for r in full}
    assert len(full_pairs) == m * 3 + 4  # k per degenerate src + 2×2
    assert {s for s, _ in full_pairs} >= {100 + i for i in range(m)}


def test_sign_band_keys_short_vector_coalesces_to_zero_bits(spark):
    """r12 ADVICE fix: a vector shorter than bands*band_bits must NOT
    vanish from the bucket join — missing dimensions contribute bit 0
    (the oracle's CASE … ELSE 0), so a short vector still lands in a
    bucket and pairs with its full-width twin whose trailing dims are
    negative (sign bit 0)."""
    from ago_sisdb_spark.operators import embed as embed_ops
    from pyspark.sql import functions as F

    # 8 leading positive dims, then: src stops at 8 dims (short);
    # tgt has 32 dims with dims 8..31 negative — identical sign keys
    short = [1.0] * 8
    full = [1.0] * 8 + [-1.0] * 24
    src = spark.createDataFrame(
        [(1, short)], "vec_id long, embedding array<double>"
    )
    tgt = spark.createDataFrame(
        [(2, full)], "vec_id long, embedding array<double>"
    )
    keys_short, keys_full = (
        df.select(
            embed_ops._sign_band_keys(
                F.col("embedding"), 4, 8
            ).alias("k")
        ).head()["k"]
        for df in (src, tgt)
    )
    assert keys_short == keys_full == [255, 0, 0, 0]  # no NULL band keys
    rows = embed_ops.bitext_margin_mine_bucketed(
        src, tgt, "vec_id", "embedding", k=1, bands=4, band_bits=8
    ).collect()
    assert [(r["src_id"], r["tgt_id"]) for r in rows] == [(1, 2)]


@pytest.mark.parametrize(
    "label,n_pairs",
    [("sf0.001", 250), ("sf0.01", 250), ("sf0.1", 1000)],
)
def test_bitext_bucketed_recall_floor_planted(spark, label, n_pairs):
    """r12 (verdict #3), the n2 convention for approximate paths: the
    bucketed miner gets a MEASURED recall floor against the exact brute
    miner on a gaussian bitext corpus with planted translation pairs,
    at corpus sizes matching the three SF embedding tables (500/500/2000
    vectors → 250/250/1000 pairs).

    Planted geometry: tgt_i = src_i's base + independent 0.1-sigma noise
    (cos ≈ 0.99); every other pair is an unrelated 64-dim gaussian
    (cos ≈ 0 ± 0.12), so the brute margin mines essentially every planted
    pair.  The bucketed miner can only lose a pair when noise flips a
    sign bit in ALL 4 bands (P ≈ 0.97 at least one band survives), so
    its recall floor is 0.90 with margin; measured values are recorded
    in COVERAGE.md beside n2's.  Brute floor 0.98 pins the exact path."""
    import numpy as np

    from ago_sisdb_spark.operators import embed as embed_ops

    rnd = np.random.RandomState(12 + n_pairs)
    base = rnd.randn(n_pairs, 64)
    src_v = base + 0.1 * rnd.randn(n_pairs, 64)
    tgt_v = base + 0.1 * rnd.randn(n_pairs, 64)
    src = spark.createDataFrame(
        [(i, [float(x) for x in src_v[i]]) for i in range(n_pairs)],
        "vec_id long, embedding array<double>",
    )
    tgt = spark.createDataFrame(
        [(i, [float(x) for x in tgt_v[i]]) for i in range(n_pairs)],
        "vec_id long, embedding array<double>",
    )

    def mined(df):
        return {
            (r["src_id"], r["tgt_id"])
            for r in df.where(F.col("mined")).collect()
        }

    planted = {(i, i) for i in range(n_pairs)}
    brute = mined(embed_ops.bitext_margin_mine(
        src, tgt, "vec_id", "embedding", k=4
    ))
    bucketed = mined(embed_ops.bitext_margin_mine_bucketed(
        src, tgt, "vec_id", "embedding", k=4, bands=4, band_bits=8
    ))
    brute_recall = len(brute & planted) / n_pairs
    bucketed_recall = len(bucketed & planted) / n_pairs
    assert brute_recall >= 0.98, (label, brute_recall)
    assert bucketed_recall >= 0.90, (label, bucketed_recall)
    # the approximation's loss mode is band-collision misses only: every
    # pair it does mine that brute also mined is the planted translation
    assert bucketed & planted <= brute, label


# ---------------------------------------------------------------------------
# r13 (r12 verdict #3): adversarial recall floors on ANISOTROPIC corpora.
# The gaussian floors above measure the sketch in the friendliest geometry;
# real embedding spaces are clustered around a few dominant directions and
# can carry many near-zero components (the sign-boundary regime).  These
# corpora pin both regimes with measured numbers (recorded in COVERAGE.md
# beside the gaussian rows).


def _clustered_corpus(rnd, n, dim=64, n_dominant=3, n_clusters=8,
                      spread=1.0):
    """A few dominant directions + clustered mass: every cluster center is
    a mixture of ``n_dominant`` shared directions (sign bits correlated
    across dims — anisotropy) plus a small unique component; points
    scatter ``spread`` around their center."""
    import numpy as np

    doms = rnd.randn(n_dominant, dim)
    mix = rnd.randn(n_clusters, n_dominant)
    centers = mix @ doms + 0.3 * rnd.randn(n_clusters, dim)
    labels = np.arange(n) % n_clusters
    return centers[labels] + spread * rnd.randn(n, dim), labels


def _mined_pairs(df):
    return {
        (r["src_id"], r["tgt_id"])
        for r in df.where(F.col("mined")).collect()
    }


def _bitext_sides(spark, rnd, base, noise):
    import numpy as np

    n = len(base)
    sv = base + noise * rnd.randn(*base.shape)
    tv = base + noise * rnd.randn(*base.shape)
    mk = lambda m: spark.createDataFrame(
        [(i, [float(x) for x in m[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    return mk(sv), mk(tv)


def test_bitext_bucketed_recall_floor_clustered(spark):
    """Anisotropic clustered corpus (3 dominant directions, 8 clusters,
    moderate within-cluster spread): dominant directions give strongly-
    signed projections, so the 4×8 sign sketch holds its gaussian-corpus
    recall — measured 1.000 brute / 1.000 bucketed at n=400 (floors with
    margin below)."""
    import numpy as np

    from ago_sisdb_spark.operators import embed as embed_ops

    rnd = np.random.RandomState(77)
    base, _ = _clustered_corpus(rnd, 400, spread=1.0)
    src, tgt = _bitext_sides(spark, rnd, base, noise=0.1)
    planted = {(i, i) for i in range(400)}
    brute = _mined_pairs(embed_ops.bitext_margin_mine(
        src, tgt, "vec_id", "embedding", k=4
    ))
    bucketed = _mined_pairs(embed_ops.bitext_margin_mine_bucketed(
        src, tgt, "vec_id", "embedding", k=4, bands=4, band_bits=8
    ))
    assert len(brute & planted) / 400 >= 0.98
    assert len(bucketed & planted) / 400 >= 0.95


def test_bitext_dense_clusters_collapse_margins_not_the_sketch(spark):
    """DENSE clusters (within-cluster spread ~3× the pair noise): margin
    mining itself collapses — a translation's cosine barely clears the
    neighborhood average, so BRUTE mines almost nothing (measured 0.125
    at n=400).  That is a semantic property of the margin criterion in
    dense regions, not a sketch failure: the bucketed miner AGREES with
    brute on ≥85% of what brute does mine (measured 0.96).  Guards
    against misreading sparse mined sets on clustered data as an LSH
    recall bug."""
    import numpy as np

    from ago_sisdb_spark.operators import embed as embed_ops

    rnd = np.random.RandomState(77)
    base, _ = _clustered_corpus(rnd, 400, spread=0.35)
    src, tgt = _bitext_sides(spark, rnd, base, noise=0.15)
    planted = {(i, i) for i in range(400)}
    brute = _mined_pairs(embed_ops.bitext_margin_mine(
        src, tgt, "vec_id", "embedding", k=4
    ))
    bucketed = _mined_pairs(embed_ops.bitext_margin_mine_bucketed(
        src, tgt, "vec_id", "embedding", k=4, bands=4, band_bits=8
    ))
    assert len(brute & planted) / 400 < 0.3  # margins collapse in density
    assert brute, "dense corpus mined nothing at all"
    assert len(bucketed & brute) / len(brute) >= 0.85


def test_bitext_boundary_heavy_degrades_and_band_growth_recovers(spark):
    """The genuine sign-sketch degradation regime: half the dimensions
    near zero (projections sit ON the hyperplane boundary), so pair
    noise flips band bits and the default 4×8 sketch loses pairs —
    measured 0.560 recall at n=400.  The documented remediation is the
    d6 band-growth rule (more, SHORTER bands = stronger OR-
    amplification): 8×4 recovers to 0.990 and 16×4 to 1.000 on the same
    corpus.  Floors pin both the degradation (so the regime stays
    visible) and the recovery (so the knob keeps working)."""
    import numpy as np

    from ago_sisdb_spark.operators import embed as embed_ops

    rnd = np.random.RandomState(88)
    scale = np.ones(64)
    scale[::2] = 0.05  # 32 of 64 dims essentially on the sign boundary
    base = rnd.randn(400, 64) * scale
    src, tgt = _bitext_sides(spark, rnd, base, noise=0.05)
    planted = {(i, i) for i in range(400)}

    def recall(bands, bits):
        got = _mined_pairs(embed_ops.bitext_margin_mine_bucketed(
            src, tgt, "vec_id", "embedding", k=4,
            bands=bands, band_bits=bits,
        ))
        return len(got & planted) / 400

    default = recall(4, 8)
    grown = recall(8, 4)
    assert 0.40 <= default <= 0.75, default  # degradation stays visible
    assert grown >= 0.95, grown              # band growth recovers
    assert grown > default


def test_ann_recall_floor_clustered(spark):
    """n2-config LSH (8 bits × 6 tables × radius 2) and IVF knn recall@5
    on the anisotropic clustered corpus: clusters make neighbors SHARE
    sign buckets and centroid lists, so recall holds the gaussian floors
    (measured 1.000 / 1.000 at n=500) — the counterpart to the
    boundary-heavy bitext regime above, recorded in COVERAGE.md."""
    import numpy as np

    rnd = np.random.RandomState(78)
    pts, _ = _clustered_corpus(rnd, 500, spread=0.35)
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(500)],
        "vec_id long, embedding array<double>",
    ).cache()
    probes = df.where(F.col("vec_id") < 8)
    truth = similarity.brute_force_topk(
        df, probes, "vec_id", "embedding", "vec_id", 5
    )
    lsh = similarity.lsh_topk(
        df, probes, "vec_id", "embedding", "vec_id", k=5, dim=64,
        bits=8, tables=6, multi_probe=2, seed=202,
    )
    ivf = similarity.ivf_topk(
        df, probes, "vec_id", "embedding", "vec_id", 5,
        n_centroids=16, nprobe=4, train_iters=2,
    )
    for name, approx in (("lsh", lsh), ("ivf", ivf)):
        recalls = [
            r.recall for r in similarity.ann_recall(truth, approx, 5).collect()
        ]
        assert len(recalls) == 8, name
        assert sum(recalls) / len(recalls) >= 0.9, (name, recalls)


def test_fold_kernels_bit_identical_random_batch(spark):
    """Property check, batched (fixed seeds, one Spark call — the house
    winnow-property convention): on random vectors spanning magnitudes
    1e-3..1e3, hostile near-orthogonal pairs, and float32-truncated
    values, `fold_cosine_block` and the interpreted `cosine()`
    expression agree BIT-FOR-BIT on every pair — both the raw double and
    `floor(cos*1e6)` — the invariant the r13 e10/d5/n1 vectorization
    rests on."""
    import math

    import numpy as np

    from ago_sisdb_spark.operators.similarity import (
        cosine,
        fold_cosine_block,
        fold_norms,
    )

    rnd = np.random.RandomState(4242)
    dims = 17  # odd, non-power-of-two
    n, m = 40, 25
    corpus = rnd.randn(n, dims) * (10.0 ** rnd.uniform(-3, 3, (n, 1)))
    probes = rnd.randn(m, dims) * (10.0 ** rnd.uniform(-3, 3, (m, 1)))
    corpus[::5] = np.float32(corpus[::5])  # float32-truncated rows
    probes[::4] = np.float32(probes[::4])
    probes[0] = corpus[0] + 1e-9  # near-parallel
    probes[1] = np.roll(corpus[1], 1)  # scrambled
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in corpus[i]]) for i in range(n)],
        "id long, v array<double>",
    )
    pdf_rows = [(j, [float(x) for x in probes[j]]) for j in range(m)]
    pdf = spark.createDataFrame(pdf_rows, "id long, v array<double>")
    a = cdf.select(F.col("id").alias("ca"), F.col("v").alias("va"))
    b = pdf.select(F.col("id").alias("cb"), F.col("v").alias("vb"))
    expr_rows = (
        a.crossJoin(F.broadcast(b))
        .select(
            "ca", "cb",
            cosine(F.col("va"), F.col("vb")).alias("c"),
            F.floor(
                cosine(F.col("va"), F.col("vb")) * F.lit(1_000_000)
            ).cast("long").alias("e6"),
        )
        .collect()
    )
    block = fold_cosine_block(corpus, probes, fold_norms(probes))
    e6_block = np.floor(block * 1_000_000).astype(np.int64)
    assert len(expr_rows) == n * m
    for r in expr_rows:
        got_c, got_e6 = block[r.ca, r.cb], e6_block[r.ca, r.cb]
        assert r.c == got_c or (math.isnan(r.c) and math.isnan(got_c)), (
            r.ca, r.cb, r.c, got_c,
        )
        assert r.e6 == got_e6, (r.ca, r.cb, r.e6, got_e6)


def test_collect_vec_matrix_row_cap_raises(spark, emb):
    """r14 guardrail: the bounded-side contract is enforced — an
    oversized side raises (with the LIMIT pushed into the collect, so
    the driver never holds the oversize) and the message names the
    bucketed scale paths."""
    with pytest.raises(ValueError, match="bucketed scale paths"):
        similarity.collect_vec_matrix(emb, "vec_id", "embedding", max_rows=10)
    # byte cap fires even when the row cap passes
    with pytest.raises(ValueError, match="SPARK_GRAFT_VEC_MAX_BYTES"):
        similarity.collect_vec_matrix(
            emb.limit(4), "vec_id", "embedding", max_bytes=64
        )
    # under both caps: normal result
    ids, mat = similarity.collect_vec_matrix(
        emb.limit(4), "vec_id", "embedding"
    )
    assert len(ids) == 4 and mat.shape[0] == 4


def test_block_mode_bit_identity(spark, emb, monkeypatch):
    """r14 guardrail: with a tiny block width the closure-matrix kernels
    (n1 brute top-k, d5 threshold pairs, e10 forward/backward mining)
    produce BIT-identical results to the one-pass form — block top-k
    partials are per-column, threshold masks per-cell, and the backward
    top-k sum merges tie-invariantly across blocks."""
    from ago_sisdb_spark.operators import embed as embed_ops

    probes = emb.where(F.col("vec_id") < 7)
    src = emb.where(F.col("vec_id") % 5 == 0).limit(9)
    tgt = emb.where(F.col("vec_id") % 5 != 0)

    def snap():
        knn = sorted(
            map(tuple, similarity.brute_force_topk(
                emb, probes, "vec_id", "embedding", "vec_id", 5
            ).collect())
        )
        pairs = sorted(
            map(tuple, similarity.cosine_pairs(
                emb.limit(60), "vec_id", "embedding", 0.30
            ).collect())
        )
        mined = sorted(
            map(tuple, embed_ops.bitext_margin_mine(
                src, tgt, "vec_id", "embedding", k=4
            ).collect())
        )
        return knn, pairs, mined

    one_pass = snap()
    monkeypatch.setattr(similarity, "VEC_BLOCK_ROWS", 3)
    blocked = snap()
    assert blocked == one_pass

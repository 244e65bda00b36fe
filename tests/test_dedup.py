"""Dedup operator unit tests: Jaccard values, stop-shingle filter bound,
MinHash candidate quality on a controlled corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different text about spark engines here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_exact_dedup_groups(spark, corpus):
    groups = dedup.exact_dedup_groups(corpus, "doc_id", "text").collect()
    by_size = sorted(r.n_docs for r in groups)
    assert by_size == [1, 1, 2]
    dup = [r for r in groups if r.n_docs == 2][0]
    assert dup.keep_id == 1


def test_jaccard_exact_value(spark, corpus):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=2, threshold=0.05
        ).collect()
    }
    # docs 1 and 4 identical → jaccard 1.0
    assert pairs[(1, 4)] == 1.0
    # docs 1 and 2 share 7 of 9 distinct bigrams (8 each): J = 7/9
    assert abs(pairs[(1, 2)] - 7 / 9) < 1e-9


def test_stop_shingle_filter_prunes_common(spark):
    # "common common" appears in every doc; unique shingles differ
    docs = [(i, f"common common unique{i} word{i}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # without filter: every pair shares the common bigram → 15 candidate pairs
    all_pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", 2, 0.0)
    assert all_pairs.count() == 15
    # with max_doc_freq=2 the ubiquitous shingle is dropped → no pairs left
    filtered = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", 2, 0.0, max_doc_freq=2
    )
    assert filtered.count() == 0


def test_minhash_finds_near_dup_pair(spark, corpus):
    cand = dedup.minhash_lsh_candidates(
        corpus, "doc_id", "text", shingle_k=2, num_hashes=32, bands=16
    ).collect()
    got = {(r.id_a, r.id_b) for r in cand}
    assert (1, 4) in got  # identical docs always collide in every band
    assert (1, 2) in got or (2, 4) in got  # high-overlap pair found
    assert all(3 not in pair for pair in got)  # unrelated doc never pairs


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3 (transitive, pair 1-3 absent) + island 7-8 + clique 10,11,12
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10}
    for method in ("star", "propagate"):
        comp = {
            r.id: r.component
            for r in dedup.connected_components(pairs, method=method).collect()
        }
        assert comp == want, method


def test_connected_components_star_vs_propagate_random_graphs(spark):
    """Property check (r9 verdict #5): the large-star/small-star
    contraction and min-label propagation produce IDENTICAL labels on
    random graphs — including shuffled ids (so min is never the first
    node seen), multi-component forests, and duplicate/reversed pairs."""
    import random

    rng = random.Random(0xC0C0)
    for trial in range(4):
        n = rng.randrange(20, 80)
        ids = rng.sample(range(10_000), n)
        edges = [
            (rng.choice(ids), rng.choice(ids))
            for _ in range(rng.randrange(n // 2, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        edges += [(b, a) for a, b in edges[::3]]  # reversed duplicates
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {
            r.id: r.component
            for r in dedup.connected_components(pairs, method="star").collect()
        }
        prop = {
            r.id: r.component
            for r in dedup.connected_components(pairs, method="propagate").collect()
        }
        assert star == prop, f"trial {trial}"


def test_connected_components_chain_logarithmic_rounds(spark):
    """A planted 1000-node chain (the boilerplate-template shape that
    degrades min-label propagation to O(diameter) sequential joins)
    converges under star contraction in ≤ ⌈log2(n)⌉ rounds, with every
    node labeled by the chain minimum."""
    import math

    from pyspark.sql import functions as F

    n = 1000
    ids = [(i * 7919) % 104_729 for i in range(n)]  # non-monotone ids
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a long, id_b long"
    )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    stars, rounds = dedup._star_contract(edges)
    assert rounds <= math.ceil(math.log2(n))
    root = min(ids)
    got = {r.src: r.dst for r in stars.collect()}
    assert set(got.values()) == {root}
    assert set(got) == set(ids) - {root}

    # and the propagation path on the same chain hits its iteration cap
    # WITHOUT converging — the failure mode the star default removes
    prop = dedup.connected_components(pairs, method="propagate", max_iter=5)
    labels = {r.component for r in prop.collect()}
    assert len(labels) > 1


def test_neardup_groups_end_to_end(spark, corpus):
    groups = dedup.neardup_groups(corpus, "doc_id", "text", n=2, threshold=0.5)
    got = {r.doc_id: (r.keep_id, r.is_keeper) for r in groups.collect()}
    # docs 1, 2, 4 overlap heavily (≥0.5 jaccard), doc 3 is a singleton
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[4] == (1, False)
    assert 3 not in got  # singletons never appear in pairs


def test_simhash_neardup_pairs(spark, corpus):
    """Default 4-band blocking over the 60-bit fingerprints: the pairs are
    exactly those within the Hamming budget that share a 15-bit band
    (the (1, 2) near-dup, hamming 11, shares none here; the 12-band
    ``test_portable_simhash_pairs`` finds it)."""
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_neardup_pairs(
            corpus, "doc_id", "text", max_hamming=16
        ).collect()
    }
    fp = {r.doc: r.simhash for r in dedup.simhash64(corpus, "doc_id", "text").collect()}

    def bands(h):
        return [(h >> (15 * b)) & 0x7FFF for b in range(4)]

    want = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a in fp for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= 16
        and any(x == y for x, y in zip(bands(fp[a]), bands(fp[b])))
    }
    assert pairs == want
    assert pairs[(1, 4)] == 0  # identical docs → identical fingerprints
    assert all(3 not in p for p in pairs)  # unrelated doc stays out


def test_portable_hash60_matches_md5_prefix(spark):
    # portable_hash60 must equal base-16 of the first 15 md5 hex chars —
    # the contract the DuckDB oracle twin reproduces digit by digit.
    row = (
        spark.range(1)
        .select(dedup.portable_hash60(F.lit("hello world")).alias("h"))
        .collect()[0]
    )
    assert row.h == int("5eb63bbbe01eeed", 16)


def test_portable_minhash_same_pair_logic(spark, corpus):
    cand = dedup.minhash_lsh_candidates(
        corpus, "doc_id", "text", shingle_k=2, num_hashes=32, bands=16
    ).collect()
    got = {(r.id_a, r.id_b) for r in cand}
    assert (1, 4) in got  # identical docs collide in every band
    shared = {(r.id_a, r.id_b): r.n_shared_bands for r in cand}
    assert shared[(1, 4)] == 16
    assert all(3 not in pair for pair in got)


def test_portable_simhash_pairs(spark, corpus):
    # bands=12 (5-bit bands over the 60-bit fingerprint) → pigeonhole
    # recall guaranteed for hamming ≤ 11, which covers the (1,2) pair
    # (measured hamming 11 under the portable hash).
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_neardup_pairs(
            corpus, "doc_id", "text", max_hamming=16, bands=12
        ).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_bucket_fanout_cap_bounds_hot_bucket(spark):
    """Adversarial corpus: many distinct docs that all share the same LSH
    buckets (near-constant text).  The cap must drop the degenerate bucket
    entirely; a permissive cap must keep it."""
    from ago_sisdb_spark.operators import dedup

    # 40 docs, identical but for a trailing id token → same minhash bands
    # with high probability, and identical simhash bands
    rows = [(i, "the same boilerplate sentence repeated " * 4) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        max_bucket_size=10, log_drops=True,
    )
    assert capped.count() == 0  # whole hot bucket dropped, no O(m²) blow-up

    open_cap = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        max_bucket_size=1000,
    )
    assert open_cap.count() == 40 * 39 // 2  # identical docs all pair up

    sim_capped = dedup.simhash_neardup_pairs(
        df, "doc_id", "text", max_hamming=6, max_bucket_size=10
    )
    assert sim_capped.count() == 0
    sim_open = dedup.simhash_neardup_pairs(
        df, "doc_id", "text", max_hamming=6, max_bucket_size=1000
    )
    assert sim_open.count() == 40 * 39 // 2


def test_drop_ids_match_pairwise_candidates(spark, corpus):
    """minhash_lsh_drop_ids is the pair-free twin of ``candidates →
    distinct id_b``: the two forms must produce the SAME id set, with and
    without a biting cap."""
    want = {
        r.id_b
        for r in dedup.minhash_lsh_candidates(
            corpus, "doc_id", "text", shingle_k=2, num_hashes=32, bands=16
        ).collect()
    }
    got = {
        r.doc_id
        for r in dedup.minhash_lsh_drop_ids(
            corpus, "doc_id", "text", shingle_k=2, num_hashes=32, bands=16
        ).collect()
    }
    assert got == want and want  # non-vacuous: corpus has near-dups

    # hot bucket: 40 identical docs.  Tight cap drops the bucket whole on
    # both forms (empty drop set); open cap keeps it — every doc but the
    # lowest id is a drop.
    rows = [(i, "the same boilerplate sentence repeated " * 4) for i in range(40)]
    hot = spark.createDataFrame(rows, ["doc_id", "text"])
    assert (
        dedup.minhash_lsh_drop_ids(
            hot, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
            max_bucket_size=10,
        ).count()
        == 0
    )
    open_drops = {
        r.doc_id
        for r in dedup.minhash_lsh_drop_ids(
            hot, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
            max_bucket_size=1000,
        ).collect()
    }
    assert open_drops == set(range(1, 40))


def test_bucket_fanout_cap_keeps_normal_buckets(spark):
    """The cap must not disturb healthy buckets below the threshold."""
    from ago_sisdb_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with_cap = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", shingle_k=2, num_hashes=16, bands=8,
        max_bucket_size=5,
    ).collect()
    no_cap = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", shingle_k=2, num_hashes=16, bands=8,
        max_bucket_size=10**9,
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in with_cap) == sorted(
        (r.id_a, r.id_b) for r in no_cap
    )
    assert any(r.id_a == 1 and r.id_b == 2 for r in with_cap)


def test_cosine_lsh_bucket_cap(spark):
    """Degenerate embedding corpus: identical vectors land in one bucket per
    table; the cap bounds the candidate explosion."""
    from ago_sisdb_spark.operators import similarity

    dim = 8
    rows = [(i, [1.0] * dim) for i in range(30)] + [
        (100 + i, [float(j == i) for j in range(dim)]) for i in range(dim)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = similarity.cosine_neardup_lsh(
        df, "vec_id", "embedding", threshold=0.9, dim=dim, bits=4, tables=4,
        max_bucket_size=8, log_drops=True,
    )
    got = capped.collect()
    # the 30 identical vectors' bucket (size 30 > 8) is dropped everywhere
    assert not any(r.id_a < 100 and r.id_b < 100 for r in got)
    open_cap = similarity.cosine_neardup_lsh(
        df, "vec_id", "embedding", threshold=0.9, dim=dim, bits=4, tables=4,
        max_bucket_size=1000,
    )
    pairs = {(r.id_a, r.id_b) for r in open_cap.collect()}
    assert {(a, b) for a in range(30) for b in range(30) if a < b} <= pairs


def test_pack_sequences_invariants(spark):
    """Packing contract: bins fill contiguously per shard — every doc
    lands in exactly one bin, bin token totals stay within window+max_doc,
    and bin ids are dense from 0 per shard."""
    from ago_sisdb_spark.operators import prep

    rows = [(i, 10 + (i * 37) % 90) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, tokens bigint")
    packed = prep.pack_sequences(df, "doc_id", "tokens", window_tokens=256, n_shards=4)
    got = packed.collect()
    assert len(got) == 500  # every doc assigned exactly once
    per_bin = {}
    for r in got:
        per_bin.setdefault((r.shard, r.bin), []).append(r.tokens)
    max_doc = max(t for _, t in rows)
    for (shard, b), toks in per_bin.items():
        assert sum(toks) <= 256 + max_doc  # only the overflow doc crosses
    bins_by_shard = {}
    for shard, b in per_bin:
        bins_by_shard.setdefault(shard, set()).add(b)
    for shard, bins in bins_by_shard.items():
        assert bins == set(range(len(bins)))  # dense from 0


def test_quality_sample_deterministic_and_rates(spark):
    """Sampling contract: reproducible (same input → same rows) and the
    realized rate tracks the configured rate per bucket."""
    from ago_sisdb_spark.operators import prep

    rows = [(i, "a" if i % 2 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id bigint, bucket string")
    kept1 = {r.doc_id for r in prep.quality_sample(df, "doc_id", "bucket", {"a": 0.3, "b": 0.8}).collect()}
    kept2 = {r.doc_id for r in prep.quality_sample(df, "doc_id", "bucket", {"a": 0.3, "b": 0.8}).collect()}
    assert kept1 == kept2
    n_a = sum(1 for k in kept1 if k % 2)
    n_b = sum(1 for k in kept1 if not k % 2)
    assert abs(n_a / 2000 - 0.3) < 0.05
    assert abs(n_b / 2000 - 0.8) < 0.05


def test_decontaminate_finds_planted_overlap(spark):
    """A train doc sharing a 3-gram with the eval set is reported; clean
    docs are not."""
    from ago_sisdb_spark.operators import prep

    train = spark.createDataFrame(
        [
            (1, "the secret benchmark passage lives here today"),
            (2, "completely unrelated text about other topics entirely"),
        ],
        "doc_id bigint, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "we quote the secret benchmark passage verbatim")],
        "doc_id bigint, text string",
    )
    got = {r.train_id: r.n_shared_shingles for r in
           prep.decontaminate(train, eval_df, "doc_id", "text", ngram=3).collect()}
    assert 1 in got and got[1] >= 2  # "the secret benchmark", "secret benchmark passage"
    assert 2 not in got


def test_pii_redaction_planted(spark):
    """Planted email/phone/IP spans are tagged; clean text unchanged."""
    from ago_sisdb_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or +1 (555) 123-4567 now"),
            (2, "server at 192.168.001.12 responded"),
            (3, "perfectly clean prose with no identifiers"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id", T.redact_pii(F.col("text")).alias("red"),
        *[v.alias(k) for k, v in T.pii_counts(F.col("text")).items()],
    ).collect()}
    assert "<email>" in out[1].red and "<phone>" in out[1].red
    assert out[1].email == 1 and out[1].phone == 1
    assert out[2].red == "server at <ipv4> responded" and out[2].ipv4 == 1
    assert out[3].red == "perfectly clean prose with no identifiers"


def test_url_stats_counts_and_hosts(spark):
    from ago_sisdb_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "see https://Example.com/a and http://example.com/b plus https://other.org ok"),
            (2, "no links here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            T.url_stats(F.col("text"))["n_urls"].alias("n_urls"),
            T.url_stats(F.col("text"))["hosts"].alias("hosts"),
        ).collect()
    }
    assert out[1].n_urls == 3
    assert sorted(out[1].hosts) == ["example.com", "other.org"]  # lowercased, distinct
    assert out[2].n_urls == 0 and out[2].hosts == []


def test_paragraph_dedup_stats(spark):
    from ago_sisdb_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "alpha beta. gamma delta. alpha beta"),   # self-dup para
            (2, "alpha beta. unique here"),               # cross-doc dup of doc 1's para
            (3, "totally fresh text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc: r for r in T.paragraph_dedup_stats(docs, "doc_id", "text").collect()}
    # doc 1: 3 units, 'alpha beta' repeated → 2 kept
    assert (out[1].n_paras, out[1].n_kept) == (3, 2)
    # doc 2: 'alpha beta' already seen in doc 1 (lower packed key) → 1 kept
    assert (out[2].n_paras, out[2].n_kept) == (2, 1)
    assert (out[3].n_paras, out[3].n_kept) == (1, 1)
    assert out[3].dup_ratio == 0.0


def test_unigram_logprob_orders_quality(spark):
    """Docs made of corpus-common tokens outscore rare-token docs."""
    from ago_sisdb_spark.operators import text as T

    common = "the market opened higher the market closed lower"
    rows = [(i, common) for i in range(20)] + [(100, "zxqv kjwp qqrst vvbnm")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc: r.mean_logprob for r in
           T.unigram_logprob(df, "doc_id", "text").collect()}
    assert got[0] > got[100]


def test_bigram_logprob_closed_form_and_ordering(spark):
    """Hand-checked corpus: repeated natural bigrams outscore rare ones."""
    import math

    from ago_sisdb_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a zz qq b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc: r for r in T.bigram_logprob(docs, "doc_id", "text").collect()}
    # doc 1: 'a b' c2=3 / c1('a ·')=4 → 3×log10(.75); 'b a' c2=2/c1=2 → 0
    want = 3 * math.log10(0.75) / 5
    assert abs(out[1].mean_logprob - round(want, 6)) < 1e-9
    assert out[1].n_bigrams == 5
    assert out[1].mean_logprob > out[2].mean_logprob  # rare bigrams punished
    assert 3 not in out  # single-token doc has no bigrams


def test_lsh_cap_survives_planted_skew_bucket(spark, caplog):
    """Adversarial skew (r5 verdict #7): one degenerate boilerplate bucket
    far over the cap must (a) complete without generating its m² pairs,
    (b) be reported by log_drops, and (c) leave recall on the
    non-degenerate pairs untouched."""
    import logging

    from ago_sisdb_spark.operators import dedup as D

    boiler = "lorem ipsum dolor sit amet the quick brown fox jumps over"
    normal_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(10_000 + i, boiler) for i in range(60)]  # one bucket, size 60
    rows += [(1, f"{normal_a} pad1"), (2, f"{normal_a} pad2")]
    rows += [(i + 100, f"unique{i} filler{i} words{i} here{i} now{i}")
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    with caplog.at_level(logging.WARNING, logger="ago_sisdb_spark.operators.dedup"):
        capped = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_candidates(
                df, "doc_id", "text", max_bucket_size=20, log_drops=True
            ).collect()
        }
    # (a)+(c): no boilerplate pair survives; the normal near-dup pair does
    assert not any(a >= 10_000 or b >= 10_000 for a, b in capped)
    assert (1, 2) in capped
    # (b): the sacrifice is reported, not silent
    assert any("dropped" in rec.getMessage() for rec in caplog.records)

    full = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(
            df, "doc_id", "text", max_bucket_size=10**9
        ).collect()
    }
    nd = {p for p in full if p[0] < 10_000 and p[1] < 10_000}
    assert {p for p in capped if p[0] < 10_000 and p[1] < 10_000} == nd


def test_bigram_logprob_broadcast_shuffle_parity(spark):
    """The documented broadcast→shuffle fallback for the (bg → lp) table
    (r5 verdict #6: documented but never exercised): with the broadcast
    thresholds forced off and ``broadcast_lp=False``, the final
    per-occurrence join runs as a shuffle join and must produce
    byte-identical scores."""
    import random

    from ago_sisdb_spark.operators import text as T

    rnd = random.Random(31)
    vocab = [f"w{i}" for i in range(50)]
    docs = spark.createDataFrame(
        [(i, " ".join(rnd.choices(vocab, k=rnd.randint(2, 30))))
         for i in range(120)],
        "doc_id long, text string",
    )
    want = sorted(
        (r.doc, r.mean_logprob, r.n_bigrams)
        for r in T.bigram_logprob(docs, "doc_id", "text").collect()
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in old:
            spark.conf.set(k, "-1")
        shuffled = T.bigram_logprob(
            docs, "doc_id", "text", broadcast_lp=False
        )
        got = sorted(
            (r.doc, r.mean_logprob, r.n_bigrams) for r in shuffled.collect()
        )
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        # the lp join really left the broadcast strategy
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want


def test_duplicated_spans_planted_and_negative(spark):
    """Planted 16-token span shared by docs 1 and 2 at different offsets is
    flagged at the right start positions; fully-unique docs yield
    nothing."""
    from ago_sisdb_spark.operators import dedup as D

    shared = " ".join(f"s{i}" for i in range(16))
    pre1 = " ".join(f"a{i}" for i in range(8))
    pre2 = " ".join(f"b{i}" for i in range(16))
    rows = [
        (1, f"{pre1} {shared}"),                       # span at tokens 8..23
        (2, f"{pre2} {shared} tail1 tail2"),           # span at tokens 16..31
        (3, " ".join(f"c{i}" for i in range(40))),     # unique
        (4, " ".join(f"d{i}" for i in range(40))),     # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.duplicated_spans(df, "doc_id", "text", 16, 8, 2)
    got = {(r.doc, r.start_tok) for r in out.collect()}
    # stride 8 lands exactly on both planted offsets
    assert (1, 8) in got and (2, 16) in got
    assert all(doc in (1, 2) for doc, _ in got)
    assert all(r.n_docs_sharing == 2 for r in out.collect())


def test_duplicated_spans_short_docs_and_args(spark):
    """Docs shorter than one span emit no windows; bad args rejected."""
    import pytest

    from ago_sisdb_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "only four tokens here"), (2, "only four tokens here")],
        "doc_id long, text string",
    )
    assert D.duplicated_spans(df, "doc_id", "text", 16, 8, 2).count() == 0
    # at span 4 the two identical docs DO share their single window
    assert D.duplicated_spans(df, "doc_id", "text", 4, 4, 2).count() == 2
    with pytest.raises(ValueError):
        D.duplicated_spans(df, "doc_id", "text", 0, 8)
    with pytest.raises(ValueError):
        D.duplicated_spans(df, "doc_id", "text", 16, -1)


def test_minhash_incremental_screen_finds_planted_neardup(spark, tmp_path):
    """A batch doc that shares most of its shingles with a history doc
    must surface as a candidate pair from the materialized index; an
    unrelated doc must not.  Re-screening a history doc matches itself
    only through OTHER docs (self-pair excluded)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    hist_rows = [(i, f"{base} filler{i} " + "pad pad pad") for i in range(20)]
    hist_rows += [(100, "completely different text about unrelated topics entirely")]
    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (1000, f"{base} filler3 pad pad pad"),   # near-dup of hist 3
            (1001, "nothing in common with anything stored before today"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mhidx")
    dedup.build_minhash_index(hist, "doc_id", "text", path)
    idx = dedup.load_minhash_index(spark, path)
    out = dedup.minhash_screen_batch(batch, idx, "doc_id", "text").collect()
    hits = {(r.batch_id, r.hist_id) for r in out}
    assert any(b == 1000 for b, _ in hits)
    assert not any(b == 1001 for b, _ in hits)


def test_minhash_screen_batch_matches_inline_candidates(spark, tmp_path):
    """Index-based screen of corpus-vs-corpus must produce exactly the
    symmetric closure of the inline self-join candidates (same bands,
    same buckets — only the dedup of (a<b) differs)."""
    rows = [
        (i, "one two three four five six seven " + ("x " * (i % 3)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    inline = dedup.minhash_lsh_candidates(df, "doc_id", "text").collect()
    path = str(tmp_path / "mhidx2")
    dedup.build_minhash_index(df, "doc_id", "text", path)
    idx = dedup.load_minhash_index(spark, path)
    screened = dedup.minhash_screen_batch(df, idx, "doc_id", "text").collect()
    inline_pairs = {(r.id_a, r.id_b, r.n_shared_bands) for r in inline}
    sym = {(min(r.batch_id, r.hist_id), max(r.batch_id, r.hist_id), r.n_shared_bands)
           for r in screened}
    assert sym == inline_pairs


def test_property_minhash_screen_random_parity(spark, tmp_path):
    """Random corpora: index-screen of corpus-vs-itself always equals the
    inline candidates' symmetric closure (seeded trials)."""
    import random

    rnd = random.Random(77)
    for trial in range(2):
        vocab = [f"w{j}" for j in range(12)]
        rows = [
            (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(3, 9))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        inline = dedup.minhash_lsh_candidates(df, "doc_id", "text").collect()
        path = str(tmp_path / f"mh{trial}")
        dedup.build_minhash_index(df, "doc_id", "text", path)
        idx = dedup.load_minhash_index(spark, path)
        screened = dedup.minhash_screen_batch(df, idx, "doc_id", "text").collect()
        ip = {(r.id_a, r.id_b, r.n_shared_bands) for r in inline}
        sp = {(min(r.batch_id, r.hist_id), max(r.batch_id, r.hist_id),
               r.n_shared_bands) for r in screened}
        assert sp == ip, trial


def test_soft_dedup_weights_mass_conservation(spark):
    """Each unique text's weights must sum to ~1e6 (unit mass in exact
    millionths — floor division loses < c millionths per group), singletons
    get exactly 1e6, and every input row survives."""
    docs = [(i, "dup" if i < 6 else ("pair" if i < 8 else f"u{i}")) for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.soft_dedup_weights(df, "doc_id", "text").collect()}
    assert len(got) == 12
    for i in range(6):
        assert (got[i].n_dups, got[i].weight_e6) == (6, 166666)
    for i in (6, 7):
        assert (got[i].n_dups, got[i].weight_e6) == (2, 500000)
    for i in range(8, 12):
        assert (got[i].n_dups, got[i].weight_e6) == (1, 1000000)
    assert sum(r.weight_e6 for r in got.values() if r.n_dups == 6) == 999996


def test_cluster_representatives_keep_longest(spark):
    """Planted component {1,2,3} (chain via pairs 1-2, 2-3): the longest
    member wins regardless of id order; length ties break to the lower id;
    singleton component {8,9} pair keeps its longer member."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest document of the group"),
            (3, "mid length"),
            (8, "same size"),
            (9, "same size"),
        ],
        "doc_id long, text string",
    )
    comp = dedup.connected_components(pairs)
    got = {
        r.component: (r.rep_id, r.rep_len, r.n_members)
        for r in dedup.cluster_representatives(comp, docs, "doc_id", "text").collect()
    }
    assert got == {
        1: (2, 33, 3),   # longest wins over lower-id 1
        8: (8, 9, 2),    # tie -> lower id
    }


def test_minhash_estimator_audit_exact_and_bounded(spark):
    """Estimator audit invariants on planted pairs: an exact duplicate
    pair estimates 1.0 with zero error; a disjoint-text collision (if
    any) estimates near 0; every row satisfies err = |est - jac| and
    0 <= est, jac <= 1e6; and the near-dup pair's estimate lands within
    3/32 quantization steps of its true Jaccard."""
    base = " ".join(f"tok{i:02d}" for i in range(20))
    docs = [
        (1, base),
        (2, base),                       # exact dup: est == jac == 1e6
        (3, base + " tail21 tail22"),    # near dup of 1/2
        (4, " ".join(f"other{i:02d}" for i in range(20))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = dedup.minhash_estimator_audit(df, "doc_id", "text").collect()
    got = {(r.id_a, r.id_b): r for r in rows}
    assert (1, 2) in got
    r12 = got[(1, 2)]
    assert (r12.est_e6, r12.jac_e6, r12.err_e6) == (1_000_000, 1_000_000, 0)
    for r in rows:
        assert 0 <= r.est_e6 <= 1_000_000 and 0 <= r.jac_e6 <= 1_000_000
        assert r.err_e6 == abs(r.est_e6 - r.jac_e6)
        assert 1 <= r.n_shared_bands <= 8
    if (1, 3) in got:
        # 32-hash estimate quantizes in 1/32 steps; allow 3 steps of error
        assert got[(1, 3)].err_e6 <= 3 * 1_000_000 // 32


# ----------------------------------------------------------------- winnowing


def _py_winnow(t: str, k: int = 8, w: int = 4):
    """Independent plain-Python winnowing (pairwise definition, no numpy,
    no shared code with the operator)."""
    t = t.strip(" ").lower()
    n = len(t)
    if n < k + w - 1:
        return set()
    hs = [
        sum(ord(t[i - 1 - j]) * 31**j for j in range(k))
        for i in range(k, n + 1)
    ]
    out = set()
    for j in range(len(hs) - w + 1):
        win = hs[j : j + w]
        m = min(win)
        idx = max(i for i, v in enumerate(win) if v == m)
        out.add((j + idx + k, m))
    return out


def test_winnow_matches_independent_python(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "abcabcabcabcabcabcabcabc"),
        (3, "aaaaaaaaaaaaaaaaaaaaa"),
        (4, "short"),
        (5, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in dedup.winnow_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for did, t in texts:
        exp = _py_winnow(t) if t is not None else set()
        assert got.get(did, set()) == exp, f"doc {did}"


def test_winnow_shared_substring_guarantee(spark):
    """The winnowing theorem: documents sharing a substring of length
    >= k + w - 1 (= 11) share at least one fingerprint."""
    shared = "zqxjkvbwpfm"  # 11 chars, appears in both
    df = spark.createDataFrame(
        [(1, "prefix one " + shared + " tail a"),
         (2, "completely different head " + shared)],
        "doc_id long, text string",
    )
    fps = {}
    for r in dedup.winnow_fingerprints(df, "doc_id", "text").collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "guaranteed common fingerprint missing"


def test_winnow_rightmost_tie_break(spark):
    """A constant-character doc makes every k-gram hash equal: each
    window must select its RIGHTMOST position, so selections advance
    one position per window (density 1) rather than sticking at the
    window head."""
    n = 20
    df = spark.createDataFrame([(1, "a" * n)], "doc_id long, text string")
    rows = dedup.winnow_fingerprints(df, "doc_id", "text", k=8, w=4).collect()
    poss = sorted(r["pos"] for r in rows)
    # windows j=0..n-k-w+1; rightmost min of window j is position j+w-1+k
    assert poss == list(range(8 + 3, n + 1))


def test_winnow_overlap_pairs_planted(spark):
    """Two docs sharing a long passage pair up with spans covering the
    shared region; an unrelated doc pairs with nobody; boilerplate
    shared by ALL docs (df > max_df) cannot by itself create pairs."""
    shared = "the rain in spain stays mainly on the plain"
    boiler = " COMMONFOOTERXYZ"
    rows = [
        (1, "alpha intro " + shared + boiler),
        (2, shared + " trailing words" + boiler),
        (3, "nothing in common here at all really" + boiler),
        (4, "fourth completely separate corpus entry" + boiler),
        (5, "zebra quilts jump over wax fjords nightly" + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.winnow_overlap_pairs(
            df, "doc_id", "text", max_df=2, min_shared=3
        ).collect()
    }
    assert set(got) == {(1, 2)}
    p = got[(1, 2)]
    # doc1's matched span sits inside the shared passage (offset 12)
    assert 12 < p["span_a_lo"] <= p["span_a_hi"] <= 12 + len(shared)
    assert p["span_b_lo"] <= p["span_b_hi"] <= len(shared)
    assert p["n_shared"] >= 3


def test_ngram_novelty_planted(spark):
    """A doc wholly plagiarized from another scores 0 novelty; a doc of
    fresh vocabulary scores 1e6; a half-copied doc lands in between with
    exact counts."""
    from pyspark.sql import functions as F

    src = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, src),                                   # all grams shared w/ 2
        (2, src),                                   # exact copy
        (3, "one two three four five six seven"),   # fresh vocab
        (4, src + " nine ten eleven twelve thirteen"),  # prefix copied
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingle_rows(docs, "doc_id", "text", k=5, min_words=5).distinct()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    got = {
        r["doc"]: (r["g"], r["u"])
        for r in sh.join(dfreq, "shingle").groupBy("doc").agg(
            F.count(F.lit(1)).alias("g"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("u"),
        ).collect()
    }
    # docs 1/2: 4 grams each, every one shared by >= 2 docs -> 0 unique
    assert got[1] == (4, 0) and got[2] == (4, 0)
    # doc 3: 3 grams, all unique
    assert got[3] == (3, 3)
    # doc 4: 13 words -> 9 grams; the 4 pure-src grams are shared with
    # docs 1/2, the 5 straddling/new ones are unique
    assert got[4] == (9, 5)


def test_ngram_novelty_window_shape_matches_joinback(spark, tmp_path):
    """r13 restructure guard: the production t33 (df via an UNBOUNDED
    count window on the gram key) returns row-identical results to the
    pre-r13 groupBy(shingle)+join-back formulation, and its plan carries
    NO join and NO broadcast — the old shape replayed the explode+distinct
    lineage per consumer and AQE broadcast the corpus-gram dfreq table, a
    per-execution HashedRelation over every distinct gram."""
    from pyspark.sql import functions as F

    from ago_sisdb_spark.inventory import extended_queries

    src = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, src),
        (2, src),
        (3, "one two three four five six seven"),
        (4, src + " nine ten eleven twelve thirteen"),
        (5, "short text"),  # < 5 words: dropped by min_words
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(sf + "/documents.parquet")

    out = extended_queries()["t33_ngram_novelty"](spark, sf)
    got = sorted(tuple(r) for r in out.collect())

    # independent old-shape twin on the same planted corpus
    sh = dedup.shingle_rows(docs, "doc_id", "text", k=5, min_words=5).distinct()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    want = sorted(
        tuple(r)
        for r in sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_grams",
            "n_unique",
            F.expr("(1000000 * n_unique) div n_grams").alias("novelty_e6"),
        )
        .collect()
    )
    assert got == want and len(got) == 4

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan
    assert plan.count("Window") >= 1


def test_portable_band_rows_kernel_matches_expression(spark):
    """r14 vectorization guard: ``minhash_band_rows`` (the mapInPandas md5/affine/fold kernel) is ROW-IDENTICAL to the expression
    formulation (shingle explode → conv(md5) hash → 32 min aggregates →
    polynomial band folds) on a corpus planted with the split-semantics
    edge cases the kernel must replay exactly: leading/trailing/mixed
    ASCII whitespace (Java ``\\s`` = [ \\t\\n\\x0B\\f\\r] — positive-width
    leading match keeps the empty first token, limit -1 keeps trailing
    empties), NBSP (NOT whitespace on either side), short docs (< k words
    → one truncated shingle when min_words is None), exactly-k docs,
    NULL text, and multi-byte UTF-8.  Also pins the plan shape: one
    MapInPandas, zero Generate/explode, zero HashAggregate before the
    band rows."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma delta"),
        (2, " \t leading and\ttab\nnewline\x0bvtab\fformfeed\rcr end "),
        (3, "exactly three words"),
        (4, "two words"),               # < 3: truncated shingle / dropped
        (5, ""),                        # split("") == [""] → 1 "word"
        (6, None),                      # NULL text emits nothing
        (7, "nbsp\u00a0is not whitespace on either engine"),
        (8, "ünïcödé überall naïve café résumé"),
        (9, "a  b   c    d"),           # runs of spaces collapse
        (10, "alpha beta gamma delta"),  # exact dup of 1: same buckets
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def expression_twin(min_words):
        mins = dedup._minhash_mins(
            docs, "doc_id", "text", 3, 32, min_words=min_words
        )

        def _bucket(b):
            acc = F.lit(b).cast("long")
            for j in range(4):
                acc = (acc * 31 + F.col(f"s{b * 4 + j}")) % F.lit(
                    dedup._MERSENNE
                )
            return acc

        return mins.select(
            "doc",
            F.posexplode(F.array(*[_bucket(b) for b in range(8)])).alias(
                "band", "bucket"
            ),
        )

    for mw in (None, 3):
        got = dedup.minhash_band_rows(
            docs, "doc_id", "text", 3, 32, 8, min_words=mw
        )
        want = expression_twin(mw)
        # names+types must match (mapInPandas output is always nullable,
        # so nullability legitimately differs from the expression form)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"kernel diverges from expression form (min_words={mw})"

    plan = (
        dedup.minhash_band_rows(
            docs, "doc_id", "text", 3, 32, 8, min_words=3
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "Generate" not in plan and "HashAggregate" not in plan


def test_band_rows_kernel_route_rejects_uneven_bands(corpus):
    """The mapInPandas kernel route refuses a ``num_hashes`` that ``bands`` does not divide, when the plan is built
    — not mid-job on the kernel's reshape."""
    with pytest.raises(ValueError, match="divide num_hashes"):
        dedup.minhash_band_rows(corpus, "doc_id", "text", 3, 30, 8)


def test_band_rows_streaming_route_rejects_uneven_bands(spark, tmp_path):
    """A streaming frame takes the same kernel route and fails the same
    way, before the query starts."""
    from ago_sisdb_spark.streaming.dedupe import streaming_minhash_screen

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="divide num_hashes"):
        dedup.minhash_band_rows(stream, "doc_id", "text", 3, 30, 8)
    with pytest.raises(ValueError, match="divide num_hashes"):
        streaming_minhash_screen(stream, "doc_id", "text", 3, 30, 8)


def test_band_rows_kernel_runs_on_string_ids(spark):
    """A string id column runs the same kernel: ``doc`` keeps the id
    column's type and values, and the buckets equal those of the same
    texts under bigint ids."""
    texts = ["one two three four", "five six seven eight", None]
    docs = spark.createDataFrame(
        list(zip(["a", "b", "c"], texts)), "doc_id string, text string"
    )
    out = dedup.minhash_band_rows(docs, "doc_id", "text", 3, 32, 8)
    assert out.schema["doc"].dataType.simpleString() == "string"
    rows = out.collect()
    assert len(rows) == 24  # 3 docs × 8 bands (NULL text: NULL buckets)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    by_long = dedup.minhash_band_rows(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string"),
        "doc_id", "text", 3, 32, 8,
    ).collect()
    assert sorted((r.doc, r.band, r.bucket) for r in rows) == sorted(
        ("abc"[r.doc], r.band, r.bucket) for r in by_long
    )


def test_winnow_property_random_batch(spark):
    """Property check, batched (one Spark call per hypothesis-style
    batch, seeds fixed — a session per example is prohibitive): on
    random lowercase strings the operator agrees with the independent
    pairwise-Python winnow everywhere, including tie-heavy low-alphabet
    strings."""
    import random

    rng = random.Random(1234)
    texts = []
    for i in range(40):
        alpha = "ab" if i % 3 == 0 else "abcdefg "  # tie-heavy vs mixed
        n = rng.randint(0, 40)
        texts.append((i, "".join(rng.choice(alpha) for _ in range(n))))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in dedup.winnow_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for did, t in texts:
        assert got.get(did, set()) == _py_winnow(t), f"doc {did}: {t!r}"

"""Model checks for the r5 pipeline additions: weighted sampling,
perplexity buckets, BPE pairs, hashed classifier, MAD outliers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ago_sisdb_spark.operators import prep, series, text


def test_weighted_sample_deterministic_and_k(spark):
    rows = [(i, "g" if i % 2 else "h", float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    a = prep.weighted_sample_per_group(df, "id", "grp", "w", 5)
    b = prep.weighted_sample_per_group(df, "id", "grp", "w", 5)
    ra, rb = a.collect(), b.collect()
    assert sorted(r.id for r in ra) == sorted(r.id for r in rb)  # reproducible
    per = {}
    for r in ra:
        per.setdefault(r.grp, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())


def test_weighted_sample_skey_formula(spark):
    """skey must equal ln(u)/w with u from the Knuth gate — spot-check one
    row against the closed form."""
    df = spark.createDataFrame([(7, "g", 3.0)], "id long, grp string, w double")
    r = prep.weighted_sample_per_group(df, "id", "grp", "w", 1).collect()[0]
    u = ((7 % 1000003) * 2654435761 % 1000003 + 1) / 1000004.0
    assert r.skey == round(math.log(u) / 3.0, 6)


def test_weighted_sample_zero_weight_excluded(spark):
    df = spark.createDataFrame(
        [(1, "g", 0.0), (2, "g", -1.0), (3, "g", 2.0)],
        "id long, grp string, w double",
    )
    out = prep.weighted_sample_per_group(df, "id", "grp", "w", 10).collect()
    assert [r.id for r in out] == [3]


def test_perplexity_buckets_tiers(spark):
    """30 docs, one language: ntile(3) must yield three tiers of 10, and
    every head doc must score >= every tail doc."""
    rows = [(i, "common common common" if i < 15 else f"rare{i} word{i} x{i}", "en")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = text.perplexity_buckets(df, "doc_id", "text", "lang", 3).collect()
    tiers = {}
    for r in out:
        tiers.setdefault(r.tier, []).append(r.lp)
    assert {len(v) for v in tiers.values()} == {10}
    assert min(tiers["head"]) >= max(tiers["tail"])


def test_bpe_pairs_counts(spark):
    """'abab ab' → pairs ab,ba,ab within 'abab' + ab in 'ab': ab=3, ba=1."""
    df = spark.createDataFrame([(1, "abab ab")], "id long, text string")
    out = {r.pair: r.n for r in text.bpe_pair_counts(df, "text", 10).collect()}
    assert out == {"ab": 3, "ba": 1}


def test_bpe_pairs_single_char_words_ignored(spark):
    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    assert text.bpe_pair_counts(df, "text", 10).count() == 0


def test_hashed_classifier_trained_weights_path(spark):
    """With an explicit weight table the score must be the exact mean of
    the looked-up weights (missing features → 0)."""
    from ago_sisdb_spark.operators.dedup import portable_hash60

    df = spark.createDataFrame([(1, "good good bad")], "doc_id long, text string")
    feats = (
        df.select(F.explode(F.split("text", " ")).alias("tok"))
        .select(
            F.col("tok"),
            (portable_hash60(F.concat(F.lit("w#"), F.col("tok"))) % 2001).alias("f"),
        )
        .collect()
    )
    fmap = {r.tok: r.f for r in feats}
    weights = spark.createDataFrame(
        [(fmap["good"], 1.0), (fmap["bad"], -0.5)], "feature long, weight double"
    )
    r = text.hashed_linear_score(df, "doc_id", "text", weights=weights).collect()[0]
    assert r.score == round((1.0 + 1.0 - 0.5) / 3, 6)
    assert bool(r.keep) is True


def test_mad_outliers_flags_planted_spike(spark):
    """99 values in [0,1] plus one spike at 1000 → exactly one outlier;
    a constant series flags nothing."""
    rows = [("a", float(i % 10) / 10.0) for i in range(99)] + [("a", 1000.0)]
    rows += [("c", 5.0)] * 50
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {r.grp: r for r in series.mad_outliers(df, "grp", "value").collect()}
    assert out["a"].n_outliers == 1
    assert out["c"].n_outliers == 0 and out["c"].mad == 0.0


def test_cdc_chunks_reassemble(spark):
    """Chunks must concatenate back to the (trimmed, lowered) document, in
    chunk_idx order, for every doc."""
    from ago_sisdb_spark.operators import dedup

    rows = [(i, f"Document {i} body " * (3 + i % 5)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ch = dedup.cdc_chunk_docs(df, "doc_id", "text").collect()
    by_doc = {}
    for r in sorted(ch, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc[r.doc_id] = by_doc.get(r.doc_id, "") + r.chunk
    for i, (_, text) in enumerate(rows):
        assert by_doc[i] == text.strip(" ").lower()


def test_cdc_boundaries_survive_prefix_insert(spark):
    """The CDC property fixed-size blocks lack: prepending text leaves the
    tail chunks identical, so shared content still dedups."""
    from ago_sisdb_spark.operators import dedup

    body = "the quick brown fox jumps over the lazy dog " * 20
    df = spark.createDataFrame(
        [(1, body), (2, "XYZZY PREFIX 12345 " + body)],
        "doc_id long, text string",
    )
    ch = dedup.cdc_chunk_docs(df, "doc_id", "text").collect()
    c1 = {r.chunk for r in ch if r.doc_id == 1}
    c2 = {r.chunk for r in ch if r.doc_id == 2}
    shared = c1 & c2
    # all but the first boundary-straddling chunk of each doc must match
    assert len(shared) >= len(c1) - 2


def test_duplicate_chunks_flags_shared_boilerplate(spark):
    from ago_sisdb_spark.operators import dedup

    boiler = "subscribe to our newsletter for updates " * 5
    rows = [(i, f"unique body {i} {i*7} " + boiler) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dup = dedup.duplicate_chunks(df, "doc_id", "text").collect()
    assert any(r.n_docs == 10 for r in dup)  # boilerplate chunk seen in all


def test_dsir_scores_targetlike_higher(spark):
    """Raw docs sharing the target's vocabulary must out-score docs from a
    disjoint vocabulary."""
    tgt = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon") for i in range(20)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, "alpha beta gamma delta" if i < 10 else "zeta eta theta iota")
         for i in range(20)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.logratio
           for r in prep.dsir_importance(raw, tgt, "doc_id", "text").collect()}
    like = min(out[i] for i in range(10))
    unlike = max(out[i] for i in range(10, 20))
    assert like > unlike


def test_property_cms_one_sided_random_streams(spark):
    """Property: for ANY stream and any (depth, width), est(term) >= exact
    count for every probed term — the one-sided CMS guarantee.  Seeded
    pseudo-random trials (one Spark session per hypothesis example would
    be prohibitive)."""
    import random

    from ago_sisdb_spark.operators import sketch

    rnd = random.Random(97)
    for trial in range(3):
        depth = rnd.choice([2, 3, 4])
        width = rnd.choice([8, 32, 128])  # narrow → forces collisions
        vocab = [f"t{j}" for j in range(rnd.randrange(20, 120))]
        stream = [rnd.choice(vocab) for _ in range(600)]
        exact = {}
        for t in stream:
            exact[t] = exact.get(t, 0) + 1
        df = spark.createDataFrame([(t,) for t in stream], "term string")
        cms = sketch.cms_build(df, "term", depth, width)
        probes = spark.createDataFrame([(t,) for t in vocab], "term string")
        est = {
            r.term: r.est
            for r in sketch.cms_estimate(cms, probes, "term", depth, width).collect()
        }
        for t in vocab:
            assert est[t] >= exact.get(t, 0), (trial, t, est[t], exact.get(t, 0))


def test_property_cdc_reassembly_random_texts(spark):
    """Property: for ANY text, CDC chunks concatenate back to the
    normalized document and every chunk is non-empty."""
    import random
    import string

    from ago_sisdb_spark.operators import dedup

    rnd = random.Random(431)
    alphabet = string.ascii_letters + string.digits + "    .,;!?"
    rows = []
    for i in range(40):
        n = rnd.randrange(0, 300)
        rows.append((i, "".join(rnd.choice(alphabet) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ch = dedup.cdc_chunk_docs(df, "doc_id", "text").collect()
    assert all(len(r.chunk) > 0 for r in ch)
    by_doc = {}
    for r in sorted(ch, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc[r.doc_id] = by_doc.get(r.doc_id, "") + r.chunk
    for i, t in rows:
        norm = t.strip(" ").lower()
        if norm:
            assert by_doc[i] == norm, i
        else:
            assert i not in by_doc


def test_ncm_planted_clusters_perfect_diagonal(spark):
    """Vectors planted tightly around orthogonal class directions must
    classify to their own class mean — all confusion mass on the
    diagonal; centroids must be the exact per-class dim means."""
    from ago_sisdb_spark.operators import embed

    rows = []
    for i in range(60):
        label = i % 3
        base = [0.0] * 6
        base[label * 2] = 10.0
        base[label * 2 + 1] = 10.0
        base[(label * 2 + 3) % 6] += (i % 5) * 0.1  # small noise
        rows.append((i, label, base))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    conf = embed.ncm_confusion(df, "vec_id", "label", "embedding").collect()
    assert all(r.label == r.pred_label for r in conf)
    assert sum(r.n_vecs for r in conf) == 60
    cent = {
        (r.label, r.dim_idx): r.mean_val
        for r in embed.class_centroids(df, "label", "embedding").collect()
    }
    import statistics

    expect = statistics.mean(
        rows[i][2][0] for i in range(0, 60, 3)
    )
    assert abs(cent[(0, 0)] - expect) < 1e-9


def test_trigram_lid_distinct_alphabets_perfect_diagonal(spark):
    """Languages with disjoint character inventories must classify
    perfectly — all confusion mass diagonal."""
    rows = []
    for i in range(30):
        if i % 2 == 0:
            rows.append((i, "aaa bbb ccc abc cab bca aab", "aa"))
        else:
            rows.append((i, "xxx yyy zzz xyz zyx yzx xxy", "zz"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = text.trigram_lid_confusion(df, "doc_id", "text", "lang").collect()
    assert all(r.label == r.pred_lang for r in out)
    assert sum(r.n_docs for r in out) == 30


def test_trigram_lid_broadcast_shuffle_parity(spark):
    """The documented broadcast→shuffle fallback for the LID profile join
    (r5 verdict #6): with broadcast thresholds forced off and
    ``broadcast_profile=False`` the scoring join runs shuffled and the
    confusion matrix must be identical."""
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "aaa bbb ccc abc cab bca aab", "aa"))
        else:
            rows.append((i, "xxx yyy zzz xyz zyx yzx xxy", "zz"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    want = sorted(
        (r.label, r.pred_lang, r.n_docs)
        for r in text.trigram_lid_confusion(df, "doc_id", "text", "lang").collect()
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in old:
            spark.conf.set(k, "-1")
        shuffled = text.trigram_lid_confusion(
            df, "doc_id", "text", "lang", broadcast_profile=False
        )
        got = sorted(
            (r.label, r.pred_lang, r.n_docs) for r in shuffled.collect()
        )
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want


def test_int8_quant_error_bound_and_checksum(spark):
    """Reconstruction error <= scale/2 for every vector; a constant vector
    quantizes to all-zero codes with zero error; extremes map to 0/255."""
    from ago_sisdb_spark.operators import embed

    rows = [
        (1, [0.0, 1.0, 0.5, 0.25]),
        (2, [3.0, 3.0, 3.0, 3.0]),
        (3, [-2.0, 2.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in embed.quantize_int8_report(df, "vec_id", "embedding").collect()}
    assert out[1].max_abs_err <= out[1].scale / 2 + 1e-9
    # vec 1: codes for [0, 1, .5, .25] = [0, 255, 128, 64] (floor(x/scale+.5))
    assert out[1].code_sum == 0 + 255 + 128 + 64
    assert out[2].code_sum == 0 and out[2].max_abs_err == 0.0 and out[2].scale == 0.0
    assert out[3].max_abs_err <= out[3].scale / 2 + 1e-9


def test_bpe_train_closed_form_and_encode(spark):
    """Hand-computed corpus: 'aaab' x2 + 'ab' x1 trains exactly
    [a a -> aa (4), a b -> ab (3), aa ab -> aaab (2)] then stops (no
    pairs left).  Encoding with those merges collapses each word to one
    token."""
    docs = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], "doc_id long, text string"
    )
    m = text.bpe_train(docs, "text", n_merges=6).orderBy("merge_rank").collect()
    got = [(r.merge_rank, r.pair, r.merged, r.pair_count) for r in m]
    assert got == [(1, "a a", "aa", 4), (2, "a b", "ab", 3), (3, "aa ab", "aaab", 2)]
    enc = text.bpe_encode_counts(
        docs, "doc_id", "text", [(r.pair, r.merged) for r in m]
    ).collect()
    counts = {r.doc_id: r.n_bpe_tokens for r in enc}
    assert counts == {1: 2, 2: 1}  # two 'aaab' tokens; one 'ab' token


def test_bpe_artifact_train_save_load_encode(spark, tmp_path):
    """Tokenizer train/serve split (same pattern as the IVF/PQ indexes):
    train → persist merge table → load → encode must equal encoding with
    the in-memory merge list, in merge order."""
    docs = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab"), (3, "bbbb")], "doc_id long, text string"
    )
    trained = text.bpe_train(docs, "text", n_merges=4)
    path = str(tmp_path / "merges")
    text.save_bpe_merges(trained, path)
    loaded = text.load_bpe_merges(spark, path)
    in_mem = [(r.pair, r.merged) for r in trained.orderBy("merge_rank").collect()]
    assert loaded == in_mem and len(loaded) >= 3
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in text.bpe_encode_counts(docs, "doc_id", "text", loaded).collect()
    }
    want = {
        r.doc_id: r.n_bpe_tokens
        for r in text.bpe_encode_counts(docs, "doc_id", "text", in_mem).collect()
    }
    assert got == want
    assert text.load_bpe_merges(spark, str(tmp_path / "never")) is None


def test_bpe_merge_boundary_and_runs(spark):
    """The two failure modes of substring-replace merge application
    (r5 verdict bug): (a) a merged symbol's rendering colliding with a
    later winning pair — after ``a b -> ab``, word 'abc' renders 'ab c';
    a later winner ``b c`` must NOT fuse it (symbols are [ab, c], the
    (b, c) pair does not exist at symbol level); (b) runs of 4+ identical
    symbols — greedy left-to-right on 'bbbbbb' must give [bb, bb, bb],
    not the space-padded-replace answer [bb, b, bb, b]."""
    docs = spark.createDataFrame(
        [(1, "ab ab ab abc"), (2, "bc bc bc")], "doc_id long, text string"
    )
    m = text.bpe_train(docs, "text", n_merges=6).orderBy("merge_rank").collect()
    got = [(r.merge_rank, r.pair, r.merged, r.pair_count) for r in m]
    # round 1: (a,b) = 3x'ab' + 1x'abc' = 4; round 2: (b,c) = 3x'bc'
    # (the b inside 'abc' is consumed — symbols [ab, c]); round 3: (ab,c).
    assert got == [(1, "a b", "ab", 4), (2, "b c", "bc", 3), (3, "ab c", "abc", 1)]

    runs = spark.createDataFrame([(1, "bbbbbb")], "doc_id long, text string")
    m2 = text.bpe_train(runs, "text", n_merges=6).orderBy("merge_rank").collect()
    got2 = [(r.merge_rank, r.pair, r.merged, r.pair_count) for r in m2]
    # greedy: [b]*6 -> [bb,bb,bb] -> [bbbb,bb] -> [bbbbbb]
    assert got2 == [
        (1, "b b", "bb", 5),
        (2, "bb bb", "bbbb", 2),
        (3, "bbbb bb", "bbbbbb", 1),
    ]
    enc = text.bpe_encode_counts(
        runs, "doc_id", "text", [("b b", "bb")]
    ).collect()
    assert enc[0].n_bpe_tokens == 3  # [bb, bb, bb], not [bb, b, bb, b]


def _ref_bpe_train(word_weights, n_merges):
    """Independent plain-Python Sennrich BPE (not a SQL restatement of
    the operator): vocabulary of symbol tuples, per-round weighted pair
    counts, (count DESC, pair-string ASC) argmax, exact greedy
    left-to-right non-overlapping merge application."""
    vocab = {}
    for w, wt in word_weights.items():
        t = tuple(w)
        vocab[t] = vocab.get(t, 0) + wt
    merges = []
    for r in range(n_merges):
        counts = {}
        for syms, wt in vocab.items():
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + wt
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        merges.append((r + 1, a + " " + b, a + b, n))
        new = {}
        for syms, wt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new[t] = new.get(t, 0) + wt
        vocab = new
    return merges, vocab


def test_bpe_vs_independent_reference_impl(spark):
    """Cross-check the distributed BPE trainer AND encoder against the
    naive Python implementation on a collision-rich random corpus (small
    alphabet forces merged-symbol/pair collisions and long runs).  This
    is the independent-implementation check the verbatim-oracle family
    needs — a shared-flaw oracle cannot pass it."""
    import random

    rnd = random.Random(42)
    words = [
        "".join(rnd.choices("ab c", k=rnd.randint(1, 8))).replace(" ", "") or "a"
        for _ in range(300)
    ]
    texts = []
    for i in range(0, len(words), 10):
        texts.append(" ".join(words[i : i + 10]))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ww = {}
    for w in words:
        if w:
            ww[w] = ww.get(w, 0) + 1
    ref_merges, _ = _ref_bpe_train(ww, 8)
    m = text.bpe_train(docs, "text", n_merges=8).orderBy("merge_rank").collect()
    got = [(r.merge_rank, r.pair, r.merged, r.pair_count) for r in m]
    assert got == ref_merges

    # encoder parity: apply the trained merges to every word in Python
    pairs = [(p, mg) for _, p, mg, _ in ref_merges]
    ref_counts = {}
    for i, t in enumerate(texts):
        tot = 0
        for w in t.split():
            syms = list(w)
            for p, mg in pairs:
                a, b = p.split(" ")
                out, j = [], 0
                while j < len(syms):
                    if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                        out.append(mg)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                syms = out
            tot += len(syms)
        ref_counts[i] = tot
    enc = text.bpe_encode_counts(docs, "doc_id", "text", pairs).collect()
    assert {r.doc_id: r.n_bpe_tokens for r in enc} == ref_counts


def test_incremental_prep_batch_model(spark, tmp_path):
    """Planted incremental batch: an exact re-ingest of a history doc is
    dropped by the digest screen, a near-dup of a history doc by the
    MinHash screen, a short/punct-heavy doc by the quality gate, and the
    survivor packs into a bin CONTINUING from the history's token total
    (first_bin > 0)."""
    from ago_sisdb_spark.operators import dedup

    base = " ".join(f"tok{i}" for i in range(60))  # 60 tokens, len >= 50
    neardup = base.replace("tok59", "changed59")
    other = " ".join(f"alt{i}" for i in range(60))
    hist = spark.createDataFrame(
        [(16, base), (32, other)], "doc_id long, text string"
    )  # both shard 0
    batch = spark.createDataFrame(
        [
            (48, base),              # exact dup of history → digest screen
            (64, neardup),           # near-dup → MinHash screen
            (80, "short!!"),         # quality gate
            (96, " ".join(f"new{i}" for i in range(70))),  # survivor
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    dedup.build_minhash_index(hist, "doc_id", "text", idx)
    index = dedup.load_minhash_index(spark, idx)
    digests = hist.select(F.md5("text").alias("digest")).distinct()
    state = spark.createDataFrame([(0, 120)], "shard long, base_tokens long")
    out = {
        r.shard: r
        for r in prep.incremental_prep_batch(
            batch, digests, index, state, min_shared_bands=2,
            n_shards=16, window_tokens=100,
        ).collect()
    }
    assert list(out) == [0]  # every batch doc is shard 0
    r = out[0]
    assert r.n_docs == 1 and r.total_tokens == 70
    # 120 base tokens / 100-token windows → survivor starts in bin 1
    assert r.first_bin == 1 and r.n_bins == 1


def test_cusum_detects_planted_level_shift(spark):
    """A series that jumps +10σ at midpoint: peak near the shift, flagged
    changed; a stationary series is not flagged."""
    import random

    rnd = random.Random(11)
    rows = [("shift", i, rnd.gauss(0, 1) + (10.0 if i >= 100 else 0.0))
            for i in range(200)]
    rows += [("flat", i, rnd.gauss(0, 1)) for i in range(200)]
    rows += [("const", i, 7.0) for i in range(50)]  # stddev == 0
    rows += [("single", 0, 3.0)]  # stddev_samp NULL
    df = spark.createDataFrame(rows, "g string, i long, v double")
    out = {r.g: r for r in series.cusum_changepoint(df, "g", "i", "v").collect()}
    assert bool(out["shift"].changed) is True
    assert 80 <= out["shift"].peak_at <= 120  # peak at the change point
    assert bool(out["flat"].changed) is False
    # degenerate series must SURFACE as unchanged, not vanish (r5 advice)
    for g, n in (("const", 50), ("single", 1)):
        assert out[g].n == n and out[g].peak_cusum == 0.0
        assert out[g].peak_at is None and bool(out[g].changed) is False


def test_property_int8_quant_bound_random_vectors(spark):
    """Random vectors: reconstruction error never exceeds scale/2 and
    codes checksum stays within [0, 255*dim]."""
    import random

    rnd = random.Random(3)
    from ago_sisdb_spark.operators import embed

    rows = [
        (i, [rnd.uniform(-10, 10) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for r in embed.quantize_int8_report(df, "vec_id", "embedding").collect():
        assert r.max_abs_err <= r.scale / 2 + 1e-9
        assert 0 <= r.code_sum <= 255 * 16


def test_curriculum_packing_orders_tiers_first(spark):
    """pack_sequences with (tier, id) order: within every shard, bin 0's
    max tier never exceeds the last bin's min tier when multiple bins
    exist (easy docs pack first)."""
    rows = [(i, (3 - (i % 3)), 100) for i in range(48)]  # tiers 1..3, 100 toks
    df = spark.createDataFrame(rows, "doc_id long, tier_no int, tokens long")
    packed = prep.pack_sequences(
        df, "doc_id", "tokens", window_tokens=400, n_shards=2,
        order_cols=[F.col("tier_no"), F.col("doc_id")],
    )
    agg = packed.groupBy("shard", "bin").agg(
        F.min("tier_no").alias("mn"), F.max("tier_no").alias("mx")
    ).collect()
    by_shard = {}
    for r in agg:
        by_shard.setdefault(r.shard, []).append((r.bin, r.mn, r.mx))
    for shard, bins in by_shard.items():
        bins.sort()
        assert bins[0][2] <= bins[-1][1] or len(bins) == 1


def test_incremental_prep_in_batch_near_dups(spark, tmp_path):
    """Two near-duplicates ARRIVING IN THE SAME BATCH share no history
    doc, so the index screen alone keeps both (the ADVICE r6 gap); the
    in-batch prune drops the higher id, mirroring full_prep_pipeline's
    in-corpus rule.  With in_batch_prune=False the documented divergence
    reappears (both survive)."""
    from ago_sisdb_spark.operators import dedup

    hist = spark.createDataFrame(
        [(16, " ".join(f"old{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    twin = " ".join(f"pair{i}" for i in range(70))
    batch = spark.createDataFrame(
        [(32, twin), (64, twin.replace("pair69", "tweak"))],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    dig, st = prep.prep_state_paths(str(tmp_path), "corpus")
    dedup.build_minhash_index(hist, "doc_id", "text", idx)
    prep.build_prep_state(hist, dig, st, n_shards=16)
    digests, state = prep.load_prep_state(spark, dig, st)
    index = dedup.load_minhash_index(spark, idx)

    pruned = {r.shard: r for r in prep.incremental_prep_batch(
        batch, digests, index, state, window_tokens=100
    ).collect()}
    assert pruned[0].n_docs == 1 and pruned[0].total_tokens == 70

    both = {r.shard: r for r in prep.incremental_prep_batch(
        batch, digests, index, state, window_tokens=100,
        in_batch_prune=False,
    ).collect()}
    assert both[0].n_docs == 2 and both[0].total_tokens == 140


def test_global_shuffle_is_a_permutation(spark):
    """Every doc appears exactly once; per-shard positions are contiguous
    1..count; the layout is reproducible; a different seed reorders."""
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = prep.global_shuffle(df, "doc_id", n_shards=8, seed=17).collect()
    b = prep.global_shuffle(df, "doc_id", n_shards=8, seed=17).collect()
    assert sorted(r.doc_id for r in a) == list(range(500))
    assert {(r.doc_id, r.shard, r.pos) for r in a} == {
        (r.doc_id, r.shard, r.pos) for r in b
    }
    per = {}
    for r in a:
        per.setdefault(r.shard, []).append(r.pos)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    c = {r.doc_id: (r.shard, r.pos) for r in
         prep.global_shuffle(df, "doc_id", n_shards=8, seed=18).collect()}
    moved = sum((c[r.doc_id] != (r.shard, r.pos)) for r in a)
    assert moved > 400  # new seed reshuffles nearly everything


def test_global_shuffle_not_id_ordered(spark):
    """The point of the operator: shard-internal order must not be id
    order (a sorted corpus stays sorted under a broken shuffle)."""
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    rows = prep.global_shuffle(df, "doc_id", n_shards=4, seed=17).collect()
    per = {}
    for r in rows:
        per.setdefault(r.shard, []).append((r.pos, r.doc_id))
    inversions = 0
    for v in per.values():
        ids = [d for _, d in sorted(v)]
        inversions += sum(a > b for a, b in zip(ids, ids[1:]))
    assert inversions > 100  # id order thoroughly destroyed


def test_epoch_mix_integer_and_fractional(spark):
    rows = [(i, "hi" if i < 100 else "lo") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = prep.epoch_mix(df, "doc_id", "src", {"hi": 2.5, "lo": 1.0}).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    # lo docs: exactly epoch [1]; hi docs: [1,2] or [1,2,3]
    assert all(sorted(per_doc[i]) == [1] for i in range(100, 200))
    n3 = 0
    for i in range(100):
        eps = sorted(per_doc[i])
        assert eps in ([1, 2], [1, 2, 3])
        n3 += eps == [1, 2, 3]
    assert 30 <= n3 <= 70  # ~half get the fractional third epoch
    again = prep.epoch_mix(df, "doc_id", "src", {"hi": 2.5, "lo": 1.0}).collect()
    assert {(r.doc_id, r.epoch) for r in again} == {
        (r.doc_id, r.epoch) for r in out
    }  # the fractional half is the SAME docs every run


def test_epoch_mix_zero_and_default(spark):
    df = spark.createDataFrame(
        [(i, "drop" if i % 2 else "other") for i in range(100)],
        "doc_id long, src string",
    )
    out = prep.epoch_mix(
        df, "doc_id", "src", {"drop": 0.0}, default_epochs=0.5
    ).collect()
    assert all(r.source == "other" for r in out)  # 0 epochs -> absent
    assert all(r.epoch == 1 for r in out)
    assert 10 <= len(out) <= 40  # ~half of the 50 'other' docs


def test_shuffle_and_epoch_mix_reject_bad_params(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, src string")
    with pytest.raises(ValueError, match="n_shards"):
        prep.global_shuffle(df, "doc_id", n_shards=0)
    with pytest.raises(ValueError, match="epoch counts"):
        prep.epoch_mix(df, "doc_id", "src", {"a": -1.0})
    with pytest.raises(ValueError, match="epoch counts"):
        prep.epoch_mix(df, "doc_id", "src", {}, default_epochs=-0.5)


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """One parquet data file per shard directory; read-back rows arrive
    in (bin, pos) order within each file; nothing lost or duplicated."""
    import glob
    import os

    rows = [(i, 37 + (i * 7) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, tokens long")
    order = prep.global_shuffle(df.select("doc_id"), "doc_id", 4, 5)
    packed = prep.pack_sequences(
        order.join(df, "doc_id"), "doc_id", "tokens",
        window_tokens=256, shard_col="shard", order_cols=["pos"],
    )
    out = str(tmp_path / "shards")
    prep.write_training_shards(
        packed.select("doc_id", "pos", "tokens", "bin", "shard"),
        out, order_cols=["bin", "pos"],
    )
    dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(dirs) == 4
    for d in dirs:
        files = [f for f in glob.glob(os.path.join(d, "*.parquet"))]
        assert len(files) == 1, f"{d}: expected one file, got {files}"
        # in-file row order IS the training read order
        import pyarrow.parquet as pq

        t = pq.read_table(files[0], columns=["bin", "pos"]).to_pydict()
        seq = list(zip(t["bin"], t["pos"]))
        assert seq == sorted(seq)
    back = prep.read_training_shards(spark, out)
    assert back.count() == 200
    assert {r.doc_id for r in back.select("doc_id").collect()} == set(range(200))


def test_read_training_shards_prunes_directories(spark, tmp_path):
    """The resume path: a shard filter must show up as PartitionFilters
    (directory pruning), not a post-scan filter over all shards."""
    df = spark.createDataFrame(
        [(i, 50) for i in range(64)], "doc_id long, tokens long"
    )
    packed = prep.pack_sequences(df, "doc_id", "tokens", 512, n_shards=8)
    out = str(tmp_path / "shards")
    prep.write_training_shards(packed, out)
    sub = prep.read_training_shards(spark, out, shards=[2, 5])
    sub.collect()
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "shard" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert {r.shard for r in sub.select("shard").distinct().collect()} == {2, 5}


def test_training_manifest_matches_direct_agg(spark, tmp_path):
    """Manifest over the read-back == the same rollup computed on the
    pre-write frame, and a second write is byte-stable (idempotent)."""
    import hashlib
    import glob
    import os

    rows = [(i, 10 + i % 23) for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, tokens long")
    packed = prep.pack_sequences(df, "doc_id", "tokens", 128, n_shards=4)
    out = str(tmp_path / "shards")
    prep.write_training_shards(packed, out)

    def digest():
        h = hashlib.md5()
        for f in sorted(glob.glob(os.path.join(out, "shard=*", "*.parquet"))):
            h.update(open(f, "rb").read())
        return h.hexdigest()

    d1 = digest()
    got = {
        r.shard: (r.n_docs, r.n_bins, r.n_tokens, r.last_bin)
        for r in prep.training_manifest(
            prep.read_training_shards(spark, out)
        ).collect()
    }
    want = {
        r.shard: (r.n_docs, r.n_bins, r.n_tokens, r.last_bin)
        for r in packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("bin").alias("n_bins"),
            F.sum("tokens").alias("n_tokens"),
            F.max("bin").alias("last_bin"),
        )
        .collect()
    }
    assert got == want and len(got) == 4
    prep.write_training_shards(packed, out)
    assert digest() == d1


def test_shuffle_and_epoch_mix_survive_huge_ids(spark):
    """ids near 2^40 (real at 100 TB): the mod-BEFORE-multiply hash must
    stay inside int64 under ANSI mode — a raw id * 2654435761 would
    overflow and raise."""
    base = 1 << 40
    df = spark.createDataFrame(
        [(base + i,) for i in range(64)], "doc_id long"
    )
    out = prep.global_shuffle(df, "doc_id", n_shards=4, seed=17).collect()
    assert len(out) == 64 and all(0 <= r.shard < 4 and r.pos >= 1 for r in out)
    mixed = prep.epoch_mix(
        df.withColumn("src", F.lit("hi")), "doc_id", "src", {"hi": 2.5}
    ).collect()
    assert len(mixed) >= 2 * 64 and all(1 <= r.epoch <= 3 for r in mixed)


def test_global_shuffle_reseed_is_not_a_rotation(spark):
    """The epoch-reshuffle guarantee: with the seed in the multiplier,
    seed k+1's within-shard order must be a genuinely different
    permutation — an additive seed would make it a shard-relabel plus a
    ROTATION of the same sequence (the review-caught r7 bug), so assert
    seed 18's single-shard order is no cyclic rotation of seed 17's."""
    df = spark.createDataFrame([(i,) for i in range(257)], "doc_id long")

    def order(seed):
        rows = prep.global_shuffle(df, "doc_id", n_shards=1, seed=seed).collect()
        return [r.doc_id for r in sorted(rows, key=lambda r: r.pos)]

    a, b = order(17), order(18)
    assert sorted(a) == sorted(b) == list(range(257))
    doubled = a + a
    assert all(
        doubled[i : i + len(a)] != b for i in range(len(a))
    ), "reseeded order is a rotation of the original"


# --- incremental-vs-full divergence pins (r7 verdict #4) -----------------
# Each test pins one item of incremental_prep_batch's documented
# divergence list against the ACTUAL full_prep_pipeline.  Shards reveal
# survivor identity: shard = id % n_shards, and the test ids are chosen
# to land in distinct shards.

def _state(spark, tmp_path, hist, n_shards=16):
    from ago_sisdb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dig, st = prep.prep_state_paths(str(tmp_path), "corpus")
    dedup.build_minhash_index(hist, "doc_id", "text", idx)
    prep.build_prep_state(hist, dig, st, n_shards=n_shards)
    digests, state = prep.load_prep_state(spark, dig, st)
    from ago_sisdb_spark.operators import dedup as d

    return digests, d.load_minhash_index(spark, idx), state


def test_divergence_exact_keep_id(spark, tmp_path):
    """Divergence 1: same text in history (id 50) and batch (id 10).
    Incremental drops the batch copy regardless of id order; the full
    pipeline keeps the global lowest id (10) and drops 50."""
    T = " ".join(f"dup{i}" for i in range(60))
    hist = spark.createDataFrame([(50, T)], "doc_id long, text string")
    batch = spark.createDataFrame([(10, T)], "doc_id long, text string")
    digests, index, state = _state(spark, tmp_path, hist)

    inc = prep.screen_prep_batch(batch, digests, index)
    assert inc.count() == 0  # history copy wins, lower batch id or not

    full = {r.shard for r in
            prep.full_prep_pipeline(hist.unionByName(batch)).collect()}
    assert full == {10 % 16}  # lowest id survived; history id 50 dropped


def test_divergence_neardup_direction_and_threshold(spark, tmp_path):
    """Divergence 2: history doc 100 vs batch near-dup 3 sharing exactly
    ONE band (k=10 word swaps of a 70-word doc — pinned by the shared-band
    probe below).  Incremental keeps the batch doc at the default
    threshold (1 < min_shared_bands=2) and drops it at threshold 1 —
    always the BATCH side.  The full pipeline's any-band bucket-min rule
    instead drops the HIGHER id: history doc 100 dies, batch doc 3 lives."""
    from ago_sisdb_spark.operators import dedup

    base = [f"w{i}" for i in range(70)]
    T = " ".join(base)
    words = list(base)
    for j in range(10):
        words[(j * 7) % 70] = f"x{j}"
    V = " ".join(words)
    hist = spark.createDataFrame([(100, T)], "doc_id long, text string")
    batch = spark.createDataFrame([(3, V)], "doc_id long, text string")
    digests, index, state = _state(spark, tmp_path, hist)

    shared = {r.batch_id: r.n_shared_bands for r in dedup.minhash_screen_batch(
        batch, index, "doc_id", "text").collect()}
    assert shared == {3: 1}  # the scenario premise, pinned

    assert prep.screen_prep_batch(batch, digests, index).count() == 1
    assert prep.screen_prep_batch(
        batch, digests, index, min_shared_bands=1
    ).count() == 0

    full = {r.shard for r in
            prep.full_prep_pipeline(hist.unionByName(batch)).collect()}
    assert full == {3}  # shard 3 = batch doc kept; shard 4 (=100%16) gone


def test_divergence_bin_offsets(spark, tmp_path):
    """Divergence 3: batch id 3 sorts BETWEEN packed history ids 2 and 4.
    A full repack gives doc 3 bin 0 (cum tokens t < window); incremental
    continues at base_tokens = 2t and gives it bin 1."""
    from ago_sisdb_spark.operators import text as tx

    def doc(tag):
        return " ".join(f"{tag}{i}" for i in range(60))

    hist = spark.createDataFrame(
        [(2, doc("ha")), (4, doc("hb"))], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(3, doc("nb"))], "doc_id long, text string")
    t = hist.select(tx.token_count(F.col("text")).alias("t")).first().t
    window = int(1.5 * t)
    digests, index, state = _state(spark, tmp_path, hist, n_shards=1)

    inc = prep.incremental_prep_batch(
        batch, digests, index, state, n_shards=1, window_tokens=window
    ).collect()
    assert len(inc) == 1 and inc[0].first_bin == 1  # continues after base=2t

    union = hist.unionByName(batch)
    full_bins = {r.doc_id: r.bin for r in prep.pack_sequences(
        union.select("doc_id", tx.token_count(F.col("text")).alias("tokens")),
        "doc_id", "tokens", window_tokens=window, n_shards=1,
    ).collect()}
    assert full_bins == {2: 0, 3: 0, 4: 1}  # full repack: doc 3 in bin 0


def test_divergence_no_eval_screen(spark, tmp_path):
    """Divergence 4: batch doc id 194 (194 % 97 == 0) survives the
    incremental screen; the full pipeline drops it as eval-slice."""
    hist = spark.createDataFrame(
        [(16, " ".join(f"h{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(194, " ".join(f"e{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    digests, index, state = _state(spark, tmp_path, hist)

    assert prep.screen_prep_batch(batch, digests, index).count() == 1

    full = {r.shard for r in
            prep.full_prep_pipeline(hist.unionByName(batch)).collect()}
    assert full == {0}  # only hist doc 16 (shard 0); 194 (shard 2) dropped


def test_temperature_mix_flattens_skew(spark):
    """alpha=0.5 temperature mixing vs an independent integer model on a
    heavily skewed corpus: the dominant domain's achieved share must drop
    toward sqrt-flattened, the tail domain's must rise, and every plan
    column must match the Python model exactly (integer arithmetic, one
    IEEE sqrt per domain)."""
    import hashlib
    import math

    sizes = {"big": 900, "mid": 90, "tiny": 10}
    rows, i = [], 0
    for dom, n in sizes.items():
        for _ in range(n):
            rows.append((i, dom))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")

    rates = prep.temperature_rates(df, "source", target_frac_e6=500_000)
    got = {r["source"]: r.asDict() for r in rates.collect()}

    n_total = sum(sizes.values())
    weights = {
        d: math.floor(1000000.0 * math.sqrt(n / n_total))
        for d, n in sizes.items()
    }
    w_total = sum(weights.values())
    target = (n_total * 500_000) // 1_000_000
    for d, n in sizes.items():
        quota = (target * weights[d]) // w_total
        assert got[d]["weight"] == weights[d]
        assert got[d]["share_e6"] == (1_000_000 * weights[d]) // w_total
        assert got[d]["quota"] == quota
        assert got[d]["rate_e6"] == min(1_000_000, (1_000_000 * quota) // n)
    # temperature flattening: raw big share 0.9 -> sqrt share ~0.70;
    # tiny 0.01 -> ~0.07 (upweighted ~7x, clamped at keep-all)
    assert got["big"]["share_e6"] < 750_000
    assert got["tiny"]["share_e6"] > 60_000
    assert got["tiny"]["rate_e6"] == 1_000_000  # quota 35 > 10 docs -> clamp

    kept = prep.apply_mix_gate(df, "doc_id", "source", rates)
    kc = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # gate model: md5-based 60-bit hash mod 1e6 < rate
    def py_keep(did, rate):
        h = int(hashlib.md5(f"mix:{did}".encode()).hexdigest()[:15], 16)
        return h % 1_000_000 < rate

    exp = {d: 0 for d in sizes}
    for did, dom in rows:
        if py_keep(did, got[dom]["rate_e6"]):
            exp[dom] += 1
    assert kc == {d: n for d, n in exp.items() if n > 0}
    # tiny is fully kept; big is cut roughly in proportion to its rate
    assert kc["tiny"] == 10
    assert abs(kc["big"] - sizes["big"] * got["big"]["rate_e6"] / 1e6) < 60


def test_mixture_sample_targets_and_gate(spark):
    """mixture_sample (share-dict domain downsampling) vs a plain-Python
    model: per-domain keep decisions reproduce the Knuth gate exactly,
    keep_rate = min(1, share*budget/domain_tokens), absent domains get
    default_share=0 (dropped entirely), over-budget shares clamp to 1."""
    rows = []
    for i in range(300):
        dom = "web" if i < 200 else ("code" if i < 280 else "books")
        rows.append((i, dom, 10))
    df = spark.createDataFrame(rows, "doc_id long, domain string, toks int")
    shares = {"web": 0.25, "code": 0.9}  # books absent -> default 0
    budget = 2000
    kept = prep.mixture_sample(
        df, "doc_id", "domain", "toks", shares, budget
    ).collect()

    dom_toks = {"web": 2000, "code": 800, "books": 200}
    exp_rate = {
        "web": min(1.0, 0.25 * budget / dom_toks["web"]),
        "code": min(1.0, 0.9 * budget / dom_toks["code"]),  # 2.25 -> 1.0
        "books": 0.0,
    }
    exp_ids = {
        i
        for i, dom, _ in rows
        if (i % 1000003) * 2654435761 % 1000003 < exp_rate[dom] * 1000003
    }
    assert {r.doc_id for r in kept} == exp_ids
    assert all(abs(r.keep_rate - exp_rate[r.domain]) < 1e-12 for r in kept)
    by_dom = {d: sum(1 for r in kept if r.domain == d) for d in dom_toks}
    assert by_dom["books"] == 0          # default_share drops the domain
    assert by_dom["code"] == 80          # clamped rate 1.0 keeps all
    assert 35 <= by_dom["web"] <= 65     # ~25% of 200 docs via the gate


def test_prep_funnel_stage_attribution_and_pipeline_consistency(spark):
    """Planted docs with one known drop reason each land in their stage
    (first-match order pinned: an exact dup that would also fail a later
    gate counts as exact_dup), and the funnel's 'kept' count equals the
    doc total of full_prep_pipeline on the same corpus — the funnel and
    the pipeline can never disagree about survivors."""

    def wordy(seed, n=18):
        return " ".join(f"{seed}{i:02d}word" for i in range(n)) + ", end."

    t1 = wordy("alpha")
    t_eval = wordy("evalset")
    # decontam victim: copies a 5-word phrase (3 shingles) from the eval doc
    phrase = " ".join(t_eval.split()[2:7])
    t7 = wordy("victim", 12) + " " + phrase
    rows = [
        (1, t1),
        (2, t1),                                  # exact dup of 1
        (3, t1 + " extra"),                        # near dup of 1 (sim ~0.9)
        (97 * 2, t_eval),                          # eval holdout slice
        (5, "........ ,,,,,,,, ;;;; low quality punctuation soup !!!"),
        (6, wordy("bravo")),                       # clean keeper
        (7, t7),                                   # decontaminated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.stage: r.n_docs for r in prep.prep_funnel(df, "doc_id", "text").collect()}
    assert got.get("exact_dup") == 1, got          # id 2 (keep-lowest)
    assert got.get("near_dup") == 1, got           # id 3
    assert got.get("eval_holdout") == 1, got       # id 194
    assert got.get("decontam") == 1, got           # id 7
    assert got.get("quality") == 1, got            # id 5
    assert got.get("kept") == 2, got               # ids 1, 6
    assert sum(got.values()) == len(rows)

    packed = prep.full_prep_pipeline(df, "doc_id", "text").collect()
    assert sum(r.n_docs for r in packed) == got["kept"]


def test_bpe_fertility_closed_form(spark):
    """Hand-computed 6-round merge ladder on a planted trilingual corpus:
    'abab' collapses to one token (fertility 1.0), 'xyzq' collapses via
    three tie-broken rounds (1.0), 'mnopqr' only gets its first merge in
    round 6 (5 symbols -> fertility 5.0).  Pins training, the exact
    greedy application, and the per-lang aggregation in one shot."""
    from ago_sisdb_spark.queries.pipeline import t26_bpe_fertility  # noqa: F401
    from ago_sisdb_spark.inventory import extended_queries

    docs = (
        [(i, "abab " * 10, "aa") for i in range(3)]
        + [(10 + i, "xyzq " * 5, "zz") for i in range(2)]
        + [(20, "mnopqr " * 7, "cc")]
    )
    df = spark.createDataFrame(
        [(i, t.strip(), l) for i, t, l in docs],
        "doc_id long, text string, lang string",
    )
    import tempfile

    sf = tempfile.mkdtemp(prefix="t26_planted_")
    df.write.mode("overwrite").parquet(sf + "/documents.parquet")
    fn = extended_queries()["t26_bpe_fertility"]
    got = {r.lang: (r.n_words, r.n_sym, r.fertility_e6) for r in fn(spark, sf).collect()}
    assert got == {
        "aa": (30, 30, 1_000_000),
        "zz": (10, 10, 1_000_000),
        "cc": (7, 35, 5_000_000),
    }


def test_plan_compaction_first_fit_and_partition_isolation(spark):
    """Hand-computed slots: running sum BEFORE each file, floor-divided
    by target.  An oversized file consumes its slot alone without
    displacing later files' arithmetic; partitions plan independently."""
    from ago_sisdb_spark.operators import prep

    rows = [
        ("p1", "a", 300), ("p1", "b", 300), ("p1", "c", 300),  # 0,0,0? cum 0,300,600
        ("p1", "d", 2500),                                     # cum 900 -> slot 0
        ("p1", "e", 100),                                      # cum 3400 -> slot 3
        ("p2", "a", 999),                                      # fresh partition
        ("p2", "b", 999),
    ]
    df = spark.createDataFrame(rows, "part string, k string, bytes long")
    got = {
        (r["part"], r["k"]): r["slot"]
        for r in prep.plan_compaction(df, ["part"], "bytes", ["k"], 1000).collect()
    }
    assert got == {
        ("p1", "a"): 0, ("p1", "b"): 0, ("p1", "c"): 0,
        ("p1", "d"): 0, ("p1", "e"): 3,
        ("p2", "a"): 0, ("p2", "b"): 0,
    }


def test_domain_kl_closed_form_and_properties(spark):
    """Planted corpora with hand-computable KL through the SHARED
    operator (text.domain_kl): a source that matches the blend exactly
    scores 0; a known diverging source matches the closed form."""
    import math

    from ago_sisdb_spark.operators import text as text_ops

    def kl(rows):
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        return {
            r["source"]: r["kl"]
            for r in text_ops.domain_kl(df, "source").collect()
        }

    assert kl([(1, "A", "x x y"), (2, "B", "x x y")]) == {"A": 0.0, "B": 0.0}

    got = kl([(1, "A", "x x x y"), (2, "B", "y y y x")])
    # corpus: x:4 y:4 (q = 1/2, 1/2); A: p = (3/4, 1/4) — symmetric plant
    exp = round(0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5), 6)
    assert got == {"A": exp, "B": exp} and exp > 0


def test_domain_quantile_gate_exact(spark):
    """Hand-computed per-domain percentiles: min -> 0, max -> 1e6,
    singleton domain -> 1e6; the 20% cut drops exactly each domain's
    bottom slice regardless of absolute scale."""
    from ago_sisdb_spark.operators import text as text_ops

    rows = [
        (1, "A", 10), (2, "A", 20), (3, "A", 30), (4, "A", 40), (5, "A", 50),
        (6, "B", 1000), (7, "B", 2000),
        (8, "C", 7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    got = {
        r["doc_id"]: (r["pct_e6"], r["keep"])
        for r in text_ops.domain_quantile_gate(
            df, "source", "score", "doc_id"
        ).collect()
    }
    assert got[1] == (0, False)          # domain A minimum
    assert got[2] == (250_000, True)
    assert got[5] == (1_000_000, True)   # domain A maximum
    assert got[6] == (0, False) and got[7] == (1_000_000, True)
    assert got[8] == (1_000_000, True)   # singleton domain defined as max
    # ties resolve by id: equal scores get distinct ranks deterministically
    df2 = spark.createDataFrame(
        [(1, "D", 5), (2, "D", 5), (3, "D", 5)], "doc_id long, source string, score long"
    )
    got2 = {
        r["doc_id"]: r["pct_e6"]
        for r in text_ops.domain_quantile_gate(df2, "source", "score", "doc_id").collect()
    }
    assert got2 == {1: 0, 2: 500_000, 3: 1_000_000}


def test_vocab_drift_planted(spark):
    """Planted history/batch split: OOV tokens are exactly the batch
    tokens absent from the SAME language's history vocabulary —
    cross-language leakage would show as a wrong count."""
    rows = [
        # history (doc_id % 3 != 0)
        (1, "en", "alpha beta gamma"),
        (2, "en", "alpha beta"),
        (4, "fr", "un deux"),
        # batch (doc_id % 3 == 0)
        (3, "en", "alpha delta delta"),   # delta x2 OOV of en
        (6, "fr", "un gamma"),            # gamma is en-vocab, OOV for fr
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    df.createOrReplaceTempView("__vd")
    from pyspark.sql import functions as F

    toks = df.select(
        "doc_id", "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = toks.where(F.col("doc_id") % 3 != 0).select("lang", "tok").distinct()
    batch = toks.where(F.col("doc_id") % 3 == 0).select("lang", "tok")
    j = batch.join(
        vocab.withColumn("__in", F.lit(1)), ["lang", "tok"], "left"
    ).select("lang", F.when(F.col("__in").isNull(), 1).otherwise(0).alias("oov"))
    got = {
        r["lang"]: (r["n"], r["o"])
        for r in j.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"), F.sum("oov").alias("o")
        ).collect()
    }
    assert got == {"en": (3, 2), "fr": (2, 1)}


def test_leakage_safe_split_invariant(spark):
    """The split's defining invariant: no near-dup component spans two
    splits (while the s1-style doc-id split demonstrably WOULD put the
    planted near-dup pair on opposite sides)."""
    from pyspark.sql import functions as F

    from ago_sisdb_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (8, base),            # doc 8 -> train under id split (8%10==8 -> val!)
        (19, base + " x"),    # near-dup of 8; id split puts it in test
        (21, "alpha beta gamma delta epsilon"),
        (33, "zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(8, 19)}
    comp = dedup.connected_components(pairs)
    lab = (
        docs.select("doc_id")
        .join(F.broadcast(comp), F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )
    split = (
        F.when(F.col("component") % 10 < 8, "train")
        .when(F.col("component") % 10 == 8, "val")
        .otherwise("test")
    )
    got = {
        r["doc_id"]: (r["component"], r["s"])
        for r in lab.select("doc_id", "component", split.alias("s")).collect()
    }
    # both members of the near-dup component (min id 8) share one split
    assert got[8] == (8, "val") and got[19] == (8, "val")
    # singletons split by their own id
    assert got[21] == (21, "train") and got[33] == (33, "train")
    # the doc-id split would have separated them (8 -> val, 19 -> test)
    assert (19 % 10) > 8


def test_calibration_bin_boundaries(spark):
    """The t32 binning is exact integer arithmetic over the [-1e6, 1e6]
    fixed-point codomain: boundaries land deterministically (no float
    bucket flip is possible), and the top edge clamps into bin 9."""
    from pyspark.sql import functions as F

    cases = [(-1_000_000, 0), (-800_001, 0), (-800_000, 1), (-1, 4),
             (0, 5), (199_999, 5), (200_000, 6), (999_999, 9), (1_000_000, 9)]
    df = spark.createDataFrame([(s,) for s, _ in cases], "score_e6 long")
    got = [
        r["bin"] for r in df.select(
            F.least(
                F.greatest(F.expr("(score_e6 + 1000000) div 200000"), F.lit(0)),
                F.lit(9),
            ).cast("long").alias("bin")
        ).collect()
    ]
    assert got == [b for _, b in cases]


def test_c4_line_stats_planted(spark):
    """C4 line rules on a crafted page: per-line end-punct / short / js
    counts, the kept-line rule (end punct AND >= 5 words), and the three
    page verdict ingredients (>= 3 kept lines, lorem, brace)."""
    docs = spark.createDataFrame(
        [
            (
                1,
                "This is a proper long sentence here.\n"
                "Another good sentence with many words.\n"
                "A third full sentence for the page filter.\n"
                "short one.\n"
                "enable javascript to continue now\n"
                "no punctuation in this line",
            ),
            (
                2,
                "Contains lorem ipsum filler text in a sentence.\n"
                "Second proper sentence with enough words.\n"
                "Third proper sentence with enough words too.",
            ),
            (
                3,
                "Object with a { brace inside a sentence here.\n"
                "Second proper sentence with enough words.\n"
                "Third proper sentence with enough words too.",
            ),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in text.c4_line_stats(docs, "doc_id", "text").collect()
    }
    d1 = out[1]
    assert d1["n_lines"] == 6
    assert d1["n_end_punct"] == 4  # three full sentences + 'short one.'
    assert d1["n_short"] == 1  # 'short one.' (< 5 words)
    assert d1["n_js_lines"] == 1
    assert d1["n_kept_lines"] == 3
    assert d1["kept_e6"] == 500_000  # (1e6 * 3) div 6
    assert d1["c4_keep"] is True
    assert out[2]["has_lorem"] is True and out[2]["c4_keep"] is False
    assert out[2]["n_kept_lines"] == 3  # page failed on lorem, not lines
    assert out[3]["has_brace"] is True and out[3]["c4_keep"] is False
    d4 = out[4]
    assert d4["n_lines"] == 0 and d4["kept_e6"] is None
    assert d4["c4_keep"] is False
    assert d4["has_lorem"] is False and d4["has_brace"] is False


def test_script_profile_planted(spark):
    """Script counts over planted \\uXXXX strings (never raw chars through
    a heredoc — r9 t28 lesson): dominance, the priority tie-break, the
    integer 10%% mixed test, and the empty-letter 'none' row."""
    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "\u041f\u0440\u0438\u0432\u0435\u0442 ab"),  # 6 cyr + 2 lat
            (3, "abc\u0414\u0415\u0416"),  # exact 3-3 tie
            (4, "123 ..."),
            (5, "\u4e2d\u6587\u30ab\u30bf"),  # 2 han + 2 katakana
            (6, "\uac00\uac01\uac02"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in text.script_profile(docs, "doc_id", "text").collect()
    }
    assert out[1]["dominant"] == "latin" and out[1]["n_latin"] == 10
    assert out[1]["dominant_e6"] == 1_000_000 and out[1]["mixed"] is False
    d2 = out[2]
    assert d2["n_cyrillic"] == 6 and d2["n_latin"] == 2
    assert d2["dominant"] == "cyrillic"
    assert d2["dominant_e6"] == 750_000  # (1e6*6) div 8
    assert d2["mixed"] is True  # 10*2 >= 8
    d3 = out[3]
    assert d3["n_latin"] == 3 and d3["n_cyrillic"] == 3
    assert d3["dominant"] == "latin"  # priority order on exact tie
    assert d3["mixed"] is True
    d4 = out[4]
    assert d4["n_letters"] == 0 and d4["dominant"] == "none"
    assert d4["dominant_e6"] is None and d4["mixed"] is False
    assert out[5]["n_cjk"] == 4 and out[5]["dominant"] == "cjk"
    assert out[6]["n_hangul"] == 3 and out[6]["dominant"] == "hangul"


def test_url_canonicalize_cases(spark):
    """Canonical-key semantics: host lowercased (path case kept), fragment
    and tracking params stripped with separators renormalized, dangling
    '?'/trailing '/' removed, and the [?&] boundary so 'ref' never
    matches inside another parameter's name (href)."""
    cases = [
        ("https://WWW.Example.COM/Path?utm_source=a&x=1#frag",
         "https://www.example.com/Path?x=1"),
        ("http://a.com/?utm_campaign=z", "http://a.com"),
        ("http://a.com/p?ref=1&keep=2", "http://a.com/p?keep=2"),
        ("http://a.com/p?a=1&fbclid=xyz", "http://a.com/p?a=1"),
        ("http://a.com/p?href=1", "http://a.com/p?href=1"),
        ("http://a.com/p?utm_a=1&utm_b=2", "http://a.com/p"),
        ("https://clean.org/x/y?q=1", "https://clean.org/x/y?q=1"),
        ("http://a.com/dir/", "http://a.com/dir"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, u string")
    out = {
        r["i"]: r["c"]
        for r in df.select(
            "i", text.url_canonicalize(F.col("u")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, (cases[i][0], out[i], want)


def test_zorder_key_matches_python_twin(spark):
    import random

    rng = random.Random(5)
    rows = [(i, rng.randrange(0, 256), rng.randrange(0, 256))
            for i in range(200)]
    df = spark.createDataFrame(rows, "i long, qx long, qy long")
    got = {
        r["i"]: r["z"]
        for r in df.select(
            "i", prep.zorder_key("qx", "qy", 8).alias("z")
        ).collect()
    }

    def twin(x, y):
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == {i: twin(x, y) for i, x, y in rows}


def test_zorder_buckets_bound_both_dimensions(spark):
    """On a full 16x16 grid with bits=4/bucket_shift=4, every z bucket is
    one 4x4 quadrant: BOTH per-bucket ranges are <= 3 — whereas an
    x-sorted layout of the same data has full-span (15) y ranges.  That
    bounded-on-both-axes property is the pruning claim."""
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = prep.zorder_stats(df, "x", "y", bits=4, bucket_shift=4).collect()
    assert len(out) == 16 and all(r["n_rows"] == 16 for r in out)
    for r in out:
        assert r["x_max"] - r["x_min"] == 3
        assert r["y_max"] - r["y_min"] == 3
    # the single-column-sort counterfactual: bucket by x-range instead
    naive = (
        df.groupBy((F.col("x") / 4).cast("long").alias("b"))
        .agg(F.min("y").alias("ymin"), F.max("y").alias("ymax"))
        .collect()
    )
    assert all(r["ymax"] - r["ymin"] == 15 for r in naive)


def test_zorder_quantize_degenerate_and_validation(spark):
    df = spark.createDataFrame([(7, 3), (7, 9)], "x long, y long")
    out = prep.zorder_stats(df, "x", "y", bits=4, bucket_shift=0).collect()
    # constant x quantizes to bucket 0 on that axis; both rows survive
    assert sum(r["n_rows"] for r in out) == 2
    with pytest.raises(ValueError):
        prep.zorder_key("x", "y", 0)
    with pytest.raises(ValueError):
        prep.zorder_key("x", "y", 32)


def test_char_entropy_closed_form(spark):
    """Entropy pins: uniform 4-char alphabet = ln(4); single repeated char
    = 0; a 1:3 split = the hand-computed binary-split value; empty doc
    emits no row; counts exact."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "abcd" * 5),      # uniform over 4 chars -> ln(4)
            (2, "aaaaaa"),        # degenerate -> 0.0
            (3, "abbb"),          # p = (1/4, 3/4)
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in text.char_entropy(docs, "doc_id", "text").collect()
    }
    assert 4 not in out and len(out) == 3
    assert out[1]["n_chars"] == 20 and out[1]["n_distinct"] == 4
    assert out[1]["entropy"] == round(math.log(4), 6)
    assert out[2]["entropy"] == 0.0 and out[2]["n_distinct"] == 1
    want3 = -(0.25 * math.log(0.25)) - (0.75 * math.log(0.75))
    assert abs(out[3]["entropy"] - want3) < 1e-6


def test_url_canonicalize_nonmatching_keeps_identity(spark):
    """Inputs outside lowercase ^https?://host must NOT collapse to a
    shared '' key (the r11 ADVICE fix): the host-lowercase rebuild only
    fires when the scheme/host extract hits; everything else keeps its
    fragment-/tracking-/slash-stripped identity."""
    cases = [
        ("HTTP://WWW.Example.COM/Path#f", "HTTP://WWW.Example.COM/Path"),
        ("ftp://host/file", "ftp://host/file"),
        ("//host/path?utm_source=a&x=1", "//host/path?x=1"),
        ("not a url at all", "not a url at all"),
        ("https://ok.com/A?gclid=1", "https://ok.com/A"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    out = {
        r["i"]: r["c"]
        for r in df.select(
            "i", text.url_canonicalize(F.col("u")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, (cases[i][0], out[i], want)
    assert len(set(out.values())) == len(cases)

"""Scaling probe: do the hot operators stay near-linear when the input
multiplies?

The sf ladder (0.001→0.1) is scheduling-bound locally, so it can't show
whether an operator's cost curve bends.  This probe multiplies sf0.1
in-memory (union with id offsets — same key cardinality profile per
copy, ×N rows) and times four representative operators at ×1/×4/×8:

- a1 OHLCV rollup   (hash-agg; shuffle ∝ output bars, not input rows)
- p6 last-per-key   (argmax-join; shuffle ∝ #keys)
- d1 exact dedup    (digest groupBy; shuffle ∝ #distinct digests)
- d3 MinHash-LSH    (mapInPandas band-row kernel + capped bucket pairs)

r5 adds the approximate-index family the 100 TB claims rest on (r4
verdict #3):

- d6 embedding-LSH near-dup — `bits` grows with log2(×N) exactly as
  production tuning dictates (for FIXED bits, per-bucket occupancy grows
  ∝ N so pair generation bends quadratic; more bits restores ~constant
  occupancy — the probe reports the tuned curve, the bend is the
  documented fixed-config behavior)
- d8 Bloom build+screen — bitmap sized by bloom_bits_for(#history docs),
  history scales, batch fixed (the incremental-ingest shape)
- n7 PQ serve path — encode + ADC scan of the code table with codebooks
  trained once at base scale (train/serve split; serving is the recurring
  cost)
- t12 bigram LM — 3 corpus passes + vocabulary-cardinality joins

Pass criterion (reported, not asserted): time(×8)/time(×1) ≤ ~8·1.5.
Superlinear growth flags a shape problem (e.g. a join that degenerated to
cartesian, a bucket whose fan-out exploded).

Usage: python tools/scale_probe.py [multipliers...] [--ops=a,b,...]
(default multipliers 1 4 8; default ops: all).  --ops matches by prefix
against the op keys below, so `--ops=pipe` runs pipe_full_prep + pipe8.
Prints one JSON line; results recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled(df, n: int, id_cols: list[str]):
    from pyspark.sql import functions as F

    out = None
    for i in range(n):
        part = df
        for c in id_cols:
            part = part.withColumn(c, F.col(c) + F.lit(i * 100_000_000))
        out = part if out is None else out.unionByName(part)
    return out


def _settle() -> None:
    # the noop sink materializes full payload columns, so back-to-back
    # probes carry real GC debt (the bench.py r5 lesson): force a GC and
    # pause before the timed samples or ×1 reads slower than ×4
    from pyspark.sql import SparkSession

    sp = SparkSession.getActiveSession()
    if sp is not None:
        sp.sparkContext._jvm.System.gc()
    time.sleep(0.3)


def timed(mk) -> float:
    # consume with the noop sink, NOT count(): count() lets Catalyst prune
    # operators that don't affect cardinality — a Window-only op (pack,
    # global_shuffle) collapses to a bare scan-count and the probe measures
    # nothing (caught late r7; the noop write materializes every column)
    def run() -> float:
        t0 = time.perf_counter()
        mk().write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    run()  # warm: file listing + codegen
    _settle()
    # min of 2: scaling curves want the noise floor, not the noise
    return round(min(run(), run()), 3)


def main() -> None:
    from pyspark.sql import functions as F

    from ago_sisdb_spark.catalog import load_table
    from ago_sisdb_spark.operators import dedup, lastper, rollup
    from ago_sisdb_spark.session import get_spark

    import math

    from ago_sisdb_spark.operators import (
        classifier,
        incremental,
        pq,
        prep,
        rag,
        similarity,
        sketch,
        text,
        textsearch,
    )
    from ago_sisdb_spark.operators import embed as embed_ops
    from ago_sisdb_spark.queries.pipeline import _BM25_QUERIES

    args = sys.argv[1:]
    ops_filter = None
    muls = []
    for a in args:
        if a.startswith("--ops="):
            ops_filter = a.split("=", 1)[1].split(",")
        else:
            muls.append(int(a))
    muls = muls or [1, 4, 8]

    def want(op: str) -> bool:
        return ops_filter is None or any(op.startswith(p) for p in ops_filter)

    spark = get_spark(app_name="scale_probe")
    events = load_table(spark, SF_DIR, "events")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_DIR, "embeddings")
    n_docs_base = docs.count()
    # PQ codebooks train ONCE at base scale (the offline job); the probe
    # times the recurring serve path only
    books = (
        pq.train_pq_codebooks(emb, "vec_id", "embedding", 64, 8, 64, iters=2)
        if want("n7_pq_serve")
        else None
    )

    out: dict = {"sf_dir": SF_DIR, "multipliers": muls, "ops": {}}
    for n in muls:
        def probe(name, mk, n=n):
            if want(name):
                out["ops"].setdefault(name, {})[n] = timed(mk)
        ev = scaled(events, n, ["event_id", "user_id"]).localCheckpoint()
        dc = scaled(docs, n, ["doc_id"]).localCheckpoint()
        em = scaled(emb, n, ["vec_id"]).localCheckpoint()
        probe("a1_ohlcv", 
            lambda: rollup.ohlcv(
                ev, ["event_type"], "ts", "value", "1 hour", order_col="event_id"
            )
        )
        probe("p6_last_per_key", 
            lambda: lastper.last_per_key(ev, ["user_id"], "event_id")
        )
        probe("d1_exact_dedup", 
            lambda: dedup.exact_dedup_groups(dc, "doc_id", "text")
        )
        probe("d3_minhash",
            lambda: dedup.minhash_lsh_candidates(
                dc, "doc_id", "text", min_words=3
            ))
        d6_bits = 6 + round(math.log2(n))  # occupancy-preserving tuning
        probe("d6_embedding_lsh", 
            lambda: similarity.cosine_neardup_lsh(
                em, "vec_id", "embedding", threshold=0.40, dim=64,
                bits=d6_bits, tables=8,
            )
        )
        d8_bits = incremental.bloom_bits_for(n_docs_base * n)
        probe("d8_bloom_screen", 
            lambda: incremental.screen_batch(
                docs,
                incremental.build_bloom(dc, "text", d8_bits),
                "doc_id", "text", d8_bits, history=dc,
            )
        )
        probe("n7_pq_serve", 
            lambda: pq.adc_topk(
                pq.encode_pq(em, "vec_id", "embedding", books, 64),
                emb.where(F.col("vec_id") < 5),
                "vec_id", "embedding", books, 64, 5,
            )
        )
        probe("t12_bigram_lm", 
            lambda: text.bigram_logprob(dc, "doc_id", "text")
        )
        # r5 family: CDC chunk dedup (map-only chunker + digest groupBy),
        # CMS build (shuffle bounded at depth*width), DSIR scoring (two
        # fixed-size bucket aggs + one scoring pass), A-Res weighted
        # sampling (group-keyed window)
        probe("d11_cdc_chunks", 
            lambda: dedup.duplicate_chunks(dc, "doc_id", "text")
        )
        toks = (
            dc.select(
                F.explode(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                ).alias("term")
            ).where(F.col("term") != "")
        )
        probe("t15_cms_build", 
            lambda: sketch.cms_build(toks, "term", 4, 2048)
        )
        probe("pipe6_dsir", 
            lambda: prep.dsir_importance(
                dc, dc.where(F.col("doc_id") % 7 == 0), "doc_id", "text"
            )
        )
        sdf = dc.withColumn("grp", F.col("doc_id") % 16).withColumn(
            "w", F.length("text").cast("double")
        )
        probe("s3_weighted_sample", 
            lambda: prep.weighted_sample_per_group(sdf, "doc_id", "grp", "w", 10)
        )
        # late-r5 family: HLL register build (<= m rows out), NCM audit
        # (labels-bounded candidate fan-out), BPE training (vocab-sized
        # rounds — corpus growth only adds to the one word-count pass)
        toks2 = dc.select(
            (F.col("doc_id") % 5).alias("g"),
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "term"
            ),
        ).where(F.col("term") != "")
        probe("hll_cells", 
            lambda: sketch.hll_cells(toks2, "term", group_col="g")
        )
        probe("e3_ncm_audit", 
            lambda: embed_ops.ncm_confusion(em, "vec_id", "label", "embedding")
        )
        probe("t20_bpe_train", 
            lambda: text.bpe_train(dc, "text", n_merges=4)
        )
        # r6 (r5 verdict #4): the composite end-to-end prep pipeline —
        # every stage is a probed building block, but only the composed
        # plan shows cross-stage shuffle interactions at scale
        probe("pipe_full_prep",
            lambda: prep.full_prep_pipeline(dc)
        )
        # r7 (r6 verdict #4): the incremental batch against PERSISTED
        # artifacts — bootstrap runs once per scale OUTSIDE the timer
        # (it is the offline job); the probe times the recurring batch
        # step, which must scale with the batch + index probe, never
        # with history
        if want("pipe8_incremental"):
            import shutil
            import tempfile

            w3 = F.size(F.split(F.col("text"), r"\s+")) >= 3
            hist = dc.where(F.col("doc_id") % 3 != 0)
            batch = dc.where(F.col("doc_id") % 3 == 0)
            tmp = tempfile.mkdtemp(prefix=f"probe_pipe8_x{n}_")
            idxp = os.path.join(tmp, "idx")
            digp, stp = prep.prep_state_paths(tmp, "probe")
            dedup.build_minhash_index(
                hist.where(w3), "doc_id", "text", idxp
            )
            prep.build_prep_state(hist, digp, stp)
            digests, state = prep.load_prep_state(spark, digp, stp)
            index = dedup.load_minhash_index(spark, idxp)
            probe("pipe8_incremental",
                lambda: prep.incremental_prep_batch(
                    batch, digests, index, state
                )
            )
            shutil.rmtree(tmp, ignore_errors=True)
            del hist, batch, digests, state, index
        # r7 skew probe (r6 verdict #4): every doc planted into ONE shard
        # (ids ×16 ⇒ pmod 16 = 0) vs the spread layout — the packing
        # window's worst case; graceful = the hot-shard curve stays
        # near-linear (one sorted span), it must not explode
        skew = dc.select(
            (F.col("doc_id") * 16).alias("doc_id"),
            F.length("text").cast("bigint").alias("tokens"),
        )
        probe("pack_skew_one_shard",
            lambda: prep.pack_sequences(skew, "doc_id", "tokens", 2048, 16)
        )
        spread = dc.select(
            "doc_id", F.length("text").cast("bigint").alias("tokens")
        )
        probe("pack_spread_16_shards",
            lambda: prep.pack_sequences(spread, "doc_id", "tokens", 2048, 16)
        )
        # late-r7 training-order family: hash-order shuffle (per-shard
        # window at FIXED 64 shards — shard count is layout, so the probe
        # shows the window curve itself holds as shard occupancy ×32),
        # epoch mixing (pure map: sequence+explode), and the corpus sink
        # (repartition-by-shard write + manifest read-back; timed() runs
        # the write twice and reports the warm pass)
        probe("s5_shuffle_order",
            lambda: prep.global_shuffle(dc.select("doc_id"), "doc_id", 64, 17)
        )
        mixed = dc.select(
            "doc_id",
            F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string")).alias("src"),
        )
        probe("s6_epoch_mix",
            lambda: prep.epoch_mix(
                mixed, "doc_id", "src", {"s0": 2.5, "s1": 2.0, "s2": 1.0}, 0.5
            )
        )
        # r7 continuation: chunk retrieval (embed ×N chunks shuffle-free,
        # serve a FIXED 3-query set against them — the recurring serve
        # cost is one corpus pass) and classifier training (L-BFGS over
        # ×N cached feature vectors; iterations ~constant, so the curve
        # should track the per-pass scan cost)
        probe("n5_bm25_adhoc",
            lambda: textsearch.bm25_topk(
                dc, "doc_id", "text", _BM25_QUERIES, k=10
            )
        )
        probe("pipe9_embed_serve",
            lambda: rag.chunk_topk(
                rag.embed_chunks_trigram(
                    dedup.cdc_chunk_docs(dc, "doc_id", "text")
                ),
                rag.embed_chunks_trigram(
                    dedup.cdc_chunk_docs(
                        docs.where(F.col("doc_id").isin(1, 11, 21)),
                        "doc_id", "text",
                    )
                ).where(F.col("chunk_idx") == 0),
                k=5,
            )
        )
        probe("t23_classifier_train",
            lambda: classifier.train_quality_classifier(dc, "doc_id", "text")
        )
        if want("s7_shard_write"):
            import shutil as _sh
            import tempfile as _tf

            packed7 = prep.pack_sequences(
                dc.select(
                    "doc_id", F.length("text").cast("bigint").alias("tokens")
                ),
                "doc_id", "tokens", 2048, 16,
            )
            tmp7 = _tf.mkdtemp(prefix=f"probe_s7_x{n}_")
            outp = os.path.join(tmp7, "shards")

            def mk_s7(packed7=packed7, outp=outp):
                prep.write_training_shards(packed7, outp)
                return prep.training_manifest(
                    prep.read_training_shards(packed7.sparkSession, outp)
                )

            probe("s7_shard_write", mk_s7)
            _sh.rmtree(tmp7, ignore_errors=True)
            del packed7, mk_s7
        if want("pipe9_indexed_serve"):
            # recurring-cost isolation for the chunk index: the one-time
            # build (charged to pipe9_embed_serve above) runs OUTSIDE the
            # timer; the probe times serving a fixed 3-query set from the
            # ×N persisted index — the path that must stay flat-per-scan
            import shutil as _sh9
            import tempfile as _tf9

            tmp9 = _tf9.mkdtemp(prefix=f"probe_pipe9idx_x{n}_")
            idx9 = os.path.join(tmp9, "chunk_index")
            rag.build_chunk_index(dc, idx9)
            q9 = rag.embed_chunks_trigram(
                dedup.cdc_chunk_docs(
                    docs.where(F.col("doc_id").isin(1, 11, 21)),
                    "doc_id", "text",
                )
            ).where(F.col("chunk_idx") == 0).localCheckpoint()
            probe("pipe9_indexed_serve",
                lambda: rag.chunk_topk_indexed(spark, idx9, q9, k=5)
            )
            _sh9.rmtree(tmp9, ignore_errors=True)
            del q9
        # r9 family: gopher rules (map-only Arrow pass — must stay flat
        # per row), temperature mix (two corpus passes + domains-sized
        # plan), matryoshka audit (one corpus pass × 4 widths, bounded
        # probes), MMR rerank (corpus relevance pass + pool-bounded greedy)
        probe("t25_gopher",
            lambda: text.gopher_stats(dc, "doc_id", "text")
        )
        mixed12 = dc.select(
            "doc_id",
            F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string")).alias("src"),
        )
        probe("pipe12_temp_mix",
            lambda: prep.apply_mix_gate(
                mixed12, "doc_id", "src",
                prep.temperature_rates(mixed12, "src"),
            )
        )
        em_probes = emb.where(F.col("vec_id") < 5)
        probe("e6_truncation",
            lambda: similarity.truncation_audit(
                em, em_probes, "vec_id", "embedding", "vec_id",
            )
        )
        probe("n9_mmr",
            lambda: similarity.mmr_rerank(
                em, em_probes, "vec_id", "embedding", "vec_id", k=5, pool=20,
            )
        )
        probe("e7_sign_sketch",
            lambda: embed_ops.hamming_vs_cosine_topk(
                em, em_probes, "vec_id", "embedding", "vec_id", k=5,
            )
        )
        em_lab = em.withColumn("label", (F.col("vec_id") % 4).cast("int"))
        probe("e8_hard_neg",
            lambda: embed_ops.hard_negative_mining(
                em_lab, em_lab.where(F.col("vec_id") < 5),
                "vec_id", "embedding", "label", "vec_id", k=3,
            )
        )
        probe("d15_soft_dedup",
            lambda: dedup.soft_dedup_weights(dc, "doc_id", "text")
        )
        probe("pipe13_funnel",
            lambda: prep.prep_funnel(dc, "doc_id", "text")
        )
        probe("d17_estimator_audit",
            lambda: dedup.minhash_estimator_audit(dc, "doc_id", "text")
        )
        # r9 continuation batch: classifier eval, normalization, winnowing,
        # hybrid fusion
        def mk_t27(dc=dc):
            scored = text.hashed_linear_score(dc, "doc_id", "text")
            labeled = scored.withColumn("pos", F.col("doc_id") % 3 == 0)
            return classifier.eval_binary(labeled, "score_e6", "pos")
        probe("t27_classifier_eval", mk_t27)
        probe("t28_normalize",
            lambda: dc.select(
                "doc_id",
                F.md5(text.normalize_text_expr(F.col("text"))).alias("m"),
            )
        )
        probe("d18_winnow_fps",
            lambda: dedup.winnow_fingerprints(dc, "doc_id", "text")
        )
        probe("d19_winnow_pairs",
            lambda: dedup.winnow_overlap_pairs(dc, "doc_id", "text")
        )
        def mk_n10(dc=dc):
            qs = [(0, ["spark", "join"]), (1, ["hash", "table", "scan"])]
            return textsearch.rrf_fuse({
                "bm25": textsearch.bm25_topk(dc, "doc_id", "text", qs, k=10),
                "tfidf": textsearch.tfidf_topk(dc, "doc_id", "text", qs, k=10),
            })
        probe("n10_rrf_hybrid", mk_n10)
        # second continuation batch: KL, quantile gate, rank-sum, drift,
        # PRF, leakage split
        dc_src = dc.withColumn(
            "source",
            F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")),
        )
        probe("t29_domain_kl", lambda: text.domain_kl(dc_src, "source"))
        probe("t30_quantile_gate",
            lambda: text.domain_quantile_gate(
                dc_src.select("doc_id", "source", F.length("text").alias("L")),
                "source", "L", "doc_id",
            )
        )
        ev_ab = ev.select("event_type", "value")
        def mk_a23(ev_ab=ev_ab):
            from ago_sisdb_spark.operators import series as series_ops
            return series_ops.mannwhitney_u(
                ev_ab, "value", "event_type", "click", "purchase"
            )
        probe("a23_mannwhitney", mk_a23)
        dc_lang = dc.withColumn(
            "lang", F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string"))
        )
        def mk_t31(dc_lang=dc_lang):
            toks31 = dc_lang.select(
                "doc_id", "lang",
                F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
            ).where(F.col("tok") != "")
            vocab = toks31.where(F.col("doc_id") % 3 != 0).select("lang", "tok").distinct()
            batch = toks31.where(F.col("doc_id") % 3 == 0).select("lang", "tok")
            j = batch.join(
                vocab.withColumn("__in", F.lit(1)), ["lang", "tok"], "left"
            ).select("lang", F.when(F.col("__in").isNull(), 1).otherwise(0).alias("oov"))
            return j.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n"), F.sum("oov").alias("o")
            )
        probe("t31_vocab_drift", mk_t31)
        probe("n11_prf_expansion",
            lambda: textsearch.prf_bm25_topk(
                dc, "doc_id", "text",
                [(0, ["spark", "join"]), (1, ["hash", "table", "scan"])],
                k=10, feedback_k=5, expand_terms=3,
            )
        )
        def mk_t33(dc=dc):
            sh = dedup.shingle_rows(dc, "doc_id", "text", k=5, min_words=5).distinct()
            dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            return sh.join(dfreq, "shingle").groupBy("doc").agg(
                F.count(F.lit(1)).alias("g"),
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("u"),
            )
        probe("t33_ngram_novelty", mk_t33)
        def mk_n12(dc=dc):
            qs = [(0, ["spark", "join"]), (1, ["hash", "table", "scan"])]
            return textsearch.blend_fuse({
                "bm25": textsearch.bm25_topk(dc, "doc_id", "text", qs, k=10),
                "tfidf": textsearch.tfidf_topk(dc, "doc_id", "text", qs, k=10),
            })
        probe("n12_blend_hybrid", mk_n12)
        def mk_t32(dc=dc):
            scored = text.hashed_linear_score(dc, "doc_id", "text")
            binned = scored.select(
                F.least(
                    F.greatest(F.expr("(score_e6 + 1000000) div 200000"), F.lit(0)),
                    F.lit(9),
                ).alias("bin"),
                (F.col("score_e6") % 2 == 0).alias("pos"),
            )
            return binned.groupBy("bin").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
            )
        probe("t32_calibration", mk_t32)
        def mk_s9(dc=dc):
            d60 = dc.where(F.col("doc_id") < 60)
            pairs = dedup.ngram_jaccard_pairs(d60, "doc_id", "text", 2, 0.08)
            comp = dedup.connected_components(pairs)
            lab = dc.select("doc_id").join(
                F.broadcast(comp), F.col("doc_id") == F.col("id"), "left"
            ).select(
                "doc_id",
                F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            )
            return lab.withColumn("s", F.col("component") % 10)
        probe("s9_leakage_split", mk_s9)
        # r11 (r10 verdict #5): the star-contraction CC probe where the
        # GRAPH itself scales — s9 above scales only the label join (its
        # doc_id<60 slice pins the graph at base size).  Synthetic chain
        # edges over the scaled doc ids: within each 8-id run, id -> id+1,
        # so nodes and edges grow xN (each scaled() copy is a disjoint
        # subgraph), component size stays 8, and the two-rule
        # large-star/small-star contraction should hold its O(log chain)
        # round count — the shape where superlinear behavior (round count
        # x per-round shuffle) would first appear.
        def mk_cc(dc=dc):
            ids = dc.select(F.col("doc_id").alias("id_a"))
            edges = ids.where(F.pmod(F.col("id_a"), F.lit(8)) != 7).select(
                "id_a", (F.col("id_a") + 1).alias("id_b")
            )
            return dedup.connected_components(edges)
        probe("cc_star_contraction", mk_cc)
        # r10 batch: C4 line filters, script profile, semantic decontam
        probe("t34_c4_lines",
            lambda: text.c4_line_stats(dc, "doc_id", "text"))
        probe("t35_script_profile",
            lambda: text.script_profile(dc, "doc_id", "text"))
        def mk_e9(em=em, emb=emb):
            from ago_sisdb_spark.operators import embed as embed_ops
            # eval side stays BASE-scale (production shape: the benchmark
            # is bounded while the corpus grows) — scaling both sides
            # would time the |tr|x|ev| product, not the operator
            ev9 = emb.where(F.col("vec_id") % 19 == 0)
            return embed_ops.semantic_decontaminate(
                em, ev9, "vec_id", "embedding", "vec_id"
            )
        probe("e9_semantic_decontam", mk_e9)
        def mk_e10(em=em, emb=emb):
            from ago_sisdb_spark.operators import embed as embed_ops
            # src (query shard) stays BASE-scale and broadcasts; the tgt
            # corpus scales — the e9 bounded-side convention
            src10 = emb.where(F.col("vec_id") % 9 == 0)
            return embed_ops.bitext_margin_mine(
                src10, em.where(F.col("vec_id") % 9 != 0),
                "vec_id", "embedding", k=4,
            )
        probe("e10_bitext_mining", mk_e10)
        # r14: the r13/r14 closure-matrix + mapInPandas kernels get their
        # own tail entries (r13 verdict #7) — the bounded side stays
        # base-scale (its closure-ship cost is the thing the guardrail
        # caps); the corpus side scales.
        def mk_n1(em=em, emb=emb):
            probes1 = emb.where(F.col("vec_id") < 8)
            return similarity.brute_force_topk(
                em, probes1, "vec_id", "embedding", "vec_id", 5
            )
        probe("n1_brute_topk", mk_n1)
        # d5 is the O(n²) all-pairs ground-truth twin: BOTH sides scale by
        # spec, so its curve is quadratic by the math, not the plan — run
        # only at small multipliers (the kernel wall per pair is the
        # metric; the scale path is d6).
        if n <= 8:
            probe("d5_cosine_pairs",
                lambda: similarity.cosine_pairs(em, "vec_id", "embedding", 0.40))
        def mk_e11(em=em):
            from ago_sisdb_spark.operators import embed as embed_ops
            return embed_ops.cluster_balanced_mix(
                em, "vec_id", "embedding", n_clusters=8
            )
        probe("e11_cluster_mix", mk_e11)
        def mk_e12(em=em, n=n):
            from ago_sisdb_spark.operators import embed as embed_ops
            # SYMMETRIC: both sides scale with the corpus — the shape
            # this operator exists for.  band_bits grows with log2(xN)
            # exactly as production tuning dictates (the d6 rule): for
            # FIXED bits per-bucket occupancy grows with N, so candidate
            # pairs bend quadratic (measured 0.89 ratio-to-linear at x8
            # fixed); wider bands restore ~constant occupancy.  16 dims
            # per band x 4 bands stays within the 64-dim sketch.
            bb = min(16, 8 + max(0, (n - 1).bit_length()))
            return embed_ops.bitext_margin_mine_bucketed(
                em.where(F.col("vec_id") % 2 == 0),
                em.where(F.col("vec_id") % 2 == 1),
                "vec_id", "embedding", k=4, bands=4, band_bits=bb,
            )
        probe("e12_bitext_bucketed", mk_e12)
        if want("e12_bitext_bucketed"):
            # cap-drop diagnostic (r13, r12 verdict #4): rows per side
            # living in over-cap (band, key) buckets at this multiplier's
            # tuned band_bits — the ×128 tail is where occupancy, and so
            # the cap's recall cost, actually moves; recorded next to the
            # timing so BASELINE.md can state drop counts, not vibes
            from ago_sisdb_spark.operators.embed import _sign_band_keys

            bb12 = min(16, 8 + max(0, (n - 1).bit_length()))
            drops = {}
            for side, rem in (("src", 0), ("tgt", 1)):
                rows = em.where(F.col("vec_id") % 2 == rem).select(
                    F.posexplode(
                        _sign_band_keys(F.col("embedding"), 4, bb12)
                    ).alias("band", "key")
                )
                over = (
                    rows.groupBy("band", "key")
                    .agg(F.count(F.lit(1)).alias("m"))
                    .where(F.col("m") > 1000)
                    .agg(F.coalesce(F.sum("m"), F.lit(0)).alias("d"))
                    .first()["d"]
                )
                drops[side] = int(over)
            out.setdefault("diag", {}).setdefault(
                "e12_cap_dropped_band_rows", {}
            )[n] = {"band_bits": bb12, **drops}
        def mk_t36(dc=dc):
            from ago_sisdb_spark.queries.pipeline import _t36_planted_docs
            from ago_sisdb_spark.operators.text import (
                URL_PATTERN, url_canonicalize,
            )
            pd_ = _t36_planted_docs(dc.withColumn(
                "source",
                F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")),
            ))
            raw = pd_.select(
                "doc_id",
                F.explode(F.regexp_extract_all(
                    F.col("text"), F.lit(URL_PATTERN), 0)).alias("url"),
            )
            return raw.select(
                "doc_id", "url", url_canonicalize(F.col("url")).alias("c")
            ).groupBy("c").agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("url").alias("v"),
            )
        probe("t36_url_canonical", mk_t36)
        def mk_t37(dc=dc):
            from ago_sisdb_spark.operators import graph
            from ago_sisdb_spark.queries.pipeline import _t36_planted_docs
            from ago_sisdb_spark.operators.text import URL_PATTERN
            pd_ = _t36_planted_docs(dc.withColumn(
                "source",
                F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")),
            ))
            edges = pd_.select(
                F.col("source").alias("src"),
                F.explode(F.regexp_extract_all(
                    F.col("text"), F.lit(URL_PATTERN), 1)).alias("h"),
            ).select("src", F.lower(F.col("h")).alias("dst"))
            return graph.pagerank_e12(edges, "src", "dst", iters=3)
        probe("t37_host_rank", mk_t37)
        def mk_t39(dc=dc):
            # r12: HITS over the same planted source→host graph — hosts
            # stay bounded as pages grow (the t37 production shape), so
            # per-half-round frames are host-scale constants
            from ago_sisdb_spark.operators import graph
            from ago_sisdb_spark.queries.pipeline import _t36_planted_docs
            from ago_sisdb_spark.operators.text import URL_PATTERN
            pd_ = _t36_planted_docs(dc.withColumn(
                "source",
                F.concat(F.lit("s"), (F.col("doc_id") % 20).cast("string")),
            ))
            edges = pd_.select(
                F.col("source").alias("src"),
                F.explode(F.regexp_extract_all(
                    F.col("text"), F.lit(URL_PATTERN), 1)).alias("h"),
            ).select("src", F.lower(F.col("h")).alias("dst"))
            return graph.hits_e6(edges, "src", "dst", iters=3)
        probe("t39_hits", mk_t39)
        def mk_j4b(ev=ev):
            # binned keyless interval join: multiplying rows inside a FIXED
            # time range multiplies per-bin density, so the MATCH COUNT
            # grows ~xN^2 by construction (same family as the d6 fixed-
            # config note) — the probe times the equi-join shape, and the
            # counts aggregate keeps the output row set xN
            from ago_sisdb_spark.operators.intervaljoin import bin_join_points
            w = 600_000_000
            us = F.unix_micros(F.col("ts").cast("timestamp"))
            p = ev.where(F.col("event_type") == "purchase").select(
                F.col("event_id").alias("pid"),
                (us - w).alias("lo"), (us + w).alias("hi"),
            )
            c = ev.where(F.col("event_type") == "click").select(
                F.col("event_id").alias("cid"), us.alias("cus")
            )
            return bin_join_points(p, c, "lo", "hi", "cus", w).groupBy(
                "pid"
            ).agg(F.count("cid").alias("n"))
        probe("j4b_keyless_interval", mk_j4b)
        probe("t38_char_entropy",
            lambda: text.char_entropy(dc, "doc_id", "text"))
        # release this scale's localCheckpoint blocks before the next
        # multiplier: without it the ×32 pass runs on top of ×1+×4's
        # cached copies and every sample carries eviction/GC noise.
        # The DERIVED frames must go too — their plans reference the
        # checkpointed RDDs, and ContextCleaner can only unpersist a
        # block once nothing reachable points at it
        del ev, dc, em, em_lab, mixed, mixed12, spread, sdf, skew, toks, toks2, dc_src, ev_ab, dc_lang
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    lo, hi = muls[0], muls[-1]
    out["ratio_vs_linear"] = {
        op: round((t[hi] / t[lo]) / (hi / lo), 2) for op, t in out["ops"].items()
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

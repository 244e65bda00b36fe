"""Consolidated driver-facing umbrella queries.

The driver's correctness gate checks only the first 50 ``queries()``
entries (r1 verdict: 90 registered → 40 operators unjudged).  This module
merges each fine-grained query *family* into one umbrella entry so every
SURVEY §2 operator lands inside the driver window:

- same-shape families (set ops, join types, bucket modes, p3 range probes)
  become tagged UNION ALLs — still one honest relational query;
- same-table scalar families (text metrics, datetime functions, per-group
  stats) become one wide projection — one scan, no extra shuffle;
- cross-table function families (math/string, json/array/cast) become a
  long-form matrix (family, row_key, values...) — every function value is
  still hash-checked.

The fine-grained originals stay registered with ``extended=True`` and run
in the local gate (tools/run_all.py), so a red umbrella is localizable.

Oracle SQL is composed from the demoted entries' oracle strings (single
source of truth) wherever the demoted query exposes the needed columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ago_sisdb_spark.inventory import EXTENDED, _t, query
from ago_sisdb_spark.operators import dedup as _dedup_ops

# Demoted fine-grained builders are reused (tagged/aligned) so Spark-side
# semantics cannot drift from the locally-gated originals.
from ago_sisdb_spark.queries import (  # noqa: F401  (registration side-effect)
    aggregates as _agg,
    joins as _joins,
    pipeline as _pipe,
    scalars as _scal,
    scans as _scans,
    series as _series,
)

_O = {name: e.oracle for name, e in EXTENDED.items()}

def _S():
    return F.lit(None).cast("string")


def _D():
    return F.lit(None).cast("double")


def _L():
    return F.lit(None).cast("bigint")


# --------------------------------------------------------------------------
# §2.4 aggregates
# --------------------------------------------------------------------------

@query(
    "a15_buckets",
    oracle=f"""
    SELECT 'equal' AS mode, bucket, n, avg_value FROM ({_O['a15_value_buckets']})
    UNION ALL
    SELECT 'golden', bucket, n, avg_value FROM ({_O['a15_golden_buckets']})
    """,
)
def a15_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 value-bucket grouping, both reference modes in one matrix:
    equal-width and golden-ratio widths (sis_group.h:10-60)."""
    eq = _agg.a15_value_buckets(spark, sf_dir).select(
        F.lit("equal").alias("mode"), "bucket", "n", "avg_value"
    )
    gold = _agg.a15_golden_buckets(spark, sf_dir).select(
        F.lit("golden").alias("mode"), "bucket", "n", "avg_value"
    )
    return eq.unionByName(gold)


@query(
    "agg_multidim",
    oracle=f"""
    SELECT 'rollup' AS mode, l_returnflag AS g1, l_linestatus AS g2,
           n, sum_qty AS total
    FROM ({_O['agg_rollup_hierarchy']})
    UNION ALL
    SELECT 'cube', event_type, CAST(day AS VARCHAR), n, total
    FROM ({_O['agg_cube']})
    UNION ALL
    SELECT 'gsets', event_type, CAST(user_id AS VARCHAR), n,
           CAST(NULL AS DOUBLE)
    FROM ({_O['agg_grouping_sets']})
    """,
)
def agg_multidim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 multidimensional grouping surface — ROLLUP + CUBE + GROUPING
    SETS (one Catalyst Expand each) aligned to a (mode, g1, g2) matrix."""
    r = _agg.agg_rollup_hierarchy(spark, sf_dir).select(
        F.lit("rollup").alias("mode"),
        F.col("l_returnflag").alias("g1"),
        F.col("l_linestatus").alias("g2"),
        "n",
        F.col("sum_qty").alias("total"),
    )
    c = _agg.agg_cube(spark, sf_dir).select(
        F.lit("cube").alias("mode"),
        F.col("event_type").alias("g1"),
        F.col("day").cast("string").alias("g2"),
        "n",
        "total",
    )
    g = _agg.agg_grouping_sets(spark, sf_dir).select(
        F.lit("gsets").alias("mode"),
        F.col("event_type").alias("g1"),
        F.col("user_id").cast("string").alias("g2"),
        "n",
        _D().alias("total"),
    )
    return r.unionByName(c).unionByName(g)


@query(
    "agg_distinct",
    oracle=f"""
    SELECT 'count_distinct' AS src, event_type, n_users, n,
           CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS v
    FROM ({_O['agg_count_distinct']})
    UNION ALL
    SELECT 'dedup_exact', event_type, count(*), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM (SELECT DISTINCT user_id, event_type FROM events) GROUP BY event_type
    UNION ALL
    SELECT 'approx_ok', CAST(NULL AS VARCHAR), count(*), count(*),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM (SELECT DISTINCT event_type FROM events)
    UNION ALL
    SELECT 'hll_terms', lang, exact_distinct, n_set, register_sum,
           est_distinct
    FROM ({_O['agg_hll_terms']})
    UNION ALL
    SELECT 'cms', term, exact_n, est_n, overcount, CAST(NULL AS DOUBLE)
    FROM ({_O['t15_cms_counts']})
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 distinct surface: exact count-distinct per group, A16
    dropDuplicates dedup (sis_dynamic.h:106,126), and the HLL scale path
    checked as a derived invariant (|approx - exact| <= 5% of exact — exact
    on both sides, so the flag is deterministic; rsd=0.01 gives ~1% error).

    r11 driver rotation (r10 verdict #2): the SKETCH family joins the
    matrix — ``hll_terms`` (the from-scratch bit-for-bit HyperLogLog over
    per-language distinct terms: exact vs estimate, register population
    and sum — sketch.hll_distinct's deterministic twin) and ``cms``
    (Count-Min Sketch term frequencies: exact vs estimate with the
    one-sided overcount invariant).  Fine-grained twins stay extended."""
    ev = _t(spark, sf_dir, "events")
    cd = _agg.agg_count_distinct(spark, sf_dir).select(
        F.lit("count_distinct").alias("src"), "event_type", "n_users", "n",
        _L().alias("n2"), _D().alias("v"),
    )
    dd = (
        ev.select("user_id", "event_type")
        .dropDuplicates()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.lit("dedup_exact").alias("src"), "event_type", "n_users",
            _L().alias("n"), _L().alias("n2"), _D().alias("v"),
        )
    )
    per_group = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    )
    ap = per_group.agg(
        F.sum(
            (F.abs(F.col("approx") - F.col("exact")) <= 0.05 * F.col("exact")).cast(
                "bigint"
            )
        ).alias("n_users"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.lit("approx_ok").alias("src"), _S().alias("event_type"),
        "n_users", "n", _L().alias("n2"), _D().alias("v"),
    )
    hll = _pipe.agg_hll_terms(spark, sf_dir).select(
        F.lit("hll_terms").alias("src"),
        F.col("lang").alias("event_type"),
        F.col("exact_distinct").alias("n_users"),
        F.col("n_set").alias("n"),
        F.col("register_sum").alias("n2"),
        F.col("est_distinct").alias("v"),
    )
    cms = _pipe.t15_cms_counts(spark, sf_dir).select(
        F.lit("cms").alias("src"),
        F.col("term").alias("event_type"),
        F.col("exact_n").alias("n_users"),
        F.col("est_n").alias("n"),
        F.col("overcount").alias("n2"),
        _D().alias("v"),
    )
    return (
        cd.unionByName(dd)
        .unionByName(ap)
        .unionByName(hll)
        .unionByName(cms)
    )


@query(
    "agg_pivot_unpivot",
    oracle="""
    SELECT u.user_id, m.metric, coalesce(c.n, 0) AS value
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 40) u
    CROSS JOIN (VALUES ('click'), ('view'), ('purchase'), ('error')) m(metric)
    LEFT JOIN (SELECT user_id, event_type, count(*) AS n FROM events
               WHERE user_id < 40 GROUP BY 1, 2) c
      ON c.user_id = u.user_id AND c.event_type = m.metric
    """,
)
def agg_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide↔long reshaping round trip in one plan: groupBy().pivot() with an
    explicit value list (one pass), then unpivot/melt back to
    (user_id, metric, value) — exercises both §2.4 reshaping operators."""
    wide = _agg.agg_pivot(spark, sf_dir)
    return wide.unpivot(
        ["user_id"], ["click", "view", "purchase", "error"], "metric", "value"
    )


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

@query(
    "j1_join_matrix",
    oracle=f"""
    SELECT 'inner' AS jtype, nation AS grp, n_customers AS n,
           total_acctbal AS metric
    FROM ({_O['j1_equi_inner']})
    UNION ALL
    SELECT 'left', CAST(c_custkey AS VARCHAR), n_orders, total_spent
    FROM ({_O['j1_left_outer']})
    UNION ALL
    SELECT 'full', CAST(user_id AS VARCHAR), n_click, CAST(n_purchase AS DOUBLE)
    FROM ({_O['j1_full_outer']})
    UNION ALL
    SELECT 'broadcast', region, n_nations, 0.0
    FROM ({_O['j2_broadcast_dim']})
    UNION ALL
    SELECT 'semi', 'all', count(*), round(sum(c_acctbal), 2) FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    UNION ALL
    SELECT 'anti', 'all', count(*), round(sum(c_acctbal), 2) FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
    UNION ALL
    SELECT 'asof:' || direction, CAST(event_id AS VARCHAR),
           CAST(user_id AS BIGINT), asof_value
    FROM ({_O['j3b_asof_directions']})
    UNION ALL
    SELECT 'keyless_interval', CAST(purchase_id AS VARCHAR), n_clicks_near,
           CAST(0 AS DOUBLE)
    FROM ({_O['j4b_keyless_interval']})
    UNION ALL
    SELECT 'overlap', CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR),
           gap_us, CAST(0 AS DOUBLE)
    FROM ({_O['j4c_interval_overlaps']})
    """,
)
def j1_join_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 join-type matrix: inner/left/full equi joins, the broadcast-dim
    join (J2), and semi/anti membership joins (J5) — each branch reuses the
    locally-gated fine-grained query, aligned to (jtype, grp, n, metric).

    r10 rotation: the as-of DIRECTION family (j3b backward/forward/nearest
    with the right-tie pin) and the keyless binned interval joins (j4b
    point-in-interval counts, j4c exactly-once overlap pairs) join the
    matrix, so the whole beyond-equi join surface is hash-certified in
    the driver window."""
    inner = _joins.j1_equi_inner(spark, sf_dir).select(
        F.lit("inner").alias("jtype"),
        F.col("nation").alias("grp"),
        F.col("n_customers").alias("n"),
        F.col("total_acctbal").alias("metric"),
    )
    left = _joins.j1_left_outer(spark, sf_dir).select(
        F.lit("left").alias("jtype"),
        F.col("c_custkey").cast("string").alias("grp"),
        F.col("n_orders").alias("n"),
        F.col("total_spent").alias("metric"),
    )
    full = _joins.j1_full_outer(spark, sf_dir).select(
        F.lit("full").alias("jtype"),
        F.col("user_id").cast("string").alias("grp"),
        F.col("n_click").alias("n"),
        F.col("n_purchase").cast("double").alias("metric"),
    )
    bcast = _joins.j2_broadcast_dim(spark, sf_dir).select(
        F.lit("broadcast").alias("jtype"),
        F.col("region").alias("grp"),
        F.col("n_nations").alias("n"),
        F.lit(0.0).alias("metric"),
    )
    semi = _joins.j5_semi(spark, sf_dir)
    anti = _joins.j5_anti(spark, sf_dir)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")

    def _agg_members(members: DataFrame, tag: str) -> DataFrame:
        joined = c.join(members.select("c_custkey"), "c_custkey", "left_semi")
        return joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("metric"),
        ).select(F.lit(tag).alias("jtype"), F.lit("all").alias("grp"), "n", "metric")

    asof = _joins.j3b_asof_directions(spark, sf_dir).select(
        F.concat(F.lit("asof:"), F.col("direction")).alias("jtype"),
        F.col("event_id").cast("string").alias("grp"),
        F.col("user_id").cast("bigint").alias("n"),
        F.col("asof_value").alias("metric"),
    )
    keyless = _joins.j4b_keyless_interval(spark, sf_dir).select(
        F.lit("keyless_interval").alias("jtype"),
        F.col("purchase_id").cast("string").alias("grp"),
        F.col("n_clicks_near").alias("n"),
        F.lit(0.0).alias("metric"),
    )
    overlap = _joins.j4c_interval_overlaps(spark, sf_dir).select(
        F.lit("overlap").alias("jtype"),
        F.concat(
            F.col("id_a").cast("string"), F.lit(":"),
            F.col("id_b").cast("string"),
        ).alias("grp"),
        F.col("gap_us").alias("n"),
        F.lit(0.0).alias("metric"),
    )
    return (
        inner.unionByName(left)
        .unionByName(full)
        .unionByName(bcast)
        .unionByName(_agg_members(semi, "semi"))
        .unionByName(_agg_members(anti, "anti"))
        .unionByName(asof)
        .unionByName(keyless)
        .unionByName(overlap)
    )


# --------------------------------------------------------------------------
# §2.11 dedup / ANN umbrellas
# --------------------------------------------------------------------------

@query(
    "d4_simhash_pairs",
    oracle=f"""
    SELECT 'simhash' AS method, id_a, id_b, CAST(hamming AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS sa_lo, CAST(NULL AS BIGINT) AS sa_hi,
           CAST(NULL AS BIGINT) AS sb_lo, CAST(NULL AS BIGINT) AS sb_hi
    FROM ({_dedup_ops.simhash_pairs_oracle_sql(
        "documents", "doc_id", "text", max_hamming=6, bands=4
    )})
    UNION ALL
    SELECT 'winnow', id_a, id_b, n_shared,
           span_a_lo, span_a_hi, span_b_lo, span_b_hi
    FROM ({_O['d19_winnow_pairs']})
    """,
)
def d4_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware near-dup PAIRS suite (D4+D7 + the r9 winnowing
    family), one tagged matrix:

    - ``simhash`` — fingerprints with pigeonhole band blocking feeding
      Hamming<=6 pairs (re-check via bit_count(xor)) on the
      engine-portable 60-bit md5 token hash, so votes, sign packing,
      band blocking, and the Hamming re-check are ALL reproduced by the
      DuckDB oracle (r2 verdict #2).  ``d7_simhash_pairs`` is the same
      pair set as an extended entry.
    - ``winnow`` — MOSS overlap localization (r10 driver rotation, r9
      verdict #2): pairs through shared winnowing fingerprints with
      matched-span positions, composing the extended d18/d19 oracles
      verbatim (the whole k-gram rolling-hash → window-min selection is
      inside the hash check)."""
    docs = _t(spark, sf_dir, "documents")
    sim = _dedup_ops.simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=6, bands=4
    ).select(
        F.lit("simhash").alias("method"),
        "id_a",
        "id_b",
        F.col("hamming").cast("bigint").alias("n"),
        _L().alias("sa_lo"), _L().alias("sa_hi"),
        _L().alias("sb_lo"), _L().alias("sb_hi"),
    )
    win = _dedup_ops.winnow_overlap_pairs(
        docs, "doc_id", "text", max_df=8, min_shared=3
    ).select(
        F.lit("winnow").alias("method"),
        "id_a",
        "id_b",
        F.col("n_shared").alias("n"),
        F.col("span_a_lo").alias("sa_lo"), F.col("span_a_hi").alias("sa_hi"),
        F.col("span_b_lo").alias("sb_lo"), F.col("span_b_hi").alias("sb_hi"),
    )
    return sim.unionByName(win)


# The n2 twin builder moved to pipeline.py in r6 (beside its plane
# constants) so the n6 recall twin can compose it; aliased for the
# registration below.
_n2_oracle = _pipe._n2_oracle


# Hybrid-retrieval fusion oracles, hoisted to module constants so BOTH the
# extended registrations (n10/n12, local gate) and the n2 driver umbrella's
# rrf/blend branches compose the SAME strings (r10 driver rotation).
_N10_ORACLE = f"""
    WITH a AS (SELECT query_id, doc, rank FROM ({_O['n5_bm25_search']})),
    b AS (SELECT query_id, doc, rank FROM ({_O['n8_tfidf_search']})),
    fused AS (
        SELECT coalesce(a.query_id, b.query_id) AS query_id,
               coalesce(a.doc, b.doc) AS doc,
               coalesce(CAST(1 AS DOUBLE) / CAST(60 + a.rank AS DOUBLE), 0)
                 + coalesce(CAST(1 AS DOUBLE) / CAST(60 + b.rank AS DOUBLE), 0)
                 AS rrf_score,
               a.rank AS rank_bm25, b.rank AS rank_tfidf
        FROM a FULL OUTER JOIN b
          ON a.query_id = b.query_id AND a.doc = b.doc),
    ranked AS (
        SELECT query_id, doc,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf_score DESC, doc) AS BIGINT) AS fused_rank,
               rrf_score, rank_bm25, rank_tfidf
        FROM fused)
    SELECT query_id, doc, fused_rank, rrf_score, rank_bm25, rank_tfidf
    FROM ranked WHERE fused_rank <= 10
    """


def _n12_norm_cte(src: str, name: str) -> str:
    return f"""
    {name}n AS (
        SELECT query_id, doc, score AS score_{name},
               CASE WHEN max(score) OVER (PARTITION BY query_id)
                         = min(score) OVER (PARTITION BY query_id)
                    THEN CAST(1 AS DOUBLE)
                    ELSE (score - min(score) OVER (PARTITION BY query_id))
                         / (max(score) OVER (PARTITION BY query_id)
                            - min(score) OVER (PARTITION BY query_id))
               END AS n
        FROM {src})"""


_N12_ORACLE = f"""
    WITH a AS (SELECT query_id, doc, score FROM ({_O['n5_bm25_search']})),
    b AS (SELECT query_id, doc, score FROM ({_O['n8_tfidf_search']})),
    {_n12_norm_cte('a', 'bm25')},
    {_n12_norm_cte('b', 'tfidf')},
    f AS (
        SELECT coalesce(bm25n.query_id, tfidfn.query_id) AS query_id,
               coalesce(bm25n.doc, tfidfn.doc) AS doc,
               CAST(0.5 AS DOUBLE) * coalesce(bm25n.n, 0)
                 + CAST(0.5 AS DOUBLE) * coalesce(tfidfn.n, 0) AS blend_score,
               bm25n.score_bm25, tfidfn.score_tfidf
        FROM bm25n FULL OUTER JOIN tfidfn
          ON bm25n.query_id = tfidfn.query_id AND bm25n.doc = tfidfn.doc),
    ranked AS (
        SELECT query_id, doc,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY blend_score DESC, doc) AS BIGINT) AS fused_rank,
               blend_score, score_bm25, score_tfidf
        FROM f)
    SELECT query_id, doc, fused_rank, blend_score, score_bm25, score_tfidf
    FROM ranked WHERE fused_rank <= 10
    """


def _fused_builders(spark: SparkSession, sf_dir: str):
    """The two ranker top-k lists shared by the rrf and blend branches —
    built ONCE per invocation so the umbrella doesn't run the BM25/TF-IDF
    corpus passes twice per fusion method."""
    from ago_sisdb_spark.operators import textsearch
    from ago_sisdb_spark.queries.pipeline import _BM25_QUERIES

    docs = _t(spark, sf_dir, "documents")
    return {
        "bm25": textsearch.bm25_topk(docs, "doc_id", "text", _BM25_QUERIES, k=10),
        "tfidf": textsearch.tfidf_topk(docs, "doc_id", "text", _BM25_QUERIES, k=10),
    }


@query(
    "n2_knn_ann",
    oracle=f"""
    SELECT method, CAST(probe_id AS BIGINT) AS probe_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(NULL AS BIGINT) AS rank, score,
           CAST(NULL AS DOUBLE) AS aux1, CAST(NULL AS DOUBLE) AS aux2
    FROM ({_n2_oracle()})
    UNION ALL
    SELECT 'rrf', CAST(query_id AS BIGINT), CAST(doc AS BIGINT),
           fused_rank, rrf_score,
           CAST(rank_bm25 AS DOUBLE), CAST(rank_tfidf AS DOUBLE)
    FROM ({_N10_ORACLE})
    UNION ALL
    SELECT 'blend', CAST(query_id AS BIGINT), CAST(doc AS BIGINT),
           fused_rank, blend_score, score_bm25, score_tfidf
    FROM ({_N12_ORACLE})
    UNION ALL
    SELECT 'mmr', probe_id, neighbor_id, rank, mmr_score,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({_O['n9_mmr_rerank']})
    UNION ALL
    SELECT 'prf', CAST(query_id AS BIGINT), CAST(doc AS BIGINT), rank, score,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({_O['n11_prf_expansion']})
    UNION ALL
    SELECT 'rag', CAST(q_doc AS BIGINT), CAST(doc_id AS BIGINT), rank,
           score, CAST(chunk_idx AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({_O['pipe9_chunk_retrieval']})
    UNION ALL
    SELECT 'rag_serve', CAST(q_doc AS BIGINT), CAST(doc_id AS BIGINT), rank,
           score, CAST(chunk_idx AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM ({_O['pipe10_chunk_index_serve']})
    """,
)
def n2_knn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN scale paths in one matrix for probes 0-4:
    hyperplane-LSH bucketed top-5 (8 bits × 6 tables, radius-2 multi-probe
    — the r5-tuned budget, recall@5 ≥ 0.92 at every SF) and IVF
    nprobe-bounded top-5 over the deterministic seed centroids.

    Fully oracle-checked since r5 (the last rows-only driver row): the LSH
    branch runs the REAL ``lsh_topk`` operator on seeded integer planes
    whose sign buckets DuckDB restates verbatim (``_n2_oracle``), and the
    seed-centroid IVF branch is window SQL end-to-end.  The production
    variants stay locally gated: gaussian planes in ``n2_knn_lsh``
    (extended), the materialized Lloyd-index serve path in ``n4_knn_ivf``
    (extended, train/serve split pinned in tests/test_similarity.py).

    r10 (r9 verdict #2): the hybrid-retrieval fusion branches join the
    matrix — ``rrf`` (reciprocal-rank fusion of the BM25/TF-IDF top-10
    lists, n10's operator) and ``blend`` (per-query min-max normalized
    convex interpolation at alpha=0.5, n12's operator) — so the
    sparse+dense merge the reference's search surface lacks is
    hash-certified in the driver window.  Both fusion branches share ONE
    pair of ranker top-k frames; each 1/(k0+rank) term and the min-max
    normalization are fixed trees of correctly-rounded IEEE ops on
    query-bounded lists, hence bit-portable unrounded."""
    from ago_sisdb_spark.operators import similarity, textsearch

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    lsh = similarity.lsh_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5, dim=_pipe._N2_DIM,
        bits=_pipe._N2_BITS, tables=_pipe._N2_TABLES,
        multi_probe=_pipe._N2_RADIUS, planes=_pipe._n2_planes(),
    ).select(F.lit("lsh").alias("method"), "probe_id", "neighbor_id", "score")
    ivf = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5,
        n_centroids=16, nprobe=4,
    ).select(F.lit("ivf").alias("method"), "probe_id", "neighbor_id", "score")
    ann = lsh.unionByName(ivf).select(
        "method",
        F.col("probe_id").cast("bigint").alias("probe_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        _L().alias("rank"),
        F.round("score", 6).alias("score"),
        _D().alias("aux1"), _D().alias("aux2"),
    )
    lists = _fused_builders(spark, sf_dir)
    rrf = textsearch.rrf_fuse(lists).select(
        F.lit("rrf").alias("method"),
        F.col("query_id").cast("bigint").alias("probe_id"),
        F.col("doc").cast("bigint").alias("neighbor_id"),
        F.col("fused_rank").alias("rank"),
        F.col("rrf_score").alias("score"),
        F.col("rank_bm25").cast("double").alias("aux1"),
        F.col("rank_tfidf").cast("double").alias("aux2"),
    )
    blend = textsearch.blend_fuse(lists, alpha=0.5).select(
        F.lit("blend").alias("method"),
        F.col("query_id").cast("bigint").alias("probe_id"),
        F.col("doc").cast("bigint").alias("neighbor_id"),
        F.col("fused_rank").alias("rank"),
        F.col("blend_score").alias("score"),
        F.col("score_bm25").alias("aux1"),
        F.col("score_tfidf").alias("aux2"),
    )
    # r10 driver rotation: the MMR diversity rerank (n9, planted
    # exact-rational oracle — the real distributed operator on closed-form
    # input) and the two-stage PRF/RM3 query expansion (n11, whole
    # pipeline restated in one SQL statement) join the retrieval matrix.
    mmr = _pipe.n9_mmr_rerank(spark, sf_dir).select(
        F.lit("mmr").alias("method"),
        F.col("probe_id").cast("bigint").alias("probe_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("mmr_score").alias("score"),
        _D().alias("aux1"), _D().alias("aux2"),
    )
    prf = _pipe.n11_prf_expansion(spark, sf_dir).select(
        F.lit("prf").alias("method"),
        F.col("query_id").cast("bigint").alias("probe_id"),
        F.col("doc").cast("bigint").alias("neighbor_id"),
        F.col("rank").alias("rank"),
        F.col("score").alias("score"),
        _D().alias("aux1"), _D().alias("aux2"),
    )

    # r11 driver rotation: the RAG chunk family — CDC chunking + trigram
    # embedding + cosine top-k straight off the corpus (pipe9) and the
    # same serve over the PERSISTED chunk index (pipe10; built once,
    # scanned at serve — the recurring production path).  Identical
    # results by construction (the index materializes the same chunks),
    # distinct tags so the driver hash certifies both paths.
    def _rag(tag, fn):
        return fn(spark, sf_dir).select(
            F.lit(tag).alias("method"),
            F.col("q_doc").cast("bigint").alias("probe_id"),
            F.col("doc_id").cast("bigint").alias("neighbor_id"),
            F.col("rank").alias("rank"),
            F.col("score").alias("score"),
            F.col("chunk_idx").cast("double").alias("aux1"),
            _D().alias("aux2"),
        )

    rag = _rag("rag", _pipe.pipe9_chunk_retrieval)
    rag_serve = _rag("rag_serve", _pipe.pipe10_chunk_index_serve)
    return (
        ann.unionByName(rrf)
        .unionByName(blend)
        .unionByName(mmr)
        .unionByName(prf)
        .unionByName(rag)
        .unionByName(rag_serve)
    )


@query(
    "s1_stratified_split",
    oracle=f"""
    SELECT 'strata' AS part, lang AS key1, split AS key2,
           CAST(n_docs AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS BIGINT) AS n3, CAST(NULL AS DOUBLE) AS metric
    FROM ({_O['s1_strata']})
    UNION ALL
    SELECT 'time', split, NULL, CAST(n AS BIGINT), min_ts_us, max_ts_us,
           CAST(NULL AS DOUBLE)
    FROM ({_O['s4_time_split']})
    UNION ALL
    SELECT 'wsample', lang, NULL, rank, doc_id, n_chars, skey
    FROM ({_O['s3_weighted_sample']})
    UNION ALL
    SELECT 'gshuffle', NULL, NULL, doc_id, shard, pos, CAST(NULL AS DOUBLE)
    FROM ({_O['s5_global_shuffle']})
    UNION ALL
    SELECT 'compaction', source, lang, bytes, n_docs, slot,
           CAST(NULL AS DOUBLE)
    FROM ({_O['s8_compaction_plan']})
    UNION ALL
    SELECT 'zorder', CAST(bucket AS VARCHAR),
           CAST(x_min AS VARCHAR) || ':' || CAST(y_min AS VARCHAR),
           n_rows, x_max, y_max, CAST(NULL AS DOUBLE)
    FROM ({_O['s10_zorder_layout']})
    UNION ALL
    SELECT 'incr_prep', CAST(n_bins AS VARCHAR), CAST(first_bin AS VARCHAR),
           shard, n_docs, total_tokens, CAST(NULL AS DOUBLE)
    FROM ({_O['pipe8_incremental_prep']})
    """,
)
def s1_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling / split / layout suite, one tagged matrix (r10 driver
    rotation; fine-grained twins stay extended):

    - ``strata`` — deterministic 80/10/10 id-modulo split with
      per-language stratum counts (s1_strata).
    - ``time`` — temporal train/valid split at the 80th time percentile;
      train.max < valid.min by construction (s4).
    - ``wsample`` — Efraimidis–Spirtakis length-weighted sample, 10 per
      language, deterministic hash keys (s3).
    - ``gshuffle`` — the epoch-shuffle layout: (shard, pos) from a
      Knuth-multiplicative hash, per-shard rank windows, no global sort
      (s5).
    - ``compaction`` — first-fit small-file compaction slots toward a
      target output size, running-sum window per storage partition (s8).
    - ``zorder`` — Morton-layout audit: per z-order bucket, row count and
      min/max of BOTH clustering columns, exact integer quantization +
      bit interleave (s10).

    Every branch is expression-only or one bounded window; nothing here
    shuffles document bodies."""
    strata = _pipe.s1_strata(spark, sf_dir).select(
        F.lit("strata").alias("part"),
        F.col("lang").alias("key1"),
        F.col("split").alias("key2"),
        F.col("n_docs").cast("bigint").alias("n1"),
        _L().alias("n2"), _L().alias("n3"), _D().alias("metric"),
    )
    tsplit = _series.s4_time_split(spark, sf_dir).select(
        F.lit("time").alias("part"),
        F.col("split").alias("key1"),
        _S().alias("key2"),
        F.col("n").cast("bigint").alias("n1"),
        F.col("min_ts_us").alias("n2"),
        F.col("max_ts_us").alias("n3"),
        _D().alias("metric"),
    )
    wsamp = _pipe.s3_weighted_sample(spark, sf_dir).select(
        F.lit("wsample").alias("part"),
        F.col("lang").alias("key1"),
        _S().alias("key2"),
        F.col("rank").alias("n1"),
        F.col("doc_id").alias("n2"),
        F.col("n_chars").alias("n3"),
        F.col("skey").alias("metric"),
    )
    gshuf = _pipe.s5_global_shuffle(spark, sf_dir).select(
        F.lit("gshuffle").alias("part"),
        _S().alias("key1"), _S().alias("key2"),
        F.col("doc_id").alias("n1"),
        F.col("shard").alias("n2"),
        F.col("pos").alias("n3"),
        _D().alias("metric"),
    )
    compact = _pipe.s8_compaction_plan(spark, sf_dir).select(
        F.lit("compaction").alias("part"),
        F.col("source").alias("key1"),
        F.col("lang").alias("key2"),
        F.col("bytes").alias("n1"),
        F.col("n_docs").alias("n2"),
        F.col("slot").alias("n3"),
        _D().alias("metric"),
    )
    zorder = _pipe.s10_zorder_layout(spark, sf_dir).select(
        F.lit("zorder").alias("part"),
        F.col("bucket").cast("string").alias("key1"),
        F.concat(
            F.col("x_min").cast("string"), F.lit(":"),
            F.col("y_min").cast("string"),
        ).alias("key2"),
        F.col("n_rows").alias("n1"),
        F.col("x_max").alias("n2"),
        F.col("y_max").alias("n3"),
        _D().alias("metric"),
    )
    # r11 driver rotation: the incremental daily-prep shard layout
    # (pipe8 — screen the batch against persisted dedup state, re-pack
    # survivors into the existing shard/bin layout) joins the matrix.
    incr = _pipe.pipe8_incremental_prep(spark, sf_dir).select(
        F.lit("incr_prep").alias("part"),
        F.col("n_bins").cast("string").alias("key1"),
        F.col("first_bin").cast("string").alias("key2"),
        F.col("shard").alias("n1"),
        F.col("n_docs").alias("n2"),
        F.col("total_tokens").alias("n3"),
        _D().alias("metric"),
    )
    return (
        strata.unionByName(tsplit)
        .unionByName(wsamp)
        .unionByName(gshuf)
        .unionByName(compact)
        .unionByName(zorder)
        .unionByName(incr)
    )


@query(
    "n3_embedding_stats",
    oracle=f"""
    SELECT 'norms' AS method, CAST(label AS BIGINT) AS g,
           CAST(NULL AS BIGINT) AS probe_id, CAST(NULL AS BIGINT) AS neighbor_id,
           CAST(n AS BIGINT) AS n, avg_norm AS score,
           CAST(NULL AS BIGINT) AS r1, CAST(NULL AS BIGINT) AS r2
    FROM ({_O['n3_norms']})
    UNION ALL
    SELECT 'matryoshka', dim, probe_id, neighbor_id, hit_full, score,
           NULL, NULL
    FROM ({_O['e6_matryoshka_truncation']})
    UNION ALL
    SELECT 'signsketch', NULL, probe_id, neighbor_id, hamming, cos_score,
           rank_h, rank_c
    FROM ({_O['e7_sign_sketch_ann']})
    UNION ALL
    SELECT 'hardneg:' || kind, label, probe_id, neighbor_id, rank, score,
           NULL, NULL
    FROM ({_O['e8_hard_negatives']})
    UNION ALL
    SELECT 'decontam', NULL, matched_eval_id, vec_id,
           CAST(contaminated AS BIGINT), CAST(max_cos_e6 AS DOUBLE),
           NULL, NULL
    FROM ({_O['e9_semantic_decontam']})
    UNION ALL
    SELECT 'bitext:' || CAST(mined AS VARCHAR), rank, src_id, tgt_id,
           margin_e6, CAST(cos_e6 AS DOUBLE), sum_x_e6, sum_y_e6
    FROM ({_O['e10_bitext_mining']})
    UNION ALL
    SELECT 'cluster_mix', cluster, n_docs, weight, quota,
           CAST(share_e6 AS DOUBLE), rate_e6, n_kept
    FROM ({_O['e11_cluster_balance']})
    UNION ALL
    SELECT 'bitext_sym:' || CAST(mined AS VARCHAR), rank, src_id, tgt_id,
           margin_e6, CAST(cos_e6 AS DOUBLE), sum_x_e6, sum_y_e6
    FROM ({_O['e12_bitext_bucketed']})
    """,
)
def n3_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column AUDIT suite, one tagged matrix (r10 driver
    rotation; the plain per-label norm aggregate this entry started as is
    the 'norms' branch, fine-grained twins extended):

    - ``norms`` — mean L2 norm per label (n3_norms).
    - ``matryoshka`` — prefix-truncation audit: exact cosine top-5 per
      probe at widths 8/16/32/64 with full-width survivorship (e6).
    - ``signsketch`` — 1-bit sign-sketch ANN audit: Hamming ranking
      beside exact cosine over the same pairs, union of both top-5 sets
      (e7) — sketch recall reads off the rows.
    - ``hardneg:pos`` / ``hardneg:neg`` — contrastive pair mining: top-3
      same-label positives and highest-cosine wrong-label hard negatives
      per anchor (e8).

    - ``decontam`` — embedding-space decontamination: max cosine of each
      training vector against the broadcast eval slice, arg-max eval id,
      contamination flag at exact floor-millionths (e9).

    All branches are broadcast-probe corpus passes over the embeddings
    scan; no corpus×corpus join anywhere."""
    from ago_sisdb_spark.operators import embed as _embed_ops
    from ago_sisdb_spark.operators import similarity as _sim

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    norms = _pipe.n3_norms(spark, sf_dir).select(
        F.lit("norms").alias("method"),
        F.col("label").cast("bigint").alias("g"),
        _L().alias("probe_id"), _L().alias("neighbor_id"),
        F.col("n").cast("bigint").alias("n"),
        F.col("avg_norm").alias("score"),
        _L().alias("r1"), _L().alias("r2"),
    )
    mat = _sim.truncation_audit(
        emb, probes, "vec_id", "embedding", "vec_id", dims=(8, 16, 32, 64), k=5
    ).select(
        F.lit("matryoshka").alias("method"),
        F.col("dim").cast("bigint").alias("g"),
        F.col("probe_id").cast("bigint").alias("probe_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("hit_full").cast("bigint").alias("n"),
        F.col("score").alias("score"),
        _L().alias("r1"), _L().alias("r2"),
    )
    sketch = _embed_ops.hamming_vs_cosine_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5, dim=64
    ).select(
        F.lit("signsketch").alias("method"),
        _L().alias("g"),
        F.col("probe_id").cast("bigint").alias("probe_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("hamming").cast("bigint").alias("n"),
        F.col("cos_score").alias("score"),
        F.col("rank_h").alias("r1"), F.col("rank_c").alias("r2"),
    )
    hard = _embed_ops.hard_negative_mining(
        emb, probes, "vec_id", "embedding", "label", "vec_id", k=3
    ).select(
        F.concat(F.lit("hardneg:"), F.col("kind")).alias("method"),
        F.col("label").cast("bigint").alias("g"),
        F.col("probe_id").cast("bigint").alias("probe_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("n"),
        F.col("score").alias("score"),
        _L().alias("r1"), _L().alias("r2"),
    )
    dec = _pipe.e9_semantic_decontam(spark, sf_dir).select(
        F.lit("decontam").alias("method"),
        _L().alias("g"),
        F.col("matched_eval_id").cast("bigint").alias("probe_id"),
        F.col("vec_id").cast("bigint").alias("neighbor_id"),
        F.col("contaminated").cast("bigint").alias("n"),
        F.col("max_cos_e6").cast("double").alias("score"),
        _L().alias("r1"), _L().alias("r2"),
    )
    # r11: margin-based bitext mining (e10, Artetxe & Schwenk) — the
    # mined flag folds into the tag so every output column is certified
    bitext = _pipe.e10_bitext_mining(spark, sf_dir).select(
        F.concat(
            F.lit("bitext:"), F.col("mined").cast("string")
        ).alias("method"),
        F.col("rank").alias("g"),
        F.col("src_id").cast("bigint").alias("probe_id"),
        F.col("tgt_id").cast("bigint").alias("neighbor_id"),
        F.col("margin_e6").alias("n"),
        F.col("cos_e6").cast("double").alias("score"),
        F.col("sum_x_e6").alias("r1"), F.col("sum_y_e6").alias("r2"),
    )
    # r11: cluster-level diversity rebalancing (e11, SemDeDup/DataComp
    # family) — the audit plan row per embedding cluster
    cmix = _pipe.e11_cluster_balance(spark, sf_dir).select(
        F.lit("cluster_mix").alias("method"),
        F.col("cluster").alias("g"),
        F.col("n_docs").alias("probe_id"),
        F.col("weight").alias("neighbor_id"),
        F.col("quota").alias("n"),
        F.col("share_e6").cast("double").alias("score"),
        F.col("rate_e6").alias("r1"), F.col("n_kept").alias("r2"),
    )
    # r11: the symmetric bucketed miner (e12) — sign-band candidates,
    # candidate-local margins; band column stays in the extended twin
    bsym = _pipe.e12_bitext_bucketed(spark, sf_dir).select(
        F.concat(
            F.lit("bitext_sym:"), F.col("mined").cast("string")
        ).alias("method"),
        F.col("rank").alias("g"),
        F.col("src_id").cast("bigint").alias("probe_id"),
        F.col("tgt_id").cast("bigint").alias("neighbor_id"),
        F.col("margin_e6").alias("n"),
        F.col("cos_e6").cast("double").alias("score"),
        F.col("sum_x_e6").alias("r1"), F.col("sum_y_e6").alias("r2"),
    )
    return (
        norms.unionByName(mat)
        .unionByName(sketch)
        .unionByName(hard)
        .unionByName(dec)
        .unionByName(bitext)
        .unionByName(cmix)
        .unionByName(bsym)
    )


# --------------------------------------------------------------------------
# §2.11 text metrics — one wide scan over documents
# --------------------------------------------------------------------------

@query(
    "t_text_suite",
    oracle=f"""
    SELECT a.doc_id, b.n_ws_tokens, b.n_bpe_tokens, a.n_chars_actual,
           a.n_chars, c.lang, c.pred_lang, d.fingerprint, e.n_grams,
           e.rep_ratio, p.n_email, p.n_phone, p.n_ipv4, p.redacted_len,
           u.n_urls, u.n_hosts, h.score_e6 AS cls_score_e6, h.keep AS cls_keep,
           g.top2_e6, g.dup5_e6, g.gopher_keep,
           z.n_chars_raw, z.n_chars_norm, z.norm_md5
    FROM ({_O['t1_token_count']}) a
    JOIN ({_O['t5_bpe_token_count']}) b ON a.doc_id = b.doc_id
    JOIN ({_O['t3_lang_id']}) c ON a.doc_id = c.doc_id
    JOIN ({_O['t4_fingerprint']}) d ON a.doc_id = d.doc_id
    JOIN ({_O['t6_repetition_ratio']}) e ON a.doc_id = e.doc_id
    JOIN ({_O['t8_pii_redact']}) p ON a.doc_id = p.doc_id
    JOIN ({_O['t9_url_stats']}) u ON a.doc_id = u.doc_id
    JOIN ({_O['t18_hash_classifier']}) h ON a.doc_id = h.doc_id
    JOIN ({_O['t25_gopher_rules']}) g ON a.doc_id = g.doc_id
    JOIN ({_O['t28_text_normalize']}) z ON a.doc_id = z.doc_id
    """,
)
def t_text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis suite as ONE scan projection (no joins, no
    shuffle): whitespace + BPE-ish token counts (T1/T5), char counts,
    heuristic language-ID (T3), rolling-hash fingerprint (T4), the
    Gopher-style 3-gram repetition ratio (T6), PII redaction audit counts
    (t8), URL-filter stats (t9), and the full Gopher rule-gate columns
    (t25: top-2-gram/dup-5-gram char fractions + composite keep).  The
    oracle joins the locally-gated per-metric oracles on doc_id."""
    from ago_sisdb_spark.operators import text

    docs = _t(spark, sf_dir, "documents")
    # split materialized as a column BEFORE the higher-order function — a
    # lambda over the raw split() expression re-evaluates the split per
    # element under the interpreted HOF path (t12 lesson, ~16× slower)
    with_w = docs.withColumn("__w", F.split(F.col("text"), r"\s+"))
    w, n = F.col("__w"), F.size("__w")
    ln = F.greatest(n - 2, F.lit(0))
    g12 = F.zip_with(
        F.slice(w, 1, ln), F.slice(w, 2, ln), lambda a, b: F.concat_ws(" ", a, b)
    )
    grams = F.when(
        n >= 3,
        F.zip_with(g12, F.slice(w, 3, ln), lambda ab, c: F.concat_ws(" ", ab, c)),
    ).otherwise(F.array())
    with_grams = with_w.withColumn("__grams", grams)
    proj = with_grams.select(
        "doc_id",
        "text",
        text.token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        text.regex_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        "n_chars",
        "lang",
        text.lang_id_en(F.col("text"), 0.10).alias("pred_lang"),
        text.fingerprint(F.col("text")).alias("fingerprint"),
        F.size("__grams").cast("bigint").alias("n_grams"),
        F.when(F.size("__grams") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("__grams")) / F.size("__grams"),
                6,
            )
        )
        .alias("rep_ratio"),
        text.pii_counts(F.col("text"))["email"].cast("bigint").alias("n_email"),
        text.pii_counts(F.col("text"))["phone"].cast("bigint").alias("n_phone"),
        text.pii_counts(F.col("text"))["ipv4"].cast("bigint").alias("n_ipv4"),
        F.length(text.redact_pii(F.col("text"))).cast("bigint").alias("redacted_len"),
        text.url_stats(F.col("text"))["n_urls"].cast("bigint").alias("n_urls"),
        F.size(text.url_stats(F.col("text"))["hosts"]).cast("bigint").alias("n_hosts"),
    )
    # r9: Gopher repetition-rule gate columns ride the SAME Arrow pass as
    # the expression projection (gopher_stats passthrough) — a shuffle
    # join of two corpus-scale frames on doc_id would exchange the whole
    # corpus twice for columns the per-row pass already holds
    ride = [c for c in proj.columns if c not in ("doc_id", "text")]
    gophered = text.gopher_stats(
        proj, "doc_id", "text", passthrough=tuple(ride)
    ).select("doc_id", *ride, "top2_e6", "dup5_e6", "gopher_keep")
    return gophered.join(
        # r5: model-based quality gate columns (hashing-trick classifier,
        # operators/text.hashed_linear_score — extended twin t18); this
        # join is inherent — the classifier is an explode + groupBy, its
        # shuffle carries (id, feature) rows, never document bodies
        text.hashed_linear_score(docs, "doc_id", "text").select(
            "doc_id",
            F.col("score_e6").alias("cls_score_e6"),
            F.col("keep").alias("cls_keep"),
        ),
        "doc_id",
    ).join(
        # r11 driver rotation: the t28 NFC-normalization audit columns
        # (zero-width strip → NFC → whitespace collapse, planted
        # decomposed suffix).  The join exchanges (id, 2 bigints, md5) —
        # narrow rows, never document bodies.
        _pipe.t28_text_normalize(spark, sf_dir),
        "doc_id",
    )


# --------------------------------------------------------------------------
# §2.8 scalar function families
# --------------------------------------------------------------------------

@query(
    "f_datetime_family",
    oracle=f"""
    SELECT a.o_orderkey, a.y, a.mo, a.d, a.dow_iso, a.ymd, a.int_date,
           b.due_date, b.days_to_2002, b.next_workday
    FROM ({_O['f_datetime_extract']}) a
    JOIN ({_O['f_date_arith']}) b ON a.o_orderkey = b.o_orderkey
    """,
)
def f_datetime_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date/time family in one projection: extractors + yyyymmdd codec
    (sis_time.h:13-68), day offsets, date diff, and the next-work-day
    weekend-skip rule — one scan, all codegen expressions."""
    from ago_sisdb_spark.functions import timecodec

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("d"),
        (F.weekday("o_orderdate") + 1).cast("bigint").alias("dow_iso"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
        timecodec.to_int_date(F.col("o_orderdate")).alias("int_date"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d)
        .cast("bigint")
        .alias("days_to_2002"),
        timecodec.next_workday(d).alias("next_workday"),
    )


@query(
    "f_math_string",
    oracle=f"""
    SELECT 'math' AS family,
           l_orderkey * 10 + l_linenumber AS row_key,
           CAST(abs_diff AS DOUBLE) AS v1, CAST(least_v AS DOUBLE) AS v2,
           CAST(greatest_v AS DOUBLE) AS v3, CAST(floor_v AS DOUBLE) AS v4,
           CAST(ceil_v AS DOUBLE) AS v5, CAST(safe_div AS DOUBLE) AS v6,
           CAST(zoom_sqrt AS DOUBLE) AS v7,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
           CAST(NULL AS VARCHAR) AS s3, CAST(NULL AS VARCHAR) AS s4
    FROM ({_O['f_math_funcs']})
    UNION ALL
    SELECT 'string', c_custkey,
           CAST(name_len AS DOUBLE), CAST(CAST(has_one AS INTEGER) AS DOUBLE),
           CAST(CAST(is_cust AS INTEGER) AS DOUBLE),
           NULL, NULL, NULL, NULL,
           cust_num, seg_upper, name_lower, name_prefix
    FROM ({_O['f_string_funcs']})
    """,
)
def f_math_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 math + string families as one long-form matrix
    (family, row_key, v1..v7, s1..s4) — every function value hash-checked;
    the wide originals stay in the extended gate."""
    m = _scal.f_math_funcs(spark, sf_dir).select(
        F.lit("math").alias("family"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_key"),
        F.col("abs_diff").cast("double").alias("v1"),
        F.col("least_v").cast("double").alias("v2"),
        F.col("greatest_v").cast("double").alias("v3"),
        F.col("floor_v").cast("double").alias("v4"),
        F.col("ceil_v").cast("double").alias("v5"),
        F.col("safe_div").cast("double").alias("v6"),
        F.col("zoom_sqrt").cast("double").alias("v7"),
        _S().alias("s1"), _S().alias("s2"), _S().alias("s3"), _S().alias("s4"),
    )
    s = _scal.f_string_funcs(spark, sf_dir).select(
        F.lit("string").alias("family"),
        F.col("c_custkey").alias("row_key"),
        F.col("name_len").cast("double").alias("v1"),
        F.col("has_one").cast("int").cast("double").alias("v2"),
        F.col("is_cust").cast("int").cast("double").alias("v3"),
        _D().alias("v4"), _D().alias("v5"), _D().alias("v6"), _D().alias("v7"),
        F.col("cust_num").alias("s1"),
        F.col("seg_upper").alias("s2"),
        F.col("name_lower").alias("s3"),
        F.col("name_prefix").alias("s4"),
    )
    return m.unionByName(s)


@query(
    "f_semistructured",
    oracle=f"""
    SELECT 'json' AS family, row_id, int_val,
           CAST(NULL AS DOUBLE) AS num1, CAST(NULL AS DOUBLE) AS num2,
           CAST(NULL AS DOUBLE) AS num3, CAST(NULL AS VARCHAR) AS str_val
    FROM (SELECT event_id AS row_id, CAST(k_value AS BIGINT) AS int_val
          FROM ({_O['f_json_extract']}))
    UNION ALL
    SELECT 'cast', o_orderkey, price_int, CAST(bad_cast AS DOUBLE),
           NULL, NULL, key_str
    FROM ({_O['f_cast_rules']})
    UNION ALL
    SELECT 'array', vec_id, dim, first_elem, sq_norm, max_elem, NULL
    FROM ({_O['f_array_funcs']})
    UNION ALL
    SELECT 'variant', o_orderkey, v_custkey, v_price, NULL, NULL, v_status
    FROM ({_O['f_variant']})
    UNION ALL
    SELECT 'xml', o_orderkey, x_custkey, NULL, NULL, NULL, x_status
    FROM ({_O['f_xml']})
    """,
)
def f_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 semi-structured families — JSON extraction (sis_json.c), array
    functions (repeated fields, sis_dynamic.h:155-187), widening/try
    cast rules (sis_dynamic.h:110-116), plus the Spark 4 open-schema
    paths: VARIANT (parse_json/variant_get) and native XML (from_xml/
    xpath) — in one long-form matrix."""
    j = _scal.f_json_extract(spark, sf_dir).select(
        F.lit("json").alias("family"),
        F.col("event_id").alias("row_id"),
        F.col("k_value").cast("bigint").alias("int_val"),
        _D().alias("num1"), _D().alias("num2"), _D().alias("num3"),
        _S().alias("str_val"),
    )
    c = _scal.f_cast_rules(spark, sf_dir).select(
        F.lit("cast").alias("family"),
        F.col("o_orderkey").alias("row_id"),
        F.col("price_int").alias("int_val"),
        F.col("bad_cast").cast("double").alias("num1"),
        _D().alias("num2"), _D().alias("num3"),
        F.col("key_str").alias("str_val"),
    )
    a = _scal.f_array_funcs(spark, sf_dir).select(
        F.lit("array").alias("family"),
        F.col("vec_id").alias("row_id"),
        F.col("dim").alias("int_val"),
        F.col("first_elem").alias("num1"),
        F.col("sq_norm").alias("num2"),
        F.col("max_elem").alias("num3"),
        _S().alias("str_val"),
    )
    v = _scal.f_variant(spark, sf_dir).select(
        F.lit("variant").alias("family"),
        F.col("o_orderkey").alias("row_id"),
        F.col("v_custkey").alias("int_val"),
        F.col("v_price").alias("num1"),
        _D().alias("num2"), _D().alias("num3"),
        F.col("v_status").alias("str_val"),
    )
    x = _scal.f_xml(spark, sf_dir).select(
        F.lit("xml").alias("family"),
        F.col("o_orderkey").alias("row_id"),
        F.col("x_custkey").alias("int_val"),
        _D().alias("num1"), _D().alias("num2"), _D().alias("num3"),
        F.col("x_status").alias("str_val"),
    )
    return j.unionByName(c).unionByName(a).unionByName(v).unionByName(x)


@query(
    "u_extension_suite",
    oracle=f"""
    SELECT 'sql_udf' AS part, event_id AS key, logistic_score AS v1,
           self_ratio AS v2, zoomed AS v3, CAST(NULL AS VARCHAR) AS s1
    FROM ({_O['u2_registered_methods']})
    UNION ALL
    SELECT 'udaf', CAST(NULL AS BIGINT), geo_mean, NULL, NULL, event_type
    FROM ({_O['u5_grouped_agg_udaf']})
    UNION ALL
    SELECT 'enrich', c_custkey,
           round((((c_custkey % 1000003) * 2654435761) % 1000003) / 1000003.0, 6),
           NULL, NULL,
           CASE WHEN (((c_custkey % 1000003) * 2654435761) % 1000003) / 1000003.0 >= 0.66
                THEN 'hot'
                WHEN (((c_custkey % 1000003) * 2654435761) % 1000003) / 1000003.0 >= 0.33
                THEN 'warm' ELSE 'cold' END
    FROM customer WHERE c_custkey < 200
    """,
)
def u_extension_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 extension surface in one matrix: pandas-UDF methods registered
    by name + call() dispatch (U2/U3), a grouped-agg UDAF (U1/U2), and the
    U4 external-enrichment bridge — mapInPandas with an injectable fetcher
    (pyscript/api_web.py:1-20 parity), here the deterministic local stub."""
    from ago_sisdb_spark.functions.enrich import enrich, stub_score_fetcher

    u2 = _scal.u2_registered_methods(spark, sf_dir).select(
        F.lit("sql_udf").alias("part"),
        F.col("event_id").alias("key"),
        F.col("logistic_score").alias("v1"),
        F.col("self_ratio").alias("v2"),
        F.col("zoomed").alias("v3"),
        _S().alias("s1"),
    )
    u5 = _scal.u5_grouped_agg_udaf(spark, sf_dir).select(
        F.lit("udaf").alias("part"),
        _L().alias("key"),
        F.col("geo_mean").alias("v1"),
        _D().alias("v2"), _D().alias("v3"),
        F.col("event_type").alias("s1"),
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 200)
        .select("c_custkey")
    )
    enriched = enrich(
        cust, stub_score_fetcher("c_custkey"), "score double, tier string"
    )
    u4 = enriched.select(
        F.lit("enrich").alias("part"),
        F.col("c_custkey").alias("key"),
        F.round("score", 6).alias("v1"),
        _D().alias("v2"), _D().alias("v3"),
        F.col("tier").alias("s1"),
    )
    return u2.unionByName(u5).unionByName(u4)


# --------------------------------------------------------------------------
# §2.2/§2.6 range-scan matrix + search DSL + set ops
# --------------------------------------------------------------------------

_EV5 = ["event_id", "ts", "user_id", "event_type", "value"]


@query(
    "p3_range_matrix",
    oracle="""
    WITH ev AS (SELECT event_id, ts, user_id, event_type, value FROM events),
    ranked7 AS (
        SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn
        FROM ev WHERE user_id = 7),
    anchor AS (
        SELECT max(rn) AS arn FROM ranked7
        WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
    SELECT 'last' AS probe, event_id, ts, user_id, event_type, value
    FROM (SELECT * FROM ev ORDER BY ts DESC, event_id DESC LIMIT 1)
    UNION ALL
    SELECT 'head', event_id, ts, user_id, event_type, value
    FROM (SELECT * FROM ev WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
          ORDER BY ts, event_id LIMIT 100)
    UNION ALL
    SELECT 'tail', event_id, ts, user_id, event_type, value
    FROM (SELECT * FROM ev ORDER BY ts DESC, event_id DESC LIMIT 50)
    UNION ALL
    SELECT 'ifprev', event_id, ts, user_id, event_type, value
    FROM ev WHERE CAST(ts AS DATE) = (
        SELECT max(CAST(ts AS DATE)) FROM ev
        WHERE ts <= TIMESTAMP '2024-02-15 00:00:00')
    UNION ALL
    SELECT 'offset', event_id, ts, user_id, event_type, value
    FROM ranked7 r, anchor a WHERE r.rn = a.arn - 2
    UNION ALL
    SELECT 'fields', event_id, ts, user_id, event_type, value
    FROM ev WHERE CAST(ts AS DATE) = DATE '2024-01-05'
    UNION ALL
    SELECT 'topk', event_id, ts, user_id, event_type, value
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id) AS rn FROM ev)
    WHERE rn <= 3
    """,
)
def p3_range_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's record-addressing matrix (P1/P3/O1-O5, S1) as one
    tagged union: latest record, head-n from start, tail-n, ifprev
    previous-day fallback, offset -n stepping, field projection of a day
    slice, and top-k per group (sisdb_fmap.h:102-160, sis_group.h:15-47).
    Every probe emits the full 5-column projection so the matrix is a real
    multi-probe read, not a checksum."""
    from ago_sisdb_spark.operators import lastper, rangescan

    ev = _t(spark, sf_dir, "events").select(*_EV5)
    order = [F.col("ts"), F.col("event_id")]

    def tag(df: DataFrame, probe: str) -> DataFrame:
        return df.select(F.lit(probe).alias("probe"), *_EV5)

    last = tag(rangescan.last_record(ev, order), "last")
    head = tag(
        rangescan.head_n(
            rangescan.time_range(ev, "ts", start="2024-01-15 00:00:00"), 100, order
        ),
        "head",
    )
    tail = tag(rangescan.tail_n(ev, 50, order), "tail")
    ifprev = tag(rangescan.ifprev_day_scan(ev, "ts", "2024-02-15 00:00:00"), "ifprev")
    offset = tag(
        rangescan.offset_shift(
            ev.where(F.col("user_id") == 7), "ts", "2024-01-15 00:00:00", -2, order
        ),
        "offset",
    )
    fields = tag(
        ev.where(F.col("ts").cast("date") == F.lit("2024-01-05").cast("date")),
        "fields",
    )
    topk = tag(
        lastper.topk_per_key(
            ev, ["event_type"], [F.col("value").desc(), F.col("event_id").asc()], 3
        ),
        "topk",
    )
    out = last
    for part in (head, tail, ifprev, offset, fields, topk):
        out = out.unionByName(part)
    return out


@query(
    "p4_search_dsl",
    oracle=f"""
    SELECT 'and' AS form, event_id, event_type, value, user_id
    FROM events
    WHERE lower(event_type) IN ('click', 'view')
      AND value BETWEEN 10.0 AND 50.0 AND user_id = 42
    UNION ALL
    SELECT 'or', event_id, event_type, value, user_id
    FROM events
    WHERE (event_type = 'error' AND value >= 90.0)
       OR (event_type = 'purchase' AND value <= 2.0)
    """,
)
def p4_search_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 search DSL, both composition forms through the actual compiler
    (operators/search.compile_search): AND-object with in/range/equality
    predicates, and OR-array of AND-objects (sisdb_fmap.h:92-100,
    sisdb.h:50-53)."""
    from ago_sisdb_spark.operators.search import compile_search

    ev = _t(spark, sf_dir, "events")
    and_pred = compile_search(
        {
            "event_type": {"in": ["click", "view"]},
            "value": {"min": 10.0, "max": 50.0},
            "user_id": 42,
        }
    )
    or_pred = compile_search(
        [
            {"event_type": "error", "value": {"min": 90.0}},
            {"event_type": "purchase", "value": {"max": 2.0}},
        ]
    )
    cols = ["event_id", "event_type", "value", "user_id"]
    a = ev.where(and_pred).select(F.lit("and").alias("form"), *cols)
    b = ev.where(or_pred).select(F.lit("or").alias("form"), *cols)
    return a.unionByName(b)


@query(
    "set_ops",
    oracle=f"""
    SELECT 'union' AS op, CAST(user_id AS VARCHAR) AS key,
           CAST(NULL AS TIMESTAMP) AS event_time
    FROM ({_O['set_union']})
    UNION ALL
    SELECT 'intersect', CAST(user_id AS VARCHAR), NULL
    FROM ({_O['set_intersect']})
    UNION ALL
    SELECT 'except', CAST(user_id AS VARCHAR), NULL
    FROM ({_O['set_except']})
    UNION ALL
    SELECT 'kway_' || source, key, event_time
    FROM ({_O['r1_kway_merge']})
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set algebra (UNION/INTERSECT/EXCEPT key sets, sis_utils.h:60-82)
    plus the T2/T3 k-way time-ordered replay merge (sis_db.c:420-533) in one
    tagged matrix."""
    _TS = F.lit(None).cast("timestamp")

    def keyed(df: DataFrame, op: str) -> DataFrame:
        return df.select(
            F.lit(op).alias("op"),
            F.col("user_id").cast("string").alias("key"),
            _TS.alias("event_time"),
        )

    u = keyed(_scans.set_union(spark, sf_dir), "union")
    i = keyed(_scans.set_intersect(spark, sf_dir), "intersect")
    e = keyed(_scans.set_except(spark, sf_dir), "except")
    k = _scans.r1_kway_merge(spark, sf_dir).select(
        F.concat(F.lit("kway_"), F.col("source")).alias("op"),
        "key",
        "event_time",
    )
    return u.unionByName(i).unionByName(e).unionByName(k)


# --------------------------------------------------------------------------
# §2.4 series math umbrellas
# --------------------------------------------------------------------------

@query(
    "a3_stat_suite",
    oracle=f"""
    WITH base AS (
        SELECT event_type, round(avg(value), 6) AS mean_value,
               round(median(value), 6) AS median_value,
               round(var_samp(value), 6) AS var_value,
               round(stddev_samp(value), 6) AS std_value,
               round(exp(-pow(50.0 - avg(value), 2) / (2 * var_samp(value)))
                     / sqrt(2 * pi() * var_samp(value)), 6) AS chance_at_50
        FROM events GROUP BY event_type)
    SELECT base.*, m.mad, m.n_outliers,
           p50.est AS p50_hist, p99.est AS p99_hist,
           t.auc_num2 AS cls_auc_num2, t.auc AS cls_auc,
           t.f1 AS cls_f1, t.accuracy AS cls_accuracy,
           mw.n_a AS mw_n_a, mw.n_b AS mw_n_b, mw.u1_x2 AS mw_u1_x2,
           mw.tie_term AS mw_tie_term, mw.z AS mw_z,
           cu.cusum_peak, cu.cusum_peak_at, cu.cusum_changed,
           tt.tt_n_a, tt.tt_n_b, tt.tt_mean_diff, tt.tt_t_stat,
           tt.tt_welch_df, tt.tt_significant,
           se.seas_top_id, se.seas_resid_e6_sum, se.seas_id_sum
    FROM base
    JOIN ({_O['a18_mad_outliers']}) m ON base.event_type = m.event_type
    JOIN (SELECT event_type, est FROM ({_O['a19_hist_quantiles']})
          WHERE q = 0.5) p50 ON base.event_type = p50.event_type
    JOIN (SELECT event_type, est FROM ({_O['a19_hist_quantiles']})
          WHERE q = 0.99) p99 ON base.event_type = p99.event_type
    CROSS JOIN ({_O['t27_classifier_eval']}) t
    CROSS JOIN ({_O['a23_mannwhitney']}) mw
    JOIN (SELECT event_type, peak_cusum AS cusum_peak,
                 peak_at AS cusum_peak_at, changed AS cusum_changed
          FROM ({_O['a20_cusum']})) cu ON base.event_type = cu.event_type
    JOIN (SELECT event_type, n_a AS tt_n_a, n_b AS tt_n_b,
                 mean_diff AS tt_mean_diff, t_stat AS tt_t_stat,
                 welch_df AS tt_welch_df, significant AS tt_significant
          FROM ({_O['a21_ab_ttest']})) tt ON base.event_type = tt.event_type
    JOIN (SELECT event_type,
                 min(CASE WHEN rank = 1 THEN event_id END) AS seas_top_id,
                 CAST(sum(CAST(floor(resid * 1000000) AS BIGINT)) AS BIGINT)
                     AS seas_resid_e6_sum,
                 CAST(sum(event_id) AS BIGINT) AS seas_id_sum
          FROM ({_O['a22_seasonal_residuals']})
          GROUP BY event_type) se ON base.event_type = se.event_type
    """,
)
def a3_stat_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4+A5 per-series statistics in ONE aggregation: mean, exact
    interpolated median (approx_percentile at 100 TB), sample variance and
    stddev, and the A5 normal-density 'chance' at x=50 derived from the same
    (mu, var) — one shuffle total (sis_ai.h:45,138,140).

    r10 (r9 verdict #2): the exact-rank-statistics row rides along as
    four cross-joined columns from the t27 classifier-eval summary —
    integer-exact tie-aware Mann-Whitney ROC-AUC numerator (auc_num2),
    the AUC itself, F1, and accuracy — so the range-partitioned
    prefix-sum machinery (lastper.global_prefix_sums) is hash-certified
    in the driver window.  The t27 summary is ONE row; the cross join is
    a broadcast of a single row onto five."""
    from ago_sisdb_spark.operators import series

    g = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.avg("value").alias("mu"),
            F.median("value").alias("med"),
            F.var_samp("value").alias("s2"),
            F.stddev_samp("value").alias("sd"),
        )
    )
    base = g.select(
        "event_type",
        F.round("mu", 6).alias("mean_value"),
        F.round("med", 6).alias("median_value"),
        F.round("s2", 6).alias("var_value"),
        F.round("sd", 6).alias("std_value"),
        F.round(
            series.normal_density(F.lit(50.0), F.col("mu"), F.col("s2")), 6
        ).alias("chance_at_50"),
    )
    # r5: robust MAD screen + histogram-sketch quantiles (extended twins
    # a18/a19) joined in as suite columns
    from ago_sisdb_spark.operators import sketch
    from ago_sisdb_spark.operators.series import mad_outliers

    ev = _t(spark, sf_dir, "events")
    mad = mad_outliers(ev, "event_type", "value").select(
        "event_type", "mad", "n_outliers"
    )
    hq = sketch.hist_quantiles(ev, "event_type", "value")
    p50 = hq.where(F.col("q") == 0.5).select("event_type", F.col("est").alias("p50_hist"))
    p99 = hq.where(F.col("q") == 0.99).select("event_type", F.col("est").alias("p99_hist"))
    cls = _pipe.t27_classifier_eval(spark, sf_dir).select(
        F.col("auc_num2").alias("cls_auc_num2"),
        F.col("auc").alias("cls_auc"),
        F.col("f1").alias("cls_f1"),
        F.col("accuracy").alias("cls_accuracy"),
    )
    # r11 driver rotation: the standalone tie-aware Mann-Whitney U test
    # (a23 — click vs purchase value streams, integer-exact 2·U and tie
    # term over range-partitioned prefix sums, z one fixed IEEE tree)
    # rides as five more cross-joined summary columns (one row).
    mw = _series.a23_mannwhitney(spark, sf_dir).select(
        F.col("n_a").alias("mw_n_a"),
        F.col("n_b").alias("mw_n_b"),
        F.col("u1_x2").alias("mw_u1_x2"),
        F.col("tie_term").alias("mw_tie_term"),
        F.col("z").alias("mw_z"),
    )
    # r12 driver rotation (r11 verdict #7): the anomaly family joins as
    # per-series suite columns — a20 CUSUM change-point peak, a21 Welch
    # two-sample comparison, and a22's top-5 seasonal residuals folded
    # into an exact-integer digest (rank-1 event id + floor-e6 residual
    # sum + member id sum — certifies the full top-5 content without
    # widening the row count).  All three are series-cardinality frames.
    cus = _series.a20_cusum(spark, sf_dir).select(
        "event_type",
        F.col("peak_cusum").alias("cusum_peak"),
        F.col("peak_at").alias("cusum_peak_at"),
        F.col("changed").alias("cusum_changed"),
    )
    tt = _series.a21_ab_ttest(spark, sf_dir).select(
        "event_type",
        F.col("n_a").alias("tt_n_a"), F.col("n_b").alias("tt_n_b"),
        F.col("mean_diff").alias("tt_mean_diff"),
        F.col("t_stat").alias("tt_t_stat"),
        F.col("welch_df").alias("tt_welch_df"),
        F.col("significant").alias("tt_significant"),
    )
    seas = (
        _series.a22_seasonal_residuals(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rank") == 1, F.col("event_id")))
            .alias("seas_top_id"),
            F.sum(F.floor(F.col("resid") * F.lit(1_000_000)).cast("long"))
            .cast("long")
            .alias("seas_resid_e6_sum"),
            F.sum("event_id").cast("long").alias("seas_id_sum"),
        )
    )
    return (
        base.join(mad, "event_type")
        .join(p50, "event_type")
        .join(p99, "event_type")
        .crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(mw))
        .join(cus, "event_type")
        .join(tt, "event_type")
        .join(seas, "event_type")
    )


@query(
    "w1_window_suite",
    oracle=f"""
    SELECT 'w1' AS part, event_id, user_id, value, rnk, drnk, prev_value,
           next_value, moving_sum3, quartile, pct_rnk, cdist, first_val,
           second_val, CAST(NULL AS VARCHAR) AS motif
    FROM ({_O['w1_core']})
    UNION ALL
    SELECT 'w3_funnel', CAST(step_no AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), n_users, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), step
    FROM ({_O['w3_funnel']})
    UNION ALL
    SELECT 'w4_retention', day_offset, NULL, NULL, n_users, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(cohort_day AS VARCHAR)
    FROM ({_O['w4_retention']})
    UNION ALL
    SELECT 'w5_motifs', rank, NULL, NULL, n, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, motif
    FROM ({_O['w5_event_motifs']})
    """,
)
def w1_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 window surface + event-sequence analytics, one tagged matrix
    (r12 driver rotation, r11 verdict #7; the plain window projection
    this entry started as is the ``w1`` branch, fine-grained twin
    extended as ``w1_core``):

    - ``w1`` — rank/dense_rank, lag/lead, rowsBetween frame, ntile,
      percent_rank, cume_dist, first/nth_value over the shared user_id
      partitioning.
    - ``w3_funnel`` — ordered view→click→purchase funnel (strictly-after
      per-user step times); event_id carries step_no, rnk the user count,
      motif the step name.
    - ``w4_retention`` — cohort retention triangle; event_id carries the
      day offset, rnk the user count, motif the cohort day.
    - ``w5_motifs`` — top-20 consecutive 3-event motifs (window-free
      global top-k); event_id carries the rank, rnk the count.

    All branches share the user-key or bounded-vocabulary shuffles of
    their extended twins — nothing new row-scale."""
    core = _series.w1_core(spark, sf_dir).select(
        F.lit("w1").alias("part"),
        "event_id", "user_id", "value", "rnk", "drnk", "prev_value",
        "next_value", "moving_sum3", "quartile", "pct_rnk", "cdist",
        "first_val", "second_val",
        F.lit(None).cast("string").alias("motif"),
    )

    def _wrow(part, df, event_id, rnk, motif):
        return df.select(
            F.lit(part).alias("part"),
            event_id.cast("long").alias("event_id"),
            _L().alias("user_id"), _D().alias("value"),
            rnk.cast("long").alias("rnk"), _L().alias("drnk"),
            _D().alias("prev_value"), _D().alias("next_value"),
            _D().alias("moving_sum3"), _L().alias("quartile"),
            _D().alias("pct_rnk"), _D().alias("cdist"),
            _D().alias("first_val"), _D().alias("second_val"),
            motif.cast("string").alias("motif"),
        )

    funnel = _wrow(
        "w3_funnel", _series.w3_funnel(spark, sf_dir),
        F.col("step_no"), F.col("n_users"), F.col("step"),
    )
    retention = _wrow(
        "w4_retention", _series.w4_retention(spark, sf_dir),
        F.col("day_offset"), F.col("n_users"), F.col("cohort_day"),
    )
    motifs = _wrow(
        "w5_motifs", _series.w5_event_motifs(spark, sf_dir),
        F.col("rank"), F.col("n"), F.col("motif"),
    )
    return (
        core.unionByName(funnel)
        .unionByName(retention)
        .unionByName(motifs)
    )


@query(
    "a6_corr_suite",
    oracle=f"""
    SELECT 'pearson' AS variant, l_returnflag AS grp, qty_price_corr AS v1,
           CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3
    FROM ({_O['a6_correlation']})
    UNION ALL
    SELECT 'lag1', event_type, autocorr_1, NULL, NULL
    FROM ({_O['a6_lagged_corr']})
    UNION ALL
    SELECT 'dir', 'all', dir_corr, CAST(n_same_dir AS DOUBLE),
           CAST(n_days AS DOUBLE)
    FROM ({_O['a6_directional_corr']})
    UNION ALL
    SELECT 'regr', l_returnflag, slope, intercept, NULL
    FROM ({_O['a7_regr_slope']})
    """,
)
def a6_corr_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7 correlation/regression family (sis_ai_corr.h:15-25,
    sis_ai.h:135-136): Pearson, lag-1 autocorrelation, directional
    (sign-of-delta) correlation, and least-squares slope/intercept — one
    tagged matrix reusing the locally-gated originals."""
    pearson = _series.a6_correlation(spark, sf_dir).select(
        F.lit("pearson").alias("variant"),
        F.col("l_returnflag").alias("grp"),
        F.col("qty_price_corr").alias("v1"),
        _D().alias("v2"), _D().alias("v3"),
    )
    lag1 = _series.a6_lagged_corr(spark, sf_dir).select(
        F.lit("lag1").alias("variant"),
        F.col("event_type").alias("grp"),
        F.col("autocorr_1").alias("v1"),
        _D().alias("v2"), _D().alias("v3"),
    )
    direc = _series.a6_directional_corr(spark, sf_dir).select(
        F.lit("dir").alias("variant"),
        F.lit("all").alias("grp"),
        F.col("dir_corr").alias("v1"),
        F.col("n_same_dir").cast("double").alias("v2"),
        F.col("n_days").cast("double").alias("v3"),
    )
    regr = _series.a7_regr_slope(spark, sf_dir).select(
        F.lit("regr").alias("variant"),
        F.col("l_returnflag").alias("grp"),
        F.col("slope").alias("v1"),
        F.col("intercept").alias("v2"),
        _D().alias("v3"),
    )
    return pearson.unionByName(lag1).unionByName(direc).unionByName(regr)


@query(
    "a10_norm_weighted",
    oracle=f"""
    SELECT 'minmax' AS variant, CAST(event_id AS VARCHAR) AS key,
           norm_value AS x
    FROM ({_O['a10_minmax_norm']})
    UNION ALL
    SELECT 'fib_wmean', event_type, fib_wmean
    FROM ({_O['a11_fib_weighted_mean']})
    UNION ALL
    SELECT 'ewma', CAST(user_id AS VARCHAR), ewma
    FROM ({_O['a12_ewma']})
    """,
)
def a10_norm_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10-A12 normalization + recency weighting family: per-row min-max
    normalization, golden-ratio (Fibonacci) weighted mean of the last 20,
    and the EWMA fold (sis_ai.h:22-64,142) — one tagged matrix."""
    mm = _series.a10_minmax_norm(spark, sf_dir).select(
        F.lit("minmax").alias("variant"),
        F.col("event_id").cast("string").alias("key"),
        F.col("norm_value").alias("x"),
    )
    fib = _series.a11_fib_weighted_mean(spark, sf_dir).select(
        F.lit("fib_wmean").alias("variant"),
        F.col("event_type").alias("key"),
        F.col("fib_wmean").alias("x"),
    )
    ew = _series.a12_ewma(spark, sf_dir).select(
        F.lit("ewma").alias("variant"),
        F.col("user_id").cast("string").alias("key"),
        F.col("ewma").alias("x"),
    )
    return mm.unionByName(fib).unionByName(ew)


@query(
    "a13_a14_patterns",
    oracle=f"""
    SELECT 'trend' AS stat, event_type, CAST(trend_code AS BIGINT) AS code, n
    FROM ({_O['a13_trend_code']})
    UNION ALL
    SELECT 'peaks', event_type, CAST(NULL AS BIGINT), n_peaks
    FROM ({_O['a14_local_extrema']})
    UNION ALL
    SELECT 'troughs', event_type, CAST(NULL AS BIGINT), n_troughs
    FROM ({_O['a14_local_extrema']})
    """,
)
def a13_a14_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13+A14 pattern statistics: 3-period up/down trend-code distribution
    and local peak/trough counts per series (sis_ai.h:66-112,180-280)."""
    trend = _series.a13_trend_code(spark, sf_dir).select(
        F.lit("trend").alias("stat"),
        "event_type",
        F.col("trend_code").cast("bigint").alias("code"),
        "n",
    )
    ext = _series.a14_local_extrema(spark, sf_dir)
    peaks = ext.select(
        F.lit("peaks").alias("stat"), "event_type", _L().alias("code"),
        F.col("n_peaks").alias("n"),
    )
    troughs = ext.select(
        F.lit("troughs").alias("stat"), "event_type", _L().alias("code"),
        F.col("n_troughs").alias("n"),
    )
    return trend.unionByName(peaks).unionByName(troughs)


@query(
    "a8_stateful_series",
    oracle=f"""
    SELECT 'polyfit' AS op, event_type, c2 AS x1, c1 AS x2, c0 AS x3
    FROM ({_O['a8_polyfit_planted']})
    UNION ALL
    SELECT 'turn', event_type, turn_time,
           turn_value, CAST(direction AS DOUBLE)
    FROM ({_O['a14_turning_scan_planted']})
    """,
)
def a8_stateful_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 polyfit + A14 full turning-point scan — the two genuinely stateful
    per-series algorithms (numpy / stateful loop in Arrow-batched
    applyInPandas; sis_ai.h:66-112,131-133).

    Oracle-checked since r4 via the planted twins (r3 verdict #5): the same
    operators run on closed-form inputs whose exact outputs DuckDB states
    directly — an exact quadratic for polyfit, a triangle wave for the
    turning scan.  The real-data runs remain as the extended rows-only
    entries ``a8_polyfit`` / ``a14_turning_points`` with local-model tests
    in tests/test_series_pandas.py."""
    poly = _series.a8_polyfit_planted(spark, sf_dir).select(
        F.lit("polyfit").alias("op"),
        "event_type",
        F.col("c2").alias("x1"),
        F.col("c1").alias("x2"),
        F.col("c0").alias("x3"),
    )
    turns = _series.a14_turning_scan_planted(spark, sf_dir).select(
        F.lit("turn").alias("op"),
        "event_type",
        F.col("turn_time").alias("x1"),
        F.col("turn_value").alias("x2"),
        F.col("direction").cast("double").alias("x3"),
    )
    return poly.unionByName(turns)


@query(
    "p2_w2_exact_session",
    oracle=f"""
    SELECT 'exact' AS branch, o_orderkey AS key, o_orderdate AS ts,
           CAST(NULL AS BIGINT) AS n, o_totalprice AS metric
    FROM ({_O['p2_exact_time_where']})
    UNION ALL
    SELECT 'session', user_id, session_start,
           CAST(n_events AS BIGINT), session_value
    FROM ({_O['w2_session_window']})
    """,
)
def p2_w2_exact_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slot 50 (r2 verdict #1): the two §2 operators that previously
    had no driver row, as one tagged union —

    - 'exact':   P2 strict main-index equality where (sisdb_fmap_ctrl.c:
      575-593) — an exact-timestamp predicate that prunes to one partition;
    - 'session': W2 sessionization via F.session_window (30-minute gap),
      the state-store-backed gaps-and-islands operator.

    Both branches reuse the locally-gated fine-grained builders verbatim."""
    p2 = _scans.p2_exact_time_where(spark, sf_dir).select(
        F.lit("exact").alias("branch"),
        F.col("o_orderkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        _L().alias("n"),
        F.col("o_totalprice").alias("metric"),
    )
    w2 = _agg.w2_session_window(spark, sf_dir).select(
        F.lit("session").alias("branch"),
        F.col("user_id").alias("key"),
        F.col("session_start").alias("ts"),
        F.col("n_events").cast("bigint").alias("n"),
        F.col("session_value").alias("metric"),
    )
    return p2.unionByName(w2)


@query(
    "pipe3_training_prep",
    oracle=f"""
    SELECT 'decontam' AS part, CAST(train_id AS VARCHAR) AS key,
           n_shared_shingles AS n1, CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS DOUBLE) AS metric
    FROM ({_O['pipe3_decontam']})
    UNION ALL
    SELECT 'pack', shard || ':' || bin, n_docs, total_tokens,
           CAST(NULL AS DOUBLE)
    FROM ({_O['pipe4_packing']})
    UNION ALL
    SELECT 'sample', bucket, n_kept, n_total, CAST(NULL AS DOUBLE)
    FROM ({_O['pipe5_sampling']})
    UNION ALL
    SELECT 'logprob', CAST(doc AS VARCHAR), n_toks, CAST(NULL AS BIGINT),
           mean_logprob
    FROM ({_O['t7_unigram_logprob']})
    UNION ALL
    SELECT 'paradedup', CAST(doc AS VARCHAR), n_paras,
           CAST(n_kept AS BIGINT), dup_ratio
    FROM ({_O['t10_paragraph_dedup']})
    UNION ALL
    SELECT 'domainmix', source, rate_e6, n_kept, CAST(NULL AS DOUBLE)
    FROM ({_O['pipe12_domain_mix']})
    UNION ALL
    SELECT 'funnel', stage, CAST(n_docs AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({_O['pipe13_prep_funnel']})
    UNION ALL
    SELECT 'domain_kl', source, n_tokens, vocab, kl
    FROM ({_O['t29_domain_kl']})
    UNION ALL
    SELECT 'qgate', CAST(doc_id AS VARCHAR), pct_e6,
           CAST(keep AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_O['t30_domain_quantile_gate']})
    UNION ALL
    SELECT 'vocab_drift', lang, n_tokens, oov_e6, CAST(NULL AS DOUBLE)
    FROM ({_O['t31_vocab_drift']})
    UNION ALL
    SELECT 'calibration', CAST(bin AS VARCHAR), n, n_pos, conf
    FROM ({_O['t32_calibration_bins']})
    UNION ALL
    SELECT 'bpe_fertility', lang, CAST(n_words AS BIGINT), fertility_e6,
           CAST(NULL AS DOUBLE)
    FROM ({_O['t26_bpe_fertility']})
    UNION ALL
    SELECT 'novelty', CAST(doc_id AS VARCHAR), n_grams, n_unique,
           CAST(NULL AS DOUBLE)
    FROM ({_O['t33_ngram_novelty']})
    UNION ALL
    SELECT 'c4', CAST(doc_id AS VARCHAR), n_kept_lines,
           CAST(c4_keep AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_O['t34_c4_line_filters']})
    UNION ALL
    SELECT 'script', CAST(doc_id AS VARCHAR) || ':' || dominant,
           dominant_e6, CAST(mixed AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_O['t35_script_profile']})
    UNION ALL
    SELECT 'urlcanon', curl || ':' || CAST(n_raw_variants AS VARCHAR),
           n_occurrences, n_docs, CAST(NULL AS DOUBLE)
    FROM ({_O['t36_url_canonical']})
    UNION ALL
    SELECT 'hostrank', node, rank_e12, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({_O['t37_host_rank']})
    UNION ALL
    SELECT 'hits', node, hub_e6, auth_e6, CAST(NULL AS DOUBLE)
    FROM ({_O['t39_hits']})
    UNION ALL
    SELECT 'entropy', CAST(doc_id AS VARCHAR), n_chars, n_distinct, entropy
    FROM ({_O['t38_char_entropy']})
    UNION ALL
    SELECT 'bpe_train', pair || '>' || merged, merge_rank, pair_count,
           CAST(NULL AS DOUBLE)
    FROM ({_O['t20_bpe_train']})
    """,
)
def pipe3_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data preparation suite (operators/prep, operators/text):
    benchmark decontamination (train docs sharing word 3-grams with the
    held-out doc_id%97 eval slice — shingle equi-join, never
    |train|x|eval|), contiguous context-window packing (512-token bins,
    running-sum window per shard — no global sort), reproducible
    quality-temperature sampling (deterministic hash gate per bucket),
    corpus unigram-logprob quality scoring (two-pass vocab + broadcast
    join), and the Gopher-style paragraph-level first-occurrence dedup
    audit (digest-keyed shuffle, never the unit text)."""
    dec = _pipe.pipe3_decontam(spark, sf_dir).select(
        F.lit("decontam").alias("part"),
        F.col("train_id").cast("string").alias("key"),
        F.col("n_shared_shingles").alias("n1"),
        _L().alias("n2"),
        _D().alias("metric"),
    )
    pack = _pipe.pipe4_packing(spark, sf_dir).select(
        F.lit("pack").alias("part"),
        F.concat_ws(":", "shard", "bin").alias("key"),
        F.col("n_docs").alias("n1"),
        F.col("total_tokens").alias("n2"),
        _D().alias("metric"),
    )
    samp = _pipe.pipe5_sampling(spark, sf_dir).select(
        F.lit("sample").alias("part"),
        F.col("bucket").alias("key"),
        F.col("n_kept").alias("n1"),
        F.col("n_total").alias("n2"),
        _D().alias("metric"),
    )
    logp = _pipe.t7_unigram_logprob(spark, sf_dir).select(
        F.lit("logprob").alias("part"),
        F.col("doc").cast("string").alias("key"),
        F.col("n_toks").alias("n1"),
        _L().alias("n2"),
        F.col("mean_logprob").alias("metric"),
    )
    para = _pipe.t10_paragraph_dedup(spark, sf_dir).select(
        F.lit("paradedup").alias("part"),
        F.col("doc").cast("string").alias("key"),
        F.col("n_paras").alias("n1"),
        F.col("n_kept").cast("bigint").alias("n2"),
        F.col("dup_ratio").alias("metric"),
    )
    # r10 driver rotation (r9 verdict #2): the post-r7 prep/text-health
    # family rides the same tagged union so the driver hash certifies it —
    # domain mixing (pipe12), the prep funnel (pipe13), per-domain KL
    # (t29), the per-domain quantile gate (t30), vocabulary drift (t31),
    # classifier calibration bins (t32), BPE train+fertility (t26), and
    # per-doc n-gram novelty (t33).  Oracle composes the extended entries'
    # strings verbatim; fine-grained twins stay extended for localization.
    mix = _pipe.pipe12_domain_mix(spark, sf_dir).select(
        F.lit("domainmix").alias("part"),
        F.col("source").alias("key"),
        F.col("rate_e6").alias("n1"),
        F.col("n_kept").alias("n2"),
        _D().alias("metric"),
    )
    funnel = _pipe.pipe13_prep_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("part"),
        F.col("stage").alias("key"),
        F.col("n_docs").cast("bigint").alias("n1"),
        _L().alias("n2"),
        _D().alias("metric"),
    )
    dkl = _pipe.t29_domain_kl(spark, sf_dir).select(
        F.lit("domain_kl").alias("part"),
        F.col("source").alias("key"),
        F.col("n_tokens").alias("n1"),
        F.col("vocab").alias("n2"),
        F.col("kl").alias("metric"),
    )
    qgate = _pipe.t30_domain_quantile_gate(spark, sf_dir).select(
        F.lit("qgate").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("pct_e6").alias("n1"),
        F.col("keep").cast("bigint").alias("n2"),
        _D().alias("metric"),
    )
    drift = _pipe.t31_vocab_drift(spark, sf_dir).select(
        F.lit("vocab_drift").alias("part"),
        F.col("lang").alias("key"),
        F.col("n_tokens").alias("n1"),
        F.col("oov_e6").alias("n2"),
        _D().alias("metric"),
    )
    calib = _pipe.t32_calibration_bins(spark, sf_dir).select(
        F.lit("calibration").alias("part"),
        F.col("bin").cast("string").alias("key"),
        F.col("n").alias("n1"),
        F.col("n_pos").alias("n2"),
        F.col("conf").alias("metric"),
    )
    fert = _pipe.t26_bpe_fertility(spark, sf_dir).select(
        F.lit("bpe_fertility").alias("part"),
        F.col("lang").alias("key"),
        F.col("n_words").cast("bigint").alias("n1"),
        F.col("fertility_e6").alias("n2"),
        _D().alias("metric"),
    )
    novelty = _pipe.t33_ngram_novelty(spark, sf_dir).select(
        F.lit("novelty").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_grams").alias("n1"),
        F.col("n_unique").alias("n2"),
        _D().alias("metric"),
    )
    c4 = _pipe.t34_c4_line_filters(spark, sf_dir).select(
        F.lit("c4").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_kept_lines").alias("n1"),
        F.col("c4_keep").cast("bigint").alias("n2"),
        _D().alias("metric"),
    )
    script = _pipe.t35_script_profile(spark, sf_dir).select(
        F.lit("script").alias("part"),
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("dominant")
        ).alias("key"),
        F.col("dominant_e6").alias("n1"),
        F.col("mixed").cast("bigint").alias("n2"),
        _D().alias("metric"),
    )
    urlc = _pipe.t36_url_canonical(spark, sf_dir).select(
        F.lit("urlcanon").alias("part"),
        F.concat(
            F.col("curl"), F.lit(":"),
            F.col("n_raw_variants").cast("string"),
        ).alias("key"),
        F.col("n_occurrences").alias("n1"),
        F.col("n_docs").alias("n2"),
        _D().alias("metric"),
    )
    hostrank = _pipe.t37_host_rank(spark, sf_dir).select(
        F.lit("hostrank").alias("part"),
        F.col("node").alias("key"),
        F.col("rank_e12").alias("n1"),
        _L().alias("n2"),
        _D().alias("metric"),
    )
    # r12: HITS hubs & authorities (t39, NEW) — the complementary
    # link-analysis axis over the same planted source→host graph,
    # exact e6 fixed-point with integer L∞ normalization per round
    hits = _pipe.t39_hits(spark, sf_dir).select(
        F.lit("hits").alias("part"),
        F.col("node").alias("key"),
        F.col("hub_e6").alias("n1"),
        F.col("auth_e6").alias("n2"),
        _D().alias("metric"),
    )
    entropy = _pipe.t38_char_entropy(spark, sf_dir).select(
        F.lit("entropy").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_chars").alias("n1"),
        F.col("n_distinct").alias("n2"),
        F.col("entropy").alias("metric"),
    )
    # r11 driver rotation (r10 verdict #2): BPE TRAINING joins the union —
    # the iterative corpus-wide merge learner (t20: symbol-array fold per
    # round, planted-oracle checked), closing the BPE loop the driver
    # window already certifies downstream of (t26 fertility uses the
    # learned merges; t5 counts with them).
    bpe = _pipe.t20_bpe_train(spark, sf_dir).select(
        F.lit("bpe_train").alias("part"),
        F.concat(F.col("pair"), F.lit(">"), F.col("merged")).alias("key"),
        F.col("merge_rank").alias("n1"),
        F.col("pair_count").alias("n2"),
        _D().alias("metric"),
    )
    return (
        dec.unionByName(pack)
        .unionByName(samp)
        .unionByName(logp)
        .unionByName(para)
        .unionByName(mix)
        .unionByName(funnel)
        .unionByName(dkl)
        .unionByName(qgate)
        .unionByName(drift)
        .unionByName(calib)
        .unionByName(fert)
        .unionByName(novelty)
        .unionByName(c4)
        .unionByName(script)
        .unionByName(urlc)
        .unionByName(hostrank)
        .unionByName(hits)
        .unionByName(entropy)
        .unionByName(bpe)
    )


@query("n10_rrf_hybrid", oracle=_N10_ORACLE, extended=True)
def n10_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (operators/textsearch.rrf_fuse):
    reciprocal-rank fusion of the BM25 (n5) and TF-IDF (n8) top-10 lists
    for the shared benchmark queries — the calibration-free sparse+dense
    merge step every two-tower retrieval pipeline needs.  The fusion
    itself only ever sees |queries|·k rows; both input rankers keep their
    own audited corpus-scale plans.  Driver-certified since r10 as the
    ``rrf`` branch of the n2 matrix (same oracle string, ``_N10_ORACLE``)."""
    from ago_sisdb_spark.operators import textsearch

    return textsearch.rrf_fuse(_fused_builders(spark, sf_dir))


@query("n12_blend_hybrid", oracle=_N12_ORACLE, extended=True)
def n12_blend_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex score-interpolation hybrid (operators/textsearch.
    blend_fuse): per-query min-max normalized BM25 and TF-IDF scores
    blended at alpha=0.5 — the calibrated fusion beside n10's
    rank-only RRF.  Fusion sees only the query-bounded top-k lists;
    normalization windows partition by query.  Driver-certified since
    r10 as the ``blend`` branch of the n2 matrix (``_N12_ORACLE``)."""
    from ago_sisdb_spark.operators import textsearch

    return textsearch.blend_fuse(_fused_builders(spark, sf_dir), alpha=0.5)

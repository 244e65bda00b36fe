"""§2.11 — LLM-data-pipeline queries: dedup, similarity search, text
analysis over the `documents` / `embeddings` tables.

Oracle notes: MinHash, SimHash and duplicated spans hash with the md5
``dedup.portable_hash60``, so their banded pair logic is hash-checked by
DuckDB twins (the exact n-gram Jaccard is the ground-truth twin beside
them).  Cosine/text queries are fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ago_sisdb_spark.inventory import _t, query
from ago_sisdb_spark.operators import dedup, similarity, text


@query(
    "d1_dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content digest — the shuffle carries
    (digest, id), never document bodies."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


@query(
    "d2_ngram_jaccard",
    oracle=r"""
    WITH sh AS (
        SELECT DISTINCT doc_id AS doc, unnest(list_distinct(
            list_transform(range(1, greatest(len(string_split_regex(text, '\s+')) - 1, 1) + 1),
                i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1]))) AS shingle
        FROM documents WHERE doc_id < 60),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (
        SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc)
    SELECT id_a, id_b,
           round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = id_a
    JOIN sizes sb ON sb.doc = id_b
    WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.08
    """,
)
def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-gram Jaccard near-dup pairs (ground truth for MinHash) on a
    doc_id<60 slice (threshold 0.08); the shingle equi-join avoids any O(n²) crossjoin."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.08)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "d3_minhash_lsh",
    oracle=dedup.minhash_lsh_oracle_sql(
        "documents", "doc_id", "text", shingle_k=3, num_hashes=32, bands=8
    ),
)
def d3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (32 hashes × 8 bands, 3-word
    shingles) on the engine-portable 60-bit md5 hash — the FULL banded pair
    logic (shingle→min→band→bucket-join→cap) is reproduced by the DuckDB
    oracle (r2 verdict #2).  Docs need >= 3 words on both sides (the SQL twin's range() expansion has no short-doc rule);
    the exclusion rides the shingle pass's own split (``min_words``) —
    a caller-side where(size(split)) paid a second corpus-wide split."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=32, bands=8,
        min_words=3,
    )


@query("d4_simhash", oracle=None, extended=True)
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document + four 15-bit band keys for
    Hamming-neighbor blocking; rows-only check."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.simhash64(docs, "doc_id", "text").withColumnRenamed("doc", "doc_id")
    return out.select(
        "doc_id",
        "simhash",
        *[
            F.shiftright("simhash", b * 15).bitwiseAND(F.lit(0x7FFF)).alias(f"band{b}")
            for b in range(4)
        ],
    )


@query(
    "d5_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.40
    """,
)
def d5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (threshold 0.40) — ground truth
    twin of d6's LSH variant; codegen'd zip_with/aggregate cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.40)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


_D6_BITS, _D6_TABLES, _D6_DIM = 6, 8, 64


def _d6_planes() -> list[list[float]]:
    """Seeded integer-valued hyperplanes for the d6 oracle twin (r3 verdict
    #6): bucketing uses only sign(v·plane), which is invariant under
    scaling, so gauss·10⁴ rounded to int carries the same buckets while
    being restatable as exact literals in DuckDB SQL."""
    import random

    rnd = random.Random(29)
    return [
        [float(round(rnd.gauss(0, 1) * 10_000)) for _ in range(_D6_DIM)]
        for _ in range(_D6_BITS * _D6_TABLES)
    ]


def _d6_oracle() -> str:
    planes = _d6_planes()
    per_table = []
    for t in range(_D6_TABLES):
        bexpr = " + ".join(
            "(CASE WHEN list_dot_product(v, {lits}) > 0 THEN {w} ELSE 0 END)".format(
                lits="[" + ", ".join(str(int(x)) for x in planes[t * _D6_BITS + i]) + "]",
                w=1 << i,
            )
            for i in range(_D6_BITS)
        )
        per_table.append(f"SELECT id, {t} AS tbl, {bexpr} AS bucket FROM base")
    buckets = "\n      UNION ALL ".join(per_table)
    return f"""
    WITH base AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bk AS ({buckets}),
    capped AS (
      SELECT * FROM bk
      QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= 1000
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM capped a JOIN capped b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(x.v, y.v), 6) AS cosine
    FROM cand c
    JOIN base x ON c.id_a = x.id
    JOIN base y ON c.id_b = y.id
    WHERE list_cosine_similarity(x.v, y.v) >= 0.40
    """


@query("d6_embedding_neardup_lsh", oracle=_d6_oracle())
def d6_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via multi-table hyperplane LSH + exact re-check —
    the 100 TB path (candidates via bucket equi-join, precision 1.0 by
    construction; recall vs d5 asserted in tests).

    Oracle-checked since r4: seeded integer hyperplanes (``_d6_planes``)
    make every bucket, the fan-out cap, the candidate equi-join, and the
    exact re-check reproducible in DuckDB — the full banded logic is
    hash-checked, not just row counts."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_neardup_lsh(
        emb, "vec_id", "embedding", threshold=0.40,
        dim=_D6_DIM, bits=_D6_BITS, tables=_D6_TABLES, planes=_d6_planes(),
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(
    "d9_semdedup",
    oracle="""
    WITH base AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    cents AS (SELECT id AS cid, v AS cv FROM base ORDER BY id LIMIT 16),
    asn AS (
      SELECT b.id, c.cid AS list_id
      FROM base b CROSS JOIN cents c
      QUALIFY row_number() OVER (
          PARTITION BY b.id
          ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid) = 1),
    capped AS (
      SELECT * FROM asn
      QUALIFY count(*) OVER (PARTITION BY list_id) <= 1000),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.list_id
      FROM capped a JOIN capped b
        ON a.list_id = b.list_id AND a.id < b.id)
    SELECT c.id_a, c.id_b, c.list_id,
           round(list_cosine_similarity(x.v, y.v), 6) AS cosine
    FROM cand c JOIN base x ON c.id_a = x.id JOIN base y ON c.id_b = y.id
    WHERE list_cosine_similarity(x.v, y.v) >= 0.40
    """,
    extended=True,
)
def d9_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): cluster-then-dedup —
    embedding pairs at cosine ≥ 0.40 compared only within their assigned
    cluster, dropping the O(n²) cross join for Σ O(m_c²) bounded by the
    cluster cap.  The gate entry uses the deterministic 16 lowest-id seed
    centroids so assignment, cap, candidate join, and exact re-check are
    all restated by the DuckDB twin; production swaps in the materialized
    Lloyd index (`build_ivf_index`), pinned by tests.  Recall vs the d5
    exact all-pairs twin is measured in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("__cent"),
        )
    )
    out = similarity.semantic_dedup_pairs(
        emb, "vec_id", "embedding", cents, threshold=0.40
    )
    return out.select(
        "id_a", "id_b", "list_id", F.round("cosine", 6).alias("cosine")
    )


@query(
    "d10_dup_spans",
    oracle=dedup.duplicated_spans_oracle_sql(
        "documents", "doc_id", "text", span_tokens=16, stride=8, min_docs=2
    ),
    extended=True,
)
def d10_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (approximate substring
    dedup, Lee et al. 2021): 16-token rolling windows at stride 8; a span
    hash in ≥2 distinct docs flags every occurrence — the boilerplate/
    quotation-reuse catcher document-level MinHash misses.  The md5 span
    hash is fully restated by the DuckDB twin."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_spans(
        docs, "doc_id", "text", span_tokens=16, stride=8, min_docs=2
    )


@query(
    "n1_knn_bruteforce",
    oracle="""
    WITH probe AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id AS neighbor_id,
           round(list_cosine_similarity(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(p.pvec, x -> CAST(x AS DOUBLE))), 6) AS score
    FROM embeddings e, probe p
    WHERE e.vec_id != 0
    ORDER BY score DESC, neighbor_id LIMIT 5
    """,
)
def n1_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for probe vec_id=0: broadcast probe × corpus scan,
    codegen'd zip_with/aggregate dot product."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5
    )
    return out.select("neighbor_id", F.round("score", 6).alias("score"))


# n2 ANN-LSH production config, tuned r5 at a fixed candidate budget:
# (8 bits × 6 tables, Hamming-radius-2 multi-probe) measures recall@5
# 0.92 / 0.96 / 1.00 at sf0.001/0.01/0.1 with a ~0.6 candidate fraction —
# vs 0.56-0.72 at ~0.32 for the old (6, 3, radius-1).  The candidate
# fraction is set by (bits, tables, radius) alone — tables·(1+b+C(b,2))/2^b
# of the corpus — so at real scale `bits` grows with the corpus (16-20 at
# 10⁹ vectors) while tables/radius stay the recall levers.
_N2_BITS, _N2_TABLES, _N2_RADIUS, _N2_DIM = 8, 6, 2, 64


def _n2_planes() -> list[list[float]]:
    """Seeded integer-valued hyperplanes for the n2 oracle twin — the d6
    trick (r4 verdict #1): sign(v·plane) is scale-invariant, so gauss·10⁴
    rounded to int buckets identically while being restatable as exact
    literals in DuckDB SQL."""
    import random

    rnd = random.Random(41)
    return [
        [float(round(rnd.gauss(0, 1) * 10_000)) for _ in range(_N2_DIM)]
        for _ in range(_N2_BITS * _N2_TABLES)
    ]


def _n2_oracle() -> str:
    """DuckDB twin of the WHOLE n2 ANN matrix — the d6 planted-planes trick
    ported to top-k search (r4 verdict #1): seeded integer hyperplanes make
    every bucket, the radius-2 multi-probe expansion, the candidate
    equi-join, and the exact cosine re-rank SQL-restatable; the IVF branch
    uses the deterministic seed centroids (16 lowest-id vectors), so list
    assignment, nprobe selection, and the final top-5 are plain window SQL.
    (Lives here beside the plane/constant definitions since r6 so the n6
    recall twin can compose it without a circular import.)
    """
    planes = _n2_planes()
    bits, tables = _N2_BITS, _N2_TABLES

    def bucket_expr(t: int) -> str:
        return " + ".join(
            "(CASE WHEN list_dot_product(v, {lits}) > 0 THEN {w} ELSE 0 END)".format(
                lits="["
                + ", ".join(str(int(x)) for x in planes[t * bits + i])
                + "]",
                w=1 << i,
            )
            for i in range(bits)
        )

    cb_union = "\n      UNION ALL ".join(
        f"SELECT id, {t} AS tbl, {bucket_expr(t)} AS bucket FROM base"
        for t in range(tables)
    )
    pb_union = "\n      UNION ALL ".join(
        f"SELECT id, {t} AS tbl, {bucket_expr(t)} AS bucket FROM prb"
        for t in range(tables)
    )
    masks = [0] + [1 << i for i in range(bits)] + [
        (1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)
    ]
    mask_values = ", ".join(f"({m})" for m in masks)
    return f"""
    WITH base AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    prb AS (SELECT id, v FROM base WHERE id IN (0, 1, 2, 3, 4)),
    cb AS ({cb_union}),
    pb0 AS ({pb_union}),
    pb AS (
      SELECT id, tbl, xor(bucket, m.mask) AS bucket
      FROM pb0 CROSS JOIN (VALUES {mask_values}) m(mask)),
    cand AS (
      SELECT DISTINCT p.id AS pid, c.id AS nid
      FROM pb p JOIN cb c ON p.tbl = c.tbl AND p.bucket = c.bucket
                         AND c.id != p.id),
    lsh AS (
      SELECT cn.pid AS probe_id, cn.nid AS neighbor_id,
             list_cosine_similarity(y.v, x.v) AS s
      FROM cand cn JOIN prb x ON cn.pid = x.id JOIN base y ON cn.nid = y.id
      QUALIFY row_number() OVER (
          PARTITION BY cn.pid
          ORDER BY list_cosine_similarity(y.v, x.v) DESC, cn.nid) <= 5),
    cents AS (SELECT id AS cid, v AS cv FROM base ORDER BY id LIMIT 16),
    asn AS (
      SELECT b.id AS nid, c.cid AS list_id, b.v AS nv
      FROM base b CROSS JOIN cents c
      QUALIFY row_number() OVER (
          PARTITION BY b.id
          ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid) = 1),
    pl AS (
      SELECT p.id AS pid, p.v AS pv, c.cid AS list_id
      FROM prb p CROSS JOIN cents c
      QUALIFY row_number() OVER (
          PARTITION BY p.id
          ORDER BY list_cosine_similarity(p.v, c.cv) DESC, c.cid) <= 4),
    ivf AS (
      SELECT pl.pid AS probe_id, a.nid AS neighbor_id,
             list_cosine_similarity(a.nv, pl.pv) AS s
      FROM pl JOIN asn a ON a.list_id = pl.list_id AND a.nid != pl.pid
      QUALIFY row_number() OVER (
          PARTITION BY pl.pid
          ORDER BY list_cosine_similarity(a.nv, pl.pv) DESC, a.nid) <= 5)
    SELECT 'lsh' AS method, probe_id, neighbor_id, round(s, 6) AS score
    FROM lsh
    UNION ALL
    SELECT 'ivf' AS method, probe_id, neighbor_id, round(s, 6) AS score
    FROM ivf
    """


@query("n2_knn_lsh", oracle=None, extended=True)
def n2_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets (8 bits × 6
    tables, radius-2 multi-probe — tuned r5) + exact re-rank inside
    buckets — the 100 TB path with production gaussian planes; rows-only
    check (recall ≥ 0.8 vs n1 asserted in tests; the planted-planes twin
    in the n2_knn_ann umbrella is the hash-checked variant)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    return similarity.lsh_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5, dim=_N2_DIM,
        bits=_N2_BITS, tables=_N2_TABLES, multi_probe=_N2_RADIUS,
    )


@query(
    "n7_knn_pq",
    oracle="""
    WITH ids AS (SELECT vec_id AS id, vec_id % 64 AS g FROM embeddings),
    probes AS (SELECT id, g FROM ids WHERE id IN (0, 1, 2, 3, 4)),
    same AS (
        SELECT p.id AS probe_id, n.id AS neighbor_id
        FROM probes p JOIN ids n ON n.g = p.g AND n.id != p.id)
    SELECT probe_id, neighbor_id, CAST(1.0 AS DOUBLE) AS score
    FROM same
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY neighbor_id) <= 7
    """,
    extended=True,
)
def n7_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN top-k (operators/pq): per-subspace k-means
    codebooks (m=8, k*=64), ADC shortlist over the code table only, exact
    cosine re-rank of the 8·k shortlist — the memory-bound scale path
    beside n2's LSH and n4's IVF, with the same train/serve split
    (``build_pq_index`` persists the codebook parquet; the query reads it
    back, encodes, and scans codes).

    Hash-checked since r6 via planted one-hots (r5 verdict #3): vector =
    e_{vec_id mod 64}, so the REAL pipeline is provably closed-form —
    normalization is exact (unit vectors), subspace seeds for ids 0..63
    give each within-slice one-hot a unique centroid and every zero slice
    collapses to the lowest zero cid (np.argmin's first-index tie-break),
    Lloyd is immediately stationary, ADC distance is exactly 0 to
    same-group codes and exactly 2 otherwise, the deterministic
    (adc_dist, neighbor_id) shortlist keeps every same-group member, and
    the exact re-rank scores 1.0/0.0 — the oracle states the resulting
    integer closed form (k=7 so at sf0.001's 8-member groups EVERY
    same-group neighbor must survive: one dropped row breaks the hash).
    Gaussian-data recall + determinism stay pinned in tests/test_pq.py."""
    from ago_sisdb_spark.operators import pq

    g = (F.col("vec_id") % 64).cast("int")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(i == g, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    planted = _t(spark, sf_dir, "embeddings").select(
        "vec_id", vec.alias("embedding")
    )
    probes = planted.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # scheme-versioned path: planted data is deterministic, so the index
    # is built once and reused (the serve path is the measured query)
    idx = pq.pq_index_path(warehouse, sf_dir) + "_planted_oh64"
    books = pq.load_pq_codebooks(spark, idx, m=8, k=64)
    if books is None:
        pq.build_pq_index(
            planted, "vec_id", "embedding", idx, dim=64, m=8, k=64, iters=2
        )
        books = pq.load_pq_codebooks(spark, idx, m=8, k=64)
    codes = pq.encode_pq(planted, "vec_id", "embedding", books, 64)
    out = pq.pq_topk(
        planted, codes, probes, "vec_id", "embedding", "vec_id", books, 64, 7,
        rerank_factor=8,
    )
    return out.select(
        "probe_id", "neighbor_id", F.round("score", 6).alias("score")
    )


@query(
    "n4_knn_ivf",
    oracle="""
    WITH ids AS (SELECT vec_id AS id, vec_id % 4 AS c FROM embeddings),
    probes AS (SELECT id, c FROM ids WHERE id IN (0, 1, 2, 3, 4)),
    lists AS (
        SELECT p.id AS probe_id, p.c AS pc, l.c AS list_id,
               CASE WHEN l.c = p.c THEN 1.0 ELSE 0.0 END AS cscore
        FROM probes p CROSS JOIN (SELECT DISTINCT c FROM ids) l
        QUALIFY row_number() OVER (PARTITION BY p.id
                                   ORDER BY cscore DESC, l.c) <= 2),
    cand AS (
        SELECT li.probe_id, li.pc, n.id AS neighbor_id, n.c AS nc
        FROM lists li JOIN ids n ON n.c = li.list_id AND n.id != li.probe_id)
    SELECT probe_id, neighbor_id,
           round(CAST(CASE WHEN nc = pc THEN 1.0 ELSE 0.0 END AS DOUBLE), 6)
               AS score
    FROM cand
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY score DESC, neighbor_id) <= 5
    """,
    extended=True,
)
def n4_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 through the MATERIALIZED Lloyd-trained centroid index
    — the full production train/serve split (r2 verdict #4), hash-checked
    since r6 via the planted-orthogonal trick (r5 verdict #3): vectors are
    scaled one-hots, vec_id % 4 picking the axis and (vec_id % 7 + 2) the
    scale, so the REAL pipeline (``build_ivf_index`` Lloyd rounds →
    persisted parquet → ``load_ivf_centroids`` → ``ivf_topk`` serve) is
    provably closed-form: seeds are the 4 lowest ids (one per axis),
    cosine is exactly 1 within a cluster and exactly 0 across, so Lloyd
    assignment is invariant, the trained centroid keeps its axis, nprobe=2
    selects the own list plus the lowest other list_id, and every final
    score rounds to 1.0/0.0 — the oracle states that integer closed form
    directly; any training/assignment/ranking bug breaks the hash.
    Gaussian-data recall floors stay pinned in tests/test_similarity.py."""
    dim = 8
    c = (F.col("vec_id") % 4).cast("int")
    s = (F.col("vec_id") % 7 + 2).cast("double")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(i == c, s).otherwise(F.lit(0.0)),
    )
    planted = _t(spark, sf_dir, "embeddings").select(
        "vec_id", vec.alias("embedding")
    )
    probes = planted.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # scheme-versioned path: planted data is deterministic, so the index
    # is built once and reused (the serve path is the measured query)
    idx_path = similarity.ivf_index_path(warehouse, sf_dir) + "_planted_ax4"
    cent = similarity.load_ivf_centroids(spark, idx_path)
    if cent is None:
        similarity.build_ivf_index(
            planted, "vec_id", "embedding", idx_path, n_centroids=4, iters=2
        )
        cent = similarity.load_ivf_centroids(spark, idx_path)
    out = similarity.ivf_topk(
        planted, probes, "vec_id", "embedding", "vec_id", k=5,
        n_centroids=4, nprobe=2, centroids=cent,
    )
    return out.select(
        "probe_id", "neighbor_id", F.round("score", 6).alias("score")
    )


@query(
    "m1_multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           'unknown' AS magic
    FROM documents
    """,
)
def m1_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass over a binary content column (documents'
    bytes standing in for media blobs — this container has no media libs).
    Exercises the real plumbing: BinaryType column, length + magic-number
    sniff as pure expressions (SURVEY §2.11)."""
    from ago_sisdb_spark.sources.multimodal import attach_binary_meta

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )
    return attach_binary_meta(docs).select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"), "magic"
    )


# The stub decoder samples 8 byte positions (step = max(len//8, 1),
# pos_i = min(i*step, len-1)) and scales by 255 into float32 — fully
# deterministic, so the oracle reproduces it: documents.text is pure ASCII
# at every SF (checked), hence byte i of encode(text) == ascii(char i+1),
# and CAST AS REAL mirrors the array<float> quantization before the
# double-precision norm (same pattern as d5's embedding casts).
_M2_FEAT = [
    f"CAST(CAST(ascii(substring(text, least({i} * step, n - 1) + 1, 1))"
    " / 255.0 AS REAL) AS DOUBLE)"
    for i in range(8)
]


@query(
    "m2_multimodal_features",
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS media_id, text, length(text) AS n,
               greatest(length(text) // 8, 1) AS step
        FROM documents)
    SELECT media_id, 'text' AS modality,
           CAST(n AS BIGINT) AS n_bytes,
           lower(hex(substring(text, 1, 2))) AS magic,
           CAST(8 AS BIGINT) AS n_dims,
           round(sqrt({' + '.join(f'({t} * {t})' for t in _M2_FEAT)}), 6)
               AS feat_norm,
           round({_M2_FEAT[0]}, 6) AS feat_first,
           round({_M2_FEAT[7]}, 6) AS feat_last,
           CAST(NULL AS VARCHAR) AS error
    FROM base
    """,
)
def m2_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary media
    content (decode kernel stubbed — deterministic fake; the batch shape,
    schema, and partitioning are the real 100 TB plumbing).

    Driver-checked output is scalar-only (no array columns — the r1 driver
    hasher crashed on ``array<float>``): the 8-dim feature vector is
    projected to dimension count, L2 norm, and first/last elements; the full
    vector contents are pinned by tests/test_multimodal.py.  The stub is
    deterministic byte sampling, so since r3 the WHOLE row — metadata AND
    projected feature scalars — is oracle-checked (r2 verdict #3)."""
    from ago_sisdb_spark.operators.similarity import norm
    from ago_sisdb_spark.sources.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
    )
    feats = extract_features(docs)
    return feats.select(
        "media_id",
        "modality",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "magic",
        F.size("feature").cast("bigint").alias("n_dims"),
        F.round(norm(F.col("feature")), 6).alias("feat_norm"),
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("feat_first"),
        F.round(F.element_at("feature", 8).cast("double"), 6).alias("feat_last"),
        "error",
    )


@query(
    "n3_norms",
    oracle="""
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * x)))), 4) AS avg_norm
    FROM embeddings GROUP BY label
    """,
    extended=True,
)
def n3_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregation: mean L2 norm per label.  Fine-grained
    twin of the ``n3_embedding_stats`` umbrella's 'norms' branch (demoted
    to extended in the r10 driver rotation)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(similarity.norm(F.col("embedding"))), 4).alias("avg_norm"),
        )
    )


@query(
    "t1_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           length(text) AS n_chars_actual,
           n_chars
    FROM documents
    """,
    extended=True,
)
def t1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace) + char counts vs the recorded n_chars."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        "n_chars",
    )


@query(
    "t2_quality_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             list_transform(string_split_regex(trim(text), '\s+'), w -> length(w)) AS wlens,
             length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS n_punct,
             length(text) AS n_chars2
      FROM documents)
    SELECT doc_id,
           round(list_sum(wlens) / nullif(len(wlens), 0), 6) AS mean_word_len,
           round(n_punct / nullif(n_chars2, 0), 6) AS punct_ratio,
           CAST(n_chars2 >= 50 AS INTEGER) AS len_ok
    FROM t
    """,
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: mean word length, punctuation ratio, length gate."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(text.mean_word_len(F.col("text")), 6).alias("mean_word_len"),
        F.round(text.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        (F.length("text") >= 50).cast("int").alias("len_ok"),
    )


@query(
    "t3_lang_id",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')),
                 {str(text._STOP_LIST)})) AS sw_hits,
             len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS n_distinct
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN sw_hits / nullif(n_distinct, 0) >= 0.10
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM t
    """,
    extended=True,
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID via stopword hit ratio, with the stored lang
    column for accuracy eval."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        text.lang_id_en(F.col("text"), 0.10).alias("pred_lang"),
    )


@query(
    "t4_fingerprint",
    oracle=r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(trim(text), '\s+'),
                 w -> CAST(length(w) * 131 + ascii(substring(w, 1, 1)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
    FROM documents
    """,
    extended=True,
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling-hash document fingerprint (portable arithmetic,
    hash-checked against the DuckDB oracle)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "pipe1_training_data_filter",
    oracle=r"""
    WITH kept AS (
        SELECT doc_id, text, lang,
               min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM documents
        WHERE length(text) >= 50
          AND length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))
              / nullif(length(text), 0) < 0.10
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
           round(avg(length(text)), 4) AS avg_chars
    FROM kept WHERE doc_id = keep_id
    GROUP BY lang
    """,
)
def pipe1_training_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline — the 100 TB hot path as ONE plan:
    quality gate (length + punctuation ratio) → exact dedup (keep lowest id
    per digest, window over digest = one shuffle) → per-language corpus
    stats.  Catalyst fuses the filter into the scan; the digest window and
    the final groupBy are the only two shuffles."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    gated = docs.where(
        (F.length("text") >= 50)
        & (text.punct_ratio(F.col("text")) < 0.10)
    )
    keep = gated.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).where(F.col("doc_id") == F.col("keep_id"))
    return keep.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


@query(
    "t5_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS n_bpe_tokens,
           len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens
    FROM documents
    """,
    extended=True,
)
def t5_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letter runs / digit runs / punctuation
    marks) beside the whitespace count — both pure JVM regexp expressions."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.regex_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        text.token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
    )


@query(
    "t6_repetition_ratio",
    oracle=r"""
    WITH g AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 0) + 1),
                   i -> string_split_regex(text, '\s+')[i] || ' ' ||
                        string_split_regex(text, '\s+')[i+1] || ' ' ||
                        string_split_regex(text, '\s+')[i+2]) AS grams
        FROM documents)
    SELECT doc_id,
           len(grams) AS n_grams,
           CASE WHEN len(grams) = 0 THEN 0.0
                ELSE round(1.0 - len(list_distinct(grams)) / len(grams), 6)
           END AS rep_ratio
    FROM g
    """,
    extended=True,
)
def t6_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality signal: fraction of duplicated 3-grams within a
    document (high → boilerplate/spam).  Pure array expressions — the
    shingle list never leaves the row."""
    docs = _t(spark, sf_dir, "documents")
    # split materialized as a column BEFORE the higher-order function: a
    # lambda over the raw split() expression re-evaluates the split per
    # element under the interpreted HOF path (t12 lesson, ~16× slower)
    wdf = docs.select("doc_id", F.split(F.col("text"), r"\s+").alias("__w"))
    w, n = F.col("__w"), F.size("__w")
    ln = F.greatest(n - 2, F.lit(0))
    g12 = F.zip_with(
        F.slice(w, 1, ln), F.slice(w, 2, ln), lambda a, b: F.concat_ws(" ", a, b)
    )
    grams = F.when(
        n >= 3,
        F.zip_with(g12, F.slice(w, 3, ln), lambda ab, c: F.concat_ws(" ", ab, c)),
    ).otherwise(F.array())
    g = wdf.select("doc_id", grams.alias("grams"))
    return g.select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.when(F.size("grams") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("grams")) / F.size("grams"), 6
            )
        )
        .alias("rep_ratio"),
    )


@query(
    "s1_strata",
    oracle="""
    SELECT lang,
           CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    extended=True,
)
def s1_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by id modulo — portable,
    reproducible, no RNG state) with per-language stratum counts; the split
    expression stays in the scan projection, no shuffle beyond the count.
    Fine-grained twin of the ``s1_stratified_split`` umbrella's 'strata'
    branch (demoted to extended in the r10 driver rotation)."""
    docs = _t(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "val")
        .otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# shared by pipe2 and d16: 2-gram Jaccard pairs (threshold 0.08, doc_id<60
# slice) -> recursive-CTE transitive closure -> (id, component)
_PIPE2_ORACLE = r"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id AS doc, unnest(list_distinct(
            list_transform(range(1, greatest(len(string_split_regex(text, '\s+')) - 1, 1) + 1),
                i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1]))) AS shingle
        FROM documents WHERE doc_id < 60),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (
        SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc = id_a
        JOIN sizes sb ON sb.doc = id_b
        WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.08),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT n.id, least(n.id, coalesce(min(r.dst), n.id)) AS component
    FROM (SELECT DISTINCT src AS id FROM edges) n
    LEFT JOIN reach r ON r.src = n.id
    GROUP BY n.id
"""


@query("pipe2_components", oracle=_PIPE2_ORACLE, extended=True)
def pipe2_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained (id, component) twin of the ``pipe2_neardup_groups``
    umbrella's 'component' branch, kept extended for localization (the
    combined-umbrella convention)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.08)
    comp = dedup.connected_components(pairs)
    return comp.select("id", "component")


@query(
    "d7_simhash_pairs",
    oracle=dedup.simhash_pairs_oracle_sql(
        "documents", "doc_id", "text", max_hamming=6, bands=4
    ),
    extended=True,
)
def d7_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 6 over 60-bit fingerprints, 4-band
    pigeonhole blocking — 100% recall for d ≤ 3 guaranteed, re-check via
    bit_count(xor)); the whole chain is restated by the DuckDB twin."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=6)


def _d8_oracle() -> str:
    from ago_sisdb_spark.operators.incremental import bloom_screen_oracle_sql

    return (
        "SELECT id AS doc_id, status, is_dup FROM ("
        + bloom_screen_oracle_sql(
            hist_sql="SELECT * FROM documents WHERE doc_id % 3 != 0",
            batch_sql="SELECT * FROM documents",
            id_col="doc_id",
            text_col="text",
        )
        + ")"
    )


@query("d8_bloom_incremental", oracle=_d8_oracle(), extended=True)
def d8_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup (operators/incremental): Bloom
    bitmap over 2/3 of the corpus as 'history', the whole corpus screened
    as the 'new batch' — history members must come back possible_dup +
    verified is_dup, held-out docs definitely_new unless their text
    collides or a Bloom false positive fires (both verdicts deterministic
    and reproduced bit-for-bit by the DuckDB oracle twin)."""
    from ago_sisdb_spark.operators import incremental

    docs = _t(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 3 != 0)
    bloom = incremental.build_bloom(hist, "text")
    out = incremental.screen_batch(
        docs, bloom, "doc_id", "text", history=hist
    )
    return out.select(F.col("id").alias("doc_id"), "status", "is_dup")


_SH3 = r"""list_transform(range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 0) + 1),
            i -> string_split_regex(text, '\s+')[i] || ' ' || string_split_regex(text, '\s+')[i+1]
                 || ' ' || string_split_regex(text, '\s+')[i+2])"""


@query(
    "pipe3_decontam",
    oracle=rf"""
    WITH tr0 AS (
        SELECT DISTINCT doc_id AS doc, unnest(list_distinct({_SH3})) AS shingle
        FROM documents
        WHERE doc_id % 97 != 0 AND len(string_split_regex(trim(text), '\s+')) >= 3),
    keep AS (
        SELECT shingle FROM tr0 GROUP BY shingle HAVING count(*) <= 50),
    tr AS (SELECT tr0.* FROM tr0 JOIN keep USING (shingle)),
    ev AS (
        SELECT DISTINCT unnest(list_distinct({_SH3})) AS shingle
        FROM documents
        WHERE doc_id % 97 = 0 AND len(string_split_regex(trim(text), '\s+')) >= 3)
    SELECT tr.doc AS train_id, count(DISTINCT tr.shingle) AS n_shared_shingles
    FROM tr JOIN ev ON tr.shingle = ev.shingle
    GROUP BY tr.doc
    """,
    extended=True,
)
def pipe3_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing any word 3-gram with
    the held-out eval slice (doc_id % 97).  Shingle equi-join — shuffle
    keys are shingles, never |train|x|eval| — with the stop-shingle cap
    (train-side doc-freq <= 50) bounding boilerplate fan-out at corpus
    scale (operators/prep.decontaminate)."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents").where(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 3
    )
    train = docs.where(F.col("doc_id") % 97 != 0)
    eval_df = docs.where(F.col("doc_id") % 97 == 0)
    return prep.decontaminate(
        train, eval_df, "doc_id", "text", ngram=3, max_doc_freq=50
    )


@query(
    "pipe4_packing",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS tokens,
               doc_id % 8 AS shard
        FROM documents),
    c AS (
        SELECT shard, doc_id, tokens,
               coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM t)
    SELECT shard, CAST(floor(cum / 512) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
    """,
    extended=True,
)
def pipe4_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing: contiguous 512-token bins per shard
    (operators/prep.pack_sequences — running-sum window partitioned by
    shard, no global sort).  Reports per-(shard, bin) fill."""
    from ago_sisdb_spark.operators import prep, text

    docs = _t(spark, sf_dir, "documents")
    packed = prep.pack_sequences(
        docs.select("doc_id", text.token_count(F.col("text")).alias("tokens")),
        "doc_id", "tokens", window_tokens=512, n_shards=8,
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tokens").alias("total_tokens")
    )


@query(
    "pipe5_sampling",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               CASE WHEN n_chars >= 400 THEN 'high'
                    WHEN n_chars >= 200 THEN 'mid' ELSE 'low' END AS bucket
        FROM documents),
    gated AS (
        SELECT bucket,
               CAST(((doc_id % 1000003) * 2654435761) % 1000003 <
                    CASE bucket WHEN 'high' THEN 1.0
                                WHEN 'mid' THEN 0.5 ELSE 0.1 END * 1000003
                    AS INTEGER) AS kept
        FROM b)
    SELECT bucket, CAST(sum(kept) AS BIGINT) AS n_kept, count(*) AS n_total
    FROM gated GROUP BY bucket
    """,
    extended=True,
)
def pipe5_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-temperature sampling: per-bucket keep rates (high 100% /
    mid 50% / low 10%) through the deterministic hash gate
    (operators/prep.quality_sample) — reproducible, filter-pushdown."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") >= 400, "high")
        .when(F.col("n_chars") >= 200, "mid")
        .otherwise("low")
    )
    bucketed = docs.select("doc_id", bucket.alias("bucket"))
    kept = prep.quality_sample(
        bucketed, "doc_id", "bucket", {"high": 1.0, "mid": 0.5, "low": 0.1}
    )
    totals = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_total"))
    kept_n = kept.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        totals.join(kept_n, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "n_total",
        )
    )


def _pipe_full_oracle() -> str:
    """Composed DuckDB twin of the end-to-end prep pipeline: each CTE is
    the oracle-proven building block of the corresponding standalone entry
    (d1 digest window, d3 MinHash pairs, pipe3's capped shingle
    join, pipe1's quality gate, pipe4's packing window)."""
    minhash = dedup.minhash_lsh_oracle_sql(
        "documents", "doc_id", "text", shingle_k=3, num_hashes=32, bands=8
    )
    punct_gate = (
        "length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))"
        " / nullif(length(text), 0) < 0.10"
    )
    return rf"""
    WITH nd_pairs AS ({minhash}),
    dedup_keep AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM documents) WHERE doc_id = keep_id),
    nd_drop AS (SELECT DISTINCT id_b AS doc_id FROM nd_pairs),
    pre AS (
        SELECT doc_id, text FROM dedup_keep
        WHERE doc_id % 97 != 0
          AND doc_id NOT IN (SELECT doc_id FROM nd_drop)),
    tr0 AS (
        -- raw non-eval corpus, NOT the dedup survivors: hits for already-
        -- dropped docs are no-ops in the NOT IN below, and the raw source
        -- mirrors the Spark side's single-consumer decontam branch
        SELECT DISTINCT doc_id AS doc, unnest(list_distinct({_SH3})) AS shingle
        FROM documents
        WHERE doc_id % 97 != 0
          AND len(string_split_regex(trim(text), '\s+')) >= 3),
    keepsh AS (
        SELECT shingle FROM tr0 GROUP BY shingle HAVING count(*) <= 50),
    tr AS (SELECT tr0.* FROM tr0 JOIN keepsh USING (shingle)),
    ev AS (
        SELECT DISTINCT unnest(list_distinct({_SH3})) AS shingle
        FROM documents
        WHERE doc_id % 97 = 0 AND len(string_split_regex(trim(text), '\s+')) >= 3),
    contam AS (
        SELECT doc AS doc_id FROM tr JOIN ev USING (shingle)
        GROUP BY doc HAVING count(DISTINCT shingle) >= 3),
    kept AS (
        SELECT doc_id, text FROM pre
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
          AND length(text) >= 50
          AND {punct_gate}),
    toks AS (
        SELECT doc_id, doc_id % 16 AS shard,
               len(string_split_regex(trim(text), '\s+')) AS tokens
        FROM kept),
    binned AS (
        SELECT shard, tokens,
               CAST(floor(coalesce(sum(tokens) OVER (PARTITION BY shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                   1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
        FROM toks)
    SELECT shard, count(*) AS n_docs, count(DISTINCT bin) AS n_bins,
           CAST(sum(tokens) AS BIGINT) AS total_tokens
    FROM binned GROUP BY shard
    """


@query("pipe_full_prep", oracle=_pipe_full_oracle(), extended=True)
def pipe_full_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data prep pipeline as one composite plan (r4
    verdict #7): ingest → exact dedup (digest window, keep lowest id) →
    MinHash-LSH near-dup prune (d3's candidates, drop the higher
    id of each pair) → decontaminate vs the held-out doc_id%97 eval slice
    (3-gram shingle equi-join, stop-shingle cap 50, drop docs sharing ≥3
    shingles) → quality gate (length + punctuation ratio) → pack into
    2048-token context windows across 16 shards.  Output: per-shard doc /
    bin / token totals — one number per stage boundary would hide
    cross-stage regressions; this catches them end-to-end.  Every stage
    reuses the oracle-proven building block of its standalone entry (d1 /
    d3 / pipe3 / pipe1 / pipe4), and the composed DuckDB twin hash-checks
    the full pipeline.  The composition lives at the operator layer
    (operators/prep.full_prep_pipeline) since r6 so the scale probe can
    run it on multiplied inputs and the bench anchors it as a headline."""
    from ago_sisdb_spark.operators import prep

    return prep.full_prep_pipeline(_t(spark, sf_dir, "documents"))


def _pipe8_oracle() -> str:
    """Composed DuckDB twin of the INCREMENTAL prep batch: the d12 screen
    oracle as a CTE + in-batch digest dedup + history-digest anti-join +
    the in-batch near-dup prune (the d3 candidates oracle over the batch
    slice alone) + the pipe1 quality gate + base-offset packing windows."""
    screen = dedup.minhash_screen_oracle_sql(
        hist_where="t.doc_id % 3 != 0",
        batch_where="t.doc_id % 3 = 0",
    )
    inbatch = dedup.minhash_lsh_oracle_sql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0) bsub",
        "doc_id",
        "text",
    )
    punct_gate = (
        "length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))"
        " / nullif(length(text), 0) < 0.10"
    )
    return rf"""
    WITH screen AS ({screen}),
    h8 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
    b8 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
    bkeep0 AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS k
            FROM b8) WHERE doc_id = k),
    hdig AS (SELECT DISTINCT md5(text) AS d FROM h8),
    bkeep AS (
        SELECT * FROM bkeep0 WHERE md5(text) NOT IN (SELECT d FROM hdig)),
    nd AS (
        SELECT DISTINCT batch_id AS doc_id FROM screen
        WHERE n_shared_bands >= 2),
    inb AS (
        SELECT DISTINCT id_b AS doc_id FROM ({inbatch})),
    kept AS (
        SELECT doc_id, text FROM bkeep
        WHERE doc_id NOT IN (SELECT doc_id FROM nd)
          AND doc_id NOT IN (SELECT doc_id FROM inb)
          AND length(text) >= 50 AND {punct_gate}),
    hkeep AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS k
            FROM h8) WHERE doc_id = k
          AND length(text) >= 50 AND {punct_gate}),
    state AS (
        SELECT doc_id % 16 AS shard,
               sum(len(string_split_regex(trim(text), '\s+'))) AS base
        FROM hkeep GROUP BY 1),
    toks AS (
        SELECT doc_id, doc_id % 16 AS shard,
               len(string_split_regex(trim(text), '\s+')) AS tokens
        FROM kept),
    binned AS (
        SELECT t.shard, t.tokens,
               CAST(floor((coalesce(s.base, 0) + coalesce(sum(t.tokens) OVER (
                   PARTITION BY t.shard ORDER BY t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                   / 2048) AS BIGINT) AS bin
        FROM toks t LEFT JOIN state s ON s.shard = t.shard)
    SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
           count(DISTINCT bin) AS n_bins, min(bin) AS first_bin,
           CAST(sum(tokens) AS BIGINT) AS total_tokens
    FROM binned GROUP BY shard
    """


_PIPE8_BROWS: dict[str, DataFrame] = {}


@query("pipe8_incremental_prep", oracle=_pipe8_oracle(), extended=True)
def pipe8_incremental_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL end-to-end prep (operators/prep.incremental_prep_batch)
    — the daily-ingest counterpart of `pipe_full_prep`: the doc_id%3==0
    slice arrives as the new batch and is prepped against PERSISTED
    history state with NO scan of history at batch time: exact screening
    via the parquet digest artifact, near-dup screening via the SAME
    materialized MinHash band index the d12 entry builds (shared
    artifact, no re-shingling), and packing that CONTINUES each shard's
    bins from the persisted per-shard token totals (`pack_state`).  All
    three artifacts are bootstrapped ONCE from the history slice
    (prep.build_prep_state / dedup.build_minhash_index) and thereafter
    advanced per batch (prep.advance_prep_state /
    dedup.append_minhash_index) — the batch plan reads only the batch
    slice and the artifacts (r6 verdict #1).  Output (shard, n_docs,
    n_bins, first_bin, total_tokens) names exactly the bins this batch
    (re)writes — first_bin > 0 proves continuation."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    w3 = F.size(F.split(F.col("text"), r"\s+")) >= 3
    hist = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    idx_path = dedup.minhash_index_path(warehouse, sf_dir) + "_portable"
    index = dedup.load_minhash_index(spark, idx_path)
    if index is None:
        dedup.build_minhash_index(hist.where(w3), "doc_id", "text", idx_path)
        index = dedup.load_minhash_index(spark, idx_path)
    dig_path, st_path = prep.prep_state_paths(warehouse, sf_dir)
    state = prep.load_prep_state(spark, dig_path, st_path)
    if state is None:
        prep.build_prep_state(hist, dig_path, st_path, "doc_id", "text", 16)
        state = prep.load_prep_state(spark, dig_path, st_path)
    digests, pack_state = state
    # hash the batch once: index screen + in-batch prune share this
    # persisted band-row frame (8 longs per doc).  Session-cached per
    # sf_dir — a persist() per invocation would accumulate one stale
    # cached copy every warm-up/bench/gate call (review-caught)
    brows = _PIPE8_BROWS.get(sf_dir)
    if brows is None:
        brows = dedup.minhash_band_rows(
            batch.where(w3), "doc_id", "text", 3, 32, 8
        ).persist()
        _PIPE8_BROWS[sf_dir] = brows
    return prep.incremental_prep_batch(
        batch, digests, index, pack_state, "doc_id", "text",
        min_shared_bands=2, n_shards=16, window_tokens=2048,
        band_rows=brows,
    )


@query(
    "t7_unigram_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
    vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS n FROM toks)
    SELECT t.doc AS doc,
           round(avg(log10(coalesce(v.tf, 1) / total.n)), 6) AS mean_logprob,
           count(*) AS n_toks
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, total
    GROUP BY t.doc
    """,
    extended=True,
)
def t7_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality score: mean log10 unigram frequency per doc
    under the corpus's own distribution (operators/text.unigram_logprob —
    two-pass: explode+groupBy vocabulary, broadcast join scoring)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.unigram_logprob(docs, "doc_id", "text")
    return out.select(
        "doc", F.round("mean_logprob", 6).alias("mean_logprob"), "n_toks"
    )


@query(
    "t8_pii_redact",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text,
               '\+?[0-9][0-9 ()-]{7,}[0-9]')) AS n_phone,
           len(regexp_extract_all(text,
               '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ipv4,
           length(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
               '\+?[0-9][0-9 ()-]{7,}[0-9]', '<phone>', 'g'),
               '([0-9]{1,3}\.){3}[0-9]{1,3}', '<ipv4>', 'g')) AS redacted_len
    FROM documents
    """,
    extended=True,
)
def t8_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data scrubbing: email/phone/IPv4 span redaction with audit
    counts (operators/text.redact_pii — portable regex subset, pure
    expressions, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    counts = text.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        counts["email"].cast("bigint").alias("n_email"),
        counts["phone"].cast("bigint").alias("n_phone"),
        counts["ipv4"].cast("bigint").alias("n_ipv4"),
        F.length(text.redact_pii(F.col("text"))).cast("bigint").alias("redacted_len"),
    )


@query(
    "t9_url_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               'https?://([A-Za-z0-9.-]+)[^\s]*')) AS BIGINT) AS n_urls,
           CAST(len(list_distinct(list_transform(
               regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)[^\s]*', 1),
               h -> lower(h)))) AS BIGINT) AS n_hosts
    FROM documents
    """,
    extended=True,
)
def t9_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-filter audit (RefinedWeb-style): per-doc URL count + distinct
    host count, pure expressions (operators/text.url_stats).  Corpus
    domain frequencies = explode(hosts) + groupBy, same layout."""
    docs = _t(spark, sf_dir, "documents")
    stats = text.url_stats(F.col("text"))
    return docs.select(
        "doc_id",
        stats["n_urls"].cast("bigint").alias("n_urls"),
        F.size(stats["hosts"]).cast("bigint").alias("n_hosts"),
    )


@query(
    "t10_paragraph_dedup",
    oracle=r"""
    WITH units AS (
        -- zipped unnests: pos i pairs with element i (DuckDB semantics)
        SELECT doc_id AS doc,
               unnest(range(len(string_split_regex(text, '\.\s+')))) AS pos,
               unnest(string_split_regex(text, '\.\s+')) AS para
        FROM documents),
    hashed AS (
        SELECT doc, doc * 1048576 + pos AS k, md5(trim(para)) AS digest
        FROM units WHERE length(trim(para)) > 0),
    first AS (SELECT digest, min(k) AS kmin FROM hashed GROUP BY digest),
    marked AS (
        SELECT h.doc, CAST(h.k = f.kmin AS INT) AS keep
        FROM hashed h JOIN first f ON h.digest = f.digest)
    SELECT doc, count(*) AS n_paras, CAST(sum(keep) AS BIGINT) AS n_kept,
           round(1.0 - CAST(sum(keep) AS DOUBLE) / count(*), 6) AS dup_ratio
    FROM marked GROUP BY doc
    """,
    extended=True,
)
def t10_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus paragraph-level dedup audit (Gopher/RefinedWeb line
    dedup): corpus-wide first-occurrence keep decisions keyed by unit
    digest, per-doc kept/total + dup ratio
    (operators/text.paragraph_dedup_stats)."""
    docs = _t(spark, sf_dir, "documents")
    return text.paragraph_dedup_stats(docs, "doc_id", "text")


# Fixed benchmark queries for the BM25 relevance-search entry; terms drawn
# from the synthetic corpus vocabulary so every query has matches.
_BM25_QUERIES = [
    (0, ["spark", "join"]),
    (1, ["hash", "table", "scan"]),
    (2, ["window", "agg"]),
]


@query(
    "n5_bm25_search",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
    tf AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
    dl AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    q(query_id, term) AS (VALUES (0,'spark'),(0,'join'),(1,'hash'),
                                 (1,'table'),(1,'scan'),(2,'window'),
                                 (2,'agg')),
    post AS (SELECT q.query_id, q.term, tf.doc, tf.tf
             FROM q JOIN tf USING (term)),
    dfreq AS (SELECT term, count(*) AS df
              FROM (SELECT DISTINCT term, doc FROM post) GROUP BY term),
    scored AS (
        SELECT query_id, doc,
               round(sum(ln(1 + (stats.n - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        FROM post JOIN dfreq USING (term) JOIN dl USING (doc), stats
        GROUP BY query_id, doc),
    ranked AS (
        SELECT CAST(query_id AS BIGINT) AS query_id, doc,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc) AS BIGINT) AS rank, score
        FROM scored)
    SELECT query_id, doc, rank, score FROM ranked WHERE rank <= 10
    """,
    extended=True,
)
def n5_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked full-text retrieval: Okapi BM25 top-10 per benchmark query
    (operators/textsearch.bm25_topk — query terms folded into the token
    scan as an isin filter BELOW the aggregation, so only matching tokens
    ever reach a shuffle; doc lengths from a narrow no-shuffle
    projection).  The
    relevance-retrieval counterpart of the substring search DSL
    (sisdb_fmap_get.c) for corpus curation workflows."""
    from ago_sisdb_spark.operators import textsearch

    docs = _t(spark, sf_dir, "documents")
    return textsearch.bm25_topk(docs, "doc_id", "text", _BM25_QUERIES, k=10)


@query(
    "t11_corpus_datacard",
    oracle=r"""
    WITH base AS (
        SELECT lang, source,
               len(string_split_regex(lower(trim(text)), '\s+')) AS toks,
               length(text) AS chars
        FROM documents)
    SELECT CASE WHEN grouping(lang) = 0 THEN 'lang'
                WHEN grouping(source) = 0 THEN 'source' ELSE 'all' END AS dim,
           CASE WHEN grouping(lang) = 0 THEN lang
                WHEN grouping(source) = 0 THEN source ELSE 'all' END AS grp,
           count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           round(avg(toks), 6) AS avg_tokens,
           round(median(chars), 6) AS median_chars,
           round(quantile_cont(chars, 0.9), 6) AS p90_chars
    FROM base GROUP BY GROUPING SETS ((lang), (source), ())
    """,
    extended=True,
)
def t11_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data-card report: docs/tokens/length distribution overall and
    per lang/source slice, as grouping sets over ONE scan + ONE shuffle
    (operators/report.corpus_datacard).  Exact medians here; the documented
    100 TB swap is approx_percentile."""
    from ago_sisdb_spark.operators import report

    docs = _t(spark, sf_dir, "documents")
    return report.corpus_datacard(docs, "text")


@query(
    "t12_bigram_logprob",
    oracle=r"""
    WITH ws AS (SELECT doc_id AS doc,
                       string_split_regex(lower(trim(text)), '\s+') AS w
                FROM documents),
    bgs AS (SELECT doc,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i+1])) AS bg
            FROM ws WHERE len(w) >= 2),
    toks AS (SELECT doc, unnest(w) AS tok FROM ws),
    bgc AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY bg
            HAVING count(*) >= 2),
    lc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
           FROM bgs GROUP BY 1),
    uni AS (SELECT tok, count(*) AS tfu FROM toks GROUP BY tok),
    tot AS (SELECT count(*) AS n_total FROM toks),
    sc AS (SELECT b.doc,
                  log10(CASE WHEN bgc.c2 IS NOT NULL
                        THEN CAST(bgc.c2 AS DOUBLE) / lc.c1
                        ELSE 0.4 * coalesce(uni.tfu, 1) / tot.n_total
                        END) AS lp
           FROM bgs b
           LEFT JOIN bgc USING (bg)
           LEFT JOIN lc ON split_part(b.bg, ' ', 1) = lc.w1
           LEFT JOIN uni ON split_part(b.bg, ' ', 2) = uni.tok, tot)
    SELECT doc, round(avg(lp), 6) AS mean_logprob, count(*) AS n_bigrams
    FROM sc GROUP BY doc
    """,
    extended=True,
)
def t12_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score with stupid backoff (CCNet/KenLM-style
    perplexity filter, one order above t7's unigram scorer;
    operators/text.bigram_logprob — in-array bigram build, broadcast
    frequency tables)."""
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_logprob(docs, "doc_id", "text")


@query(
    "t14_url_blocklist",
    oracle=r"""
    WITH planted AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0
                    THEN ' see http://sub.h' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example.com/page https://keep.example.org/x'
                    ELSE '' END AS text
        FROM documents)
    SELECT doc_id,
           (len(list_filter(
               list_distinct(list_transform(
                   regexp_extract_all(text,
                       'https?://([A-Za-z0-9.-]+)[^\s]*', 1),
                   x -> lower(x))),
               h -> len(list_filter(['h1.example.com', 'h4.example.com'],
                        b -> h = b OR ends_with(h, '.' || b))) > 0)) > 0
           ) AS blocked
    FROM planted
    """,
    extended=True,
)
def t14_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL blocklist enforcement (operators/text.flag_blocked_hosts) with
    suffix (subdomain) matching — the decision step t9's audit feeds.  The
    synthetic corpus contains no URLs, so deterministic URLs are planted
    identically in both engines (doc_id mod 3 gets sub.h{doc_id mod 7}
    .example.com plus an unblocked example.org control): blocked ⇔
    doc_id%3=0 AND doc_id%7 ∈ {1,4}, hash-checked end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" see http://sub.h"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.com/page https://keep.example.org/x"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return planted.select(
        "doc_id",
        text.flag_blocked_hosts(
            F.col("text"), ["h1.example.com", "h4.example.com"]
        ).alias("blocked"),
    )


@query(
    "t13_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT lang AS grp,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
    counts AS (
        SELECT grp, term, count(*) AS n
        FROM toks WHERE term != '' GROUP BY 1, 2)
    SELECT grp,
           CAST(row_number() OVER (PARTITION BY grp
                ORDER BY n DESC, term) AS BIGINT) AS rank,
           term, n
    FROM counts QUALIFY rank <= 10
    """,
    extended=True,
)
def t13_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 term report (operators/text.top_terms_per_group)
    — the vocabulary/boilerplate audit step of corpus curation.  Counts
    partial-aggregate map-side so the shuffle is vocabulary-sized; the
    ranking window runs at the same scale."""
    docs = _t(spark, sf_dir, "documents")
    return text.top_terms_per_group(docs, "lang", "text", k=10)


@query(
    "e1_pca_planted",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(vec_id % 13 AS DOUBLE) AS a FROM embeddings)
    SELECT vec_id,
           round(a - (SELECT avg(a) FROM v), 6) AS pc1,
           CAST(1.0 AS DOUBLE) AS evr1
    FROM v
    """,
    extended=True,
)
def e1_pca_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-PCA oracle twin (operators/pca): the REAL Gram-accumulate
    + eigh + project pipeline run on planted rank-1 data — vector =
    a·u with a = vec_id mod 13 and u a fixed all-positive unit direction —
    whose PCA has a closed form: pc1 = a − ā (sign fixed by the
    largest-loading-positive convention, u's loadings all positive) and
    explained-variance ratio exactly 1.  Real-embedding behavior
    (orthonormality, variance ordering, reconstruction) is pinned in
    tests/test_pca.py."""
    from ago_sisdb_spark.operators import pca

    dim = 8
    u = [float(i + 1) for i in range(dim)]
    nrm = sum(x * x for x in u) ** 0.5
    u = [x / nrm for x in u]
    emb = _t(spark, sf_dir, "embeddings").select("vec_id")
    a = (F.col("vec_id") % 13).cast("double")
    planted = emb.select(
        "vec_id", F.array(*[a * F.lit(x) for x in u]).alias("v")
    )
    mean, comps, evr = pca.fit_pca(planted, "v", dim, 1)
    out = pca.project_pca(planted, "vec_id", "v", mean, comps)
    return out.select(
        F.col("id").alias("vec_id"),
        F.round(F.element_at("pc", 1), 6).alias("pc1"),
        F.lit(round(evr[0], 6)).alias("evr1"),
    )


def _n6_oracle() -> str:
    """Recall twin: the n2 planted-planes/seed-centroid approximate matrix
    composed (as a subquery) with the n1-style brute-force ground truth
    and the ann_recall join — every hit count and recall value is
    hash-checked."""
    return f"""
    WITH approx AS ({_n2_oracle()}),
    tbase AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    tprb AS (SELECT id, v FROM tbase WHERE id IN (0, 1, 2, 3, 4)),
    truth AS (
      SELECT x.id AS probe_id, y.id AS neighbor_id
      FROM tprb x JOIN tbase y ON y.id != x.id
      QUALIFY row_number() OVER (
          PARTITION BY x.id
          ORDER BY list_cosine_similarity(y.v, x.v) DESC, y.id) <= 5),
    pm AS (
      SELECT m.method, p.probe_id
      FROM (SELECT 'lsh' AS method UNION ALL SELECT 'ivf') m
      CROSS JOIN (SELECT DISTINCT probe_id FROM truth) p),
    hits AS (
      SELECT a.method, t.probe_id, count(*) AS n_hits
      FROM truth t
      JOIN (SELECT DISTINCT method, probe_id, neighbor_id FROM approx) a
        ON a.probe_id = t.probe_id AND a.neighbor_id = t.neighbor_id
      GROUP BY 1, 2)
    SELECT pm.method, pm.probe_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 5, 6) AS recall
    FROM pm LEFT JOIN hits h
      ON h.method = pm.method AND h.probe_id = pm.probe_id
    """


@query("n6_ann_recall", oracle=_n6_oracle(), extended=True)
def n6_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@5 of the LSH and IVF approximate
    indexes against exact brute-force ground truth for probes 0-4
    (operators/similarity.ann_recall).  Hash-checked since r6 (r5 verdict
    #3): it evaluates the n2 hash-checked configuration (planted integer
    planes + seed-centroid IVF), so the whole evaluation harness — both
    approximate branches, the exact ground truth, the intersection join,
    the probe-present-but-empty zero-fill — is SQL-restatable; the
    production gaussian-plane config's recall floor stays pinned in
    tests/test_similarity.py (n2_knn_lsh remains its rows-only entry)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    truth = similarity.brute_force_topk(
        emb, probes, "vec_id", "embedding", "vec_id", 5
    )
    lsh = similarity.lsh_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5, dim=_N2_DIM,
        bits=_N2_BITS, tables=_N2_TABLES, multi_probe=_N2_RADIUS,
        planes=_n2_planes(),
    )
    ivf = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5,
        n_centroids=16, nprobe=4,
    )
    out_l = similarity.ann_recall(truth, lsh, 5).select(
        F.lit("lsh").alias("method"), "probe_id", "n_hits", "recall"
    )
    out_i = similarity.ann_recall(truth, ivf, 5).select(
        F.lit("ivf").alias("method"), "probe_id", "n_hits", "recall"
    )
    return out_l.unionByName(out_i)


def _cms_oracle(depth: int = 4, width: int = 2048, topn: int = 50) -> str:
    ph = dedup.PORTABLE_HASH_SQL.format(col="term || '#' || CAST(r AS VARCHAR)")
    return rf"""
    WITH tok AS (
        SELECT t.term FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents) t
        WHERE t.term != ''),
    exact AS (
        SELECT term, count(*) AS exact_n FROM tok GROUP BY term
        ORDER BY exact_n DESC, term LIMIT {topn}),
    rows_r AS (SELECT unnest(range({depth})) AS r),
    cells AS (
        SELECT r, {ph} % {width} AS bucket, count(*) AS cnt
        FROM tok CROSS JOIN rows_r GROUP BY 1, 2),
    probe_pos AS (
        SELECT term, exact_n, r, {ph} % {width} AS bucket
        FROM exact CROSS JOIN rows_r)
    SELECT p.term, CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_n,
           CAST(min(coalesce(c.cnt, 0)) - p.exact_n AS BIGINT) AS overcount
    FROM probe_pos p LEFT JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
    GROUP BY p.term, p.exact_n
    """


@query("t15_cms_counts", oracle=_cms_oracle(), extended=True)
def t15_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term-frequency estimation (operators/sketch): build
    a depth=4 x width=2048 sketch over the whole token stream in ONE
    partial-aggregated groupBy, then estimate the top-50 heavy hitters and
    report the (provably one-sided) overcount against exact counts.  The
    sketch state is <= depth*width cells regardless of corpus size and
    merges across days/corpora by cell-wise addition — the scale path for
    ad-hoc frequency probes where an exact distinct-term table would be
    corpus-sized.  Oracle: bit-for-bit DuckDB twin over the md5
    ``portable_hash60`` family."""
    from ago_sisdb_spark.operators import sketch

    depth, width, topn = 4, 2048, 50
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
        )
        .where(F.col("term") != "")
    )
    cms = sketch.cms_build(tok, "term", depth=depth, width=width)
    exact = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "term")
        .limit(topn)
    )
    est = sketch.cms_estimate(cms, exact.select("term"), "term", depth, width)
    return (
        exact.join(est, "term")
        .select(
            "term",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("est").cast("long").alias("est_n"),
            (F.col("est") - F.col("exact_n")).cast("long").alias("overcount"),
        )
    )


@query(
    "s3_weighted_sample",
    oracle="""
    WITH s AS (
        SELECT lang, doc_id, n_chars,
               ln(((doc_id % 1000003) * 2654435761 % 1000003 + 1) / 1000004.0)
                   / CAST(n_chars AS DOUBLE) AS k
        FROM documents WHERE n_chars > 0)
    SELECT lang,
           CAST(row_number() OVER (PARTITION BY lang
                ORDER BY k DESC, doc_id) AS BIGINT) AS rank,
           doc_id, n_chars, round(k, 6) AS skey
    FROM s QUALIFY rank <= 10
    """,
    extended=True,
)
def s3_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sampling without replacement, 10 docs per language
    (operators/prep.weighted_sample_per_group): Efraimidis–Spirtakis A-Res
    keys from the deterministic Knuth gate — same corpus, same sample, no
    RNG state to checkpoint.  One group-keyed window ranking; at 100 TB the
    rows entering the shuffle carry only (id, group, weight).  Oracle:
    DuckDB restates the key formula verbatim (hash arithmetic is exact
    int64; ln/division match across engines as in the t7/t12 logprob
    oracles)."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    out = prep.weighted_sample_per_group(
        docs.select("lang", "doc_id", "n_chars"), "doc_id", "lang", "n_chars", 10
    )
    return out.select("lang", "rank", "doc_id", "n_chars", "skey")


@query(
    "s5_global_shuffle",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               ((doc_id % 1000003) * (1 + (2654435761 + 17 * 40503) % 1000002)) % 1000003 AS h
        FROM documents)
    SELECT doc_id, CAST(h % 64 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 64
                ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM s
    """,
    extended=True,
)
def s5_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle (operators/prep.global_shuffle):
    every doc gets a (shard, pos) slot from a Knuth-multiplicative hash —
    the epoch-shuffle layout for corpora too large to orderBy(rand()).
    No global sort: one per-shard window ranks hash order inside each of
    64 shards; reproducible with no RNG state, re-seedable per epoch.
    Oracle restates the hash + per-shard rank verbatim (int64-exact)."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    return prep.global_shuffle(docs.select("doc_id"), "doc_id", 64, 17)


@query(
    "s6_epoch_mix",
    oracle="""
    WITH e AS (
        SELECT doc_id, lang AS source,
               CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 2.0
                    WHEN 'fr' THEN 1.0 ELSE 0.5 END AS ep
        FROM documents),
    c AS (
        SELECT doc_id, source, CAST(floor(ep) AS INT) AS n_full,
               CAST(floor((ep - floor(ep)) * 1000003) AS BIGINT) AS thresh
        FROM e),
    n AS (
        SELECT doc_id, source,
               n_full + CASE WHEN ((doc_id % 1000003) * 2654435761
                    + (n_full + 1) * 40503) % 1000003 < thresh
                    THEN 1 ELSE 0 END AS n_copies
        FROM c)
    SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS epoch
    FROM n WHERE n_copies >= 1
    """,
    extended=True,
)
def s6_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-factor source mixing (operators/prep.epoch_mix): en seen 2.5
    epochs (third epoch = deterministic half-sample), de 2, fr 1, the
    rest 0.5 — the Pile/LLaMA-style mixture where quality sources repeat.
    Pure map stage (sequence + explode, no shuffle/join); the fractional
    tail gate hashes (id, epoch) with the quality_sample Knuth form so the
    subsample is reproducible and oracle-restatable."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    return prep.epoch_mix(
        docs.select("doc_id", "lang"), "doc_id", "lang",
        {"en": 2.5, "de": 2.0, "fr": 1.0}, default_epochs=0.5,
    )


@query(
    "s7_training_shards",
    oracle=r"""
    WITH s AS (
        SELECT doc_id,
               ((doc_id % 1000003) * (1 + (2654435761 + 17 * 40503) % 1000002)) % 1000003 AS h,
               len(string_split_regex(trim(text), '\s+')) AS tokens
        FROM documents),
    sh AS (
        SELECT doc_id, tokens, CAST(h % 8 AS BIGINT) AS shard,
               row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        FROM s),
    b AS (
        SELECT shard, tokens,
               CAST(floor(coalesce(sum(tokens) OVER (
                   PARTITION BY shard ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / 512) AS BIGINT) AS bin
        FROM sh)
    SELECT shard, count(*) AS n_docs, count(DISTINCT bin) AS n_bins,
           CAST(sum(tokens) AS BIGINT) AS n_tokens,
           CAST(max(bin) AS BIGINT) AS last_bin
    FROM b GROUP BY shard
    """,
    extended=True,
)
def s7_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus SINK: `global_shuffle` order → `pack_sequences`
    in that order → `write_training_shards` (one internally-ordered
    parquet directory per shard, the op's single shuffle) →
    `training_manifest` over the read-back — the manifest a training
    launcher schedules readers from.  The write happens under the
    warehouse dir and is overwritten idempotently; the oracle restates
    shuffle hash + pos-ordered packing + the per-shard rollup, so a wrong
    write/read-back (lost rows, wrong shard routing, type drift in the
    partition column) breaks the hash.  Resume-path directory pruning is
    pinned by pytest (PartitionFilters on the shard read)."""
    import os

    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    order = prep.global_shuffle(docs.select("doc_id"), "doc_id", 8, 17)
    toks = docs.select("doc_id", text.token_count(F.col("text")).alias("tokens"))
    packed = prep.pack_sequences(
        order.join(toks, "doc_id"), "doc_id", "tokens",
        window_tokens=512, shard_col="shard", order_cols=["pos"],
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    out = os.path.join(warehouse, "training_shards", tag)
    prep.write_training_shards(
        packed.select("doc_id", "pos", "tokens", "bin", "shard"),
        out, order_cols=["bin", "pos"],
    )
    return prep.training_manifest(prep.read_training_shards(spark, out))


@query(
    "t16_ppl_buckets",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
    vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS n FROM toks),
    lp AS (
        SELECT t.doc, round(avg(log10(coalesce(v.tf, 1) / total.n)), 6) AS lp
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, total
        GROUP BY t.doc),
    nt AS (
        SELECT d.lang, lp.doc, lp.lp,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY lp.lp DESC, lp.doc) AS bucket
        FROM lp JOIN documents d ON lp.doc = d.doc_id)
    SELECT lang,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tier,
           count(*) AS n_docs, round(avg(lp), 6) AS avg_logprob,
           round(min(lp), 6) AS cutoff_logprob
    FROM nt GROUP BY lang, bucket
    """,
    extended=True,
)
def t16_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity tiers (operators/text.
    perplexity_buckets): corpus-LM score → ntile(3) head/middle/tail per
    language, reporting tier sizes and the tail cutoff — the standard
    keep-head+middle web-corpus quality gate.  Ranking runs on the 6-dp
    ROUNDED score so tier boundaries are engine-reproducible."""
    docs = _t(spark, sf_dir, "documents")
    b = text.perplexity_buckets(docs, "doc_id", "text", "lang", 3)
    return b.groupBy("lang", "tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.min("lp"), 6).alias("cutoff_logprob"),
    )


@query(
    "t17_bpe_pairs",
    oracle=r"""
    WITH words AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents),
    pairs AS (
        SELECT unnest(list_transform(range(1, greatest(length(w) - 1, 0) + 1),
                      i -> substring(w, i, 2))) AS pair
        FROM words WHERE w != ''),
    c AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
    SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank,
           pair, n
    FROM c QUALIFY rank <= 40
    """,
    extended=True,
)
def t17_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step pair statistics (operators/text.bpe_pair_counts):
    the top-40 most frequent adjacent character pairs within words — the
    exact argmax table a BPE tokenizer trainer consumes each merge round.
    The groupBy shuffle is pair-vocabulary-sized (≤ alphabet² keys)
    regardless of corpus size."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_pair_counts(docs, "text", k=40)


def _t18_oracle(n_features: int = 2001) -> str:
    half = (n_features - 1) / 2.0
    ihalf = int(half)
    ph = dedup.PORTABLE_HASH_SQL.format(col="'w#' || tok")
    return rf"""
    WITH toks AS (
        SELECT doc_id, t.tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents) t
        WHERE t.tok != ''),
    feat AS (
        SELECT doc_id, ({ph}) % {n_features} AS f
        FROM toks),
    agg AS (
        SELECT doc_id, count(*) AS n_toks,
               (sum(f) - count(*) * {ihalf}) * 1000000 AS num,
               {ihalf} * count(*) AS den
        FROM feat GROUP BY doc_id)
    SELECT doc_id, n_toks,
           CAST(floor((num + den / 2) / den) AS BIGINT) AS score_e6,
           CAST(floor((num + den / 2) / den) AS BIGINT) > 0 AS keep
    FROM agg
    """


@query("t18_hash_classifier", oracle=_t18_oracle(), extended=True)
def t18_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality-filter plumbing (operators/text.
    hashed_linear_score): hashing-trick linear scoring of every document —
    explode, feature-hash, broadcast-join weights, per-doc mean — with the
    deterministic pseudo-weight table so the gate hash-checks the full
    scoring path; a trained (feature, weight) parquet drops in unchanged."""
    docs = _t(spark, sf_dir, "documents")
    return text.hashed_linear_score(docs, "doc_id", "text")


def _d11_oracle(window: int = 8, divisor: int = 64) -> str:
    hash_sum = " + ".join(
        f"ascii(substring(t, i - {j}, 1)) * CAST({31**j} AS BIGINT)"
        for j in range(window)
    )
    return f"""
    WITH base AS (
        SELECT doc_id, lower(trim(text)) AS t, length(lower(trim(text))) AS len
        FROM documents WHERE length(lower(trim(text))) > 0),
    ends AS (
        SELECT doc_id, t, len,
               list_sort(list_distinct(list_append(
                   list_filter(range({window}, len + 1),
                               i -> ({hash_sum}) % {divisor} = 0),
                   len))) AS e
        FROM base),
    chunks AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(e) + 1), k ->
                 substring(t,
                   (CASE WHEN k = 1 THEN 0 ELSE e[k - 1] END) + 1,
                   e[k] - (CASE WHEN k = 1 THEN 0 ELSE e[k - 1] END)))) AS chunk
        FROM ends)
    SELECT md5(chunk) AS digest, count(*) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(length(chunk)) AS BIGINT) AS chunk_len
    FROM chunks GROUP BY md5(chunk) HAVING count(*) >= 2
    """


@query("d11_cdc_chunks", oracle=_d11_oracle(), extended=True)
def d11_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup via content-defined chunking (operators/dedup.
    cdc_chunk_docs / duplicate_chunks): gear-hash boundaries (window 8,
    expected chunk 64 chars) that survive insertions — the storage-dedup
    and repeated-boilerplate screen between d1's whole-doc digests and
    d10's span scan.  Chunking is per-row HOF work (no explode before the
    chunk rows); the dup report shuffles (digest, id, len) only.  Oracle:
    DuckDB restates the polynomial boundary arithmetic verbatim."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_chunks(docs, "doc_id", "text")


def _dsir_oracle(n_buckets: int = 4096) -> str:
    ph = dedup.PORTABLE_HASH_SQL.format(col="'f#' || g")
    return rf"""
    WITH base AS (
        SELECT doc_id, lang, source,
               string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
    grams AS (
        SELECT doc_id, lang, source, g FROM (
            SELECT doc_id, lang, source, unnest(list_concat(
                w,
                list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                               i -> w[i] || ' ' || w[i + 1]))) AS g
            FROM base) t
        WHERE g != ''),
    feats AS (
        SELECT doc_id, lang, source, ({ph}) % {n_buckets} AS feature
        FROM grams),
    tgt AS (SELECT feature, count(*) AS tn FROM feats
            WHERE lang = 'en' AND source = 'src0' GROUP BY 1),
    rawc AS (SELECT feature, count(*) AS rn FROM feats GROUP BY 1),
    t_tot AS (SELECT count(*) AS t_total FROM feats
              WHERE lang = 'en' AND source = 'src0'),
    r_tot AS (SELECT count(*) AS r_total FROM feats),
    lp AS (
        SELECT r.feature,
               ln((coalesce(t.tn, 0) + 1.0) / (t_tot.t_total + {n_buckets}.0))
             - ln((r.rn + 1.0) / (r_tot.r_total + {n_buckets}.0)) AS lr
        FROM rawc r LEFT JOIN tgt t USING (feature), t_tot, r_tot)
    SELECT f.doc_id, count(*) AS n_feats, round(sum(lp.lr), 6) AS logratio
    FROM feats f JOIN lp USING (feature)
    GROUP BY f.doc_id
    """


@query("pipe6_dsir", oracle=_dsir_oracle(), extended=True)
def pipe6_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (operators/prep.dsir_importance): every raw
    document scored by hashed unigram+bigram log-ratio against the
    lang='en'/source='src0' target slice — the published importance-
    resampling data-selection method.  Two fixed-size (4096-bucket) count
    tables broadcast into one scoring pass; no vocabulary table, no
    corpus×corpus join."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    target = docs.where((F.col("lang") == "en") & (F.col("source") == "src0"))
    return prep.dsir_importance(docs, target, "doc_id", "text")


@query(
    "e2_class_centroids",
    oracle="""
    SELECT label, i - 1 AS dim_idx, count(*) AS n_vecs,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_val
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
    GROUP BY label, i
    """,
    extended=True,
)
def e2_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean embeddings in exploded form (operators/embed.
    class_centroids): posexplode pipelines straight into a partial
    HashAggregate, so the shuffle carries <= labels*dim rows per map
    partition regardless of corpus size — the prototype table SemDeDup
    seeding, NCM auditing, and snapshot drift monitoring all read."""
    from ago_sisdb_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    out = embed.class_centroids(emb, "label", "embedding")
    return out.select(
        "label",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        "n_vecs",
        F.round("mean_val", 6).alias("mean_val"),
    )


@query(
    "e3_ncm_confusion",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r),
    cent AS (SELECT label AS cand, d, avg(v) AS mv FROM dims GROUP BY 1, 2),
    cn AS (SELECT cand, sqrt(sum(mv * mv)) AS cn FROM cent GROUP BY 1),
    vn AS (SELECT vec_id, sqrt(sum(v * v)) AS vn FROM dims GROUP BY 1),
    dot AS (
        SELECT dims.vec_id, dims.label, cent.cand, sum(dims.v * cent.mv) AS dp
        FROM dims JOIN cent ON dims.d = cent.d
        GROUP BY 1, 2, 3),
    scored AS (
        SELECT dot.vec_id, dot.label, dot.cand,
               CASE WHEN vn.vn > 0 AND cn.cn > 0
                    THEN dot.dp / (vn.vn * cn.cn) ELSE -2.0 END AS cos
        FROM dot JOIN vn USING (vec_id) JOIN cn USING (cand)),
    best AS (
        SELECT label, cand FROM scored
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cand) = 1)
    SELECT label, cand AS pred_label, count(*) AS n_vecs
    FROM best GROUP BY 1, 2
    """,
    extended=True,
)
def e3_ncm_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean label audit (operators/embed.ncm_confusion):
    cosine-assign every vector to its nearest class centroid, report the
    confusion counts.  Relational dot product — dims equi-join broadcast
    centroid dims, partial-summed — so vectors never shuffle whole and
    the candidate fan-out is exactly #labels."""
    from ago_sisdb_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    return embed.ncm_confusion(emb, "vec_id", "label", "embedding")


@query(
    "m3_frame_plan",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(range(0, greatest((n_chars % 120) - 1, 0) + 1, 5)) AS frame_ts
    FROM documents
    """,
    extended=True,
)
def m3_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling schedule (sources/multimodal.frame_sample_plan):
    one planned frame every 5 s of media duration, fan-out executor-side
    and bounded by duration/step — the decode stub fills frame_content in
    production.  Duration metadata synthesized deterministically
    (n_chars mod 120 s) so the whole schedule is oracle-checked."""
    from ago_sisdb_spark.sources.multimodal import frame_sample_plan

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("modality"),
        F.create_map(
            F.lit("duration_s"), (F.col("n_chars") % 120).cast("string")
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_n_seconds=5).select(
        "media_id", F.col("frame_ts").cast("long").alias("frame_ts")
    )


@query(
    "e5_centroid_drift",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r),
    ca AS (SELECT label, d, count(*) AS na, avg(v) AS ma
           FROM dims WHERE vec_id % 2 = 0 GROUP BY 1, 2),
    cb AS (SELECT label, d, count(*) AS nb, avg(v) AS mb
           FROM dims WHERE vec_id % 2 = 1 GROUP BY 1, 2),
    j AS (SELECT ca.label, ca.na, cb.nb, ca.ma, cb.mb
          FROM ca JOIN cb ON ca.label = cb.label AND ca.d = cb.d)
    SELECT label, max(na) AS n_a, max(nb) AS n_b,
           round(CASE WHEN sqrt(sum(ma*ma)) > 0 AND sqrt(sum(mb*mb)) > 0
                 THEN sum(ma*mb) / (sqrt(sum(ma*ma)) * sqrt(sum(mb*mb)))
                 ELSE 0.0 END, 6) AS cos_ab,
           round(sqrt(sum((ma - mb) * (ma - mb))), 6) AS l2_shift
    FROM j GROUP BY label
    """,
    extended=True,
)
def e5_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift audit (operators/embed.centroid_drift): per-label
    centroid cosine + L2 shift between the even-id and odd-id halves of
    the corpus standing in for two snapshots.  Two labels×dim pooling
    aggregates joined — nothing corpus-sized after pooling."""
    from ago_sisdb_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    return embed.centroid_drift(a, b, "label", "embedding")


@query(
    "a19_hist_quantiles",
    oracle="""
    WITH rng AS (
        SELECT event_type AS g, min(value) AS lo, max(value) AS hi,
               count(*) AS n
        FROM events GROUP BY 1),
    b AS (
        SELECT e.event_type AS g,
               CASE WHEN r.hi > r.lo
                    THEN least(CAST(floor((e.value - r.lo) / (r.hi - r.lo) * 32)
                               AS INT), 31)
                    ELSE 0 END AS bin
        FROM events e JOIN rng r ON e.event_type = r.g),
    h AS (SELECT g, bin, count(*) AS c FROM b GROUP BY 1, 2),
    hc AS (SELECT g, bin, c,
                  sum(c) OVER (PARTITION BY g ORDER BY bin) AS cum
           FROM h),
    qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
    sel AS (
        SELECT hc.g, qs.q, hc.bin, hc.c, hc.cum, r.lo, r.hi, r.n
        FROM hc JOIN rng r ON hc.g = r.g CROSS JOIN qs
        WHERE hc.cum >= qs.q * r.n
        QUALIFY row_number() OVER (PARTITION BY hc.g, qs.q
                                   ORDER BY hc.bin) = 1)
    SELECT g AS event_type, q, CAST(n AS BIGINT) AS n,
           round(CASE WHEN hi > lo
                 THEN lo + ((bin + (q * n - (cum - c)) / c) / 32.0) * (hi - lo)
                 ELSE lo END, 6) AS est
    FROM sel
    """,
    extended=True,
)
def a19_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles per event type (operators/sketch.
    hist_quantiles): p50/p90/p99 from a 32-bin mergeable histogram — the
    bounded-state percentile path for metric streams (exact median keeps
    every value in the buffer; the histogram keeps 32 counters and merges
    bin-wise like the CMS).  Oracle restates the binning + interpolation
    arithmetic verbatim."""
    from ago_sisdb_spark.operators import sketch

    ev = _t(spark, sf_dir, "events")
    return sketch.hist_quantiles(ev, "event_type", "value")


@query(
    "t19_lid_confusion",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
    tris AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN length(t) < 3 THEN [t]
                      ELSE list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                                          i -> substring(t, i, 3)) END) AS tri
        FROM base),
    counts AS (SELECT lang, tri, count(*) AS cnt FROM tris GROUP BY 1, 2),
    profile AS (
        SELECT lang AS cand, tri FROM counts
        QUALIFY row_number() OVER (PARTITION BY lang
                                   ORDER BY cnt DESC, tri) <= 200),
    doc_tris AS (SELECT DISTINCT doc_id, lang, tri FROM tris),
    scored AS (
        SELECT d.doc_id, d.lang, p.cand, count(*) AS score
        FROM doc_tris d JOIN profile p ON d.tri = p.tri
        GROUP BY 1, 2, 3),
    best AS (
        SELECT lang, cand FROM scored
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand) = 1)
    SELECT lang AS label, cand AS pred_lang, count(*) AS n_docs
    FROM best GROUP BY 1, 2
    """,
    extended=True,
)
def t19_lid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID audit (operators/text.
    trigram_lid_confusion): per-language top-200 trigram profiles trained
    from the corpus's own labels, every doc re-classified by profile
    overlap, confusion counts reported — the Cavnar-Trenkle model family
    behind production LID, upgrading t3's stopword heuristic.  Profiles
    broadcast (langs×200 rows); documents never shuffle whole."""
    docs = _t(spark, sf_dir, "documents")
    return text.trigram_lid_confusion(docs, "doc_id", "text", "lang")


def _d12_oracle() -> str:
    return (
        dedup.minhash_screen_oracle_sql(
            hist_where="t.doc_id % 3 != 0",
            batch_where="t.doc_id % 3 = 0",
        )
    )


@query("d12_minhash_incremental", oracle=_d12_oracle(), extended=True)
def d12_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup screen against a materialized history index
    (operators/dedup.build_minhash_index / minhash_screen_batch): the
    approximate counterpart of d8's exact Bloom screen — band rows of 2/3
    of the corpus persisted once, the held-out 1/3 screened by a
    (band, bucket) equi-join with no re-shingling of history.  The md5
    signature hash lets the DuckDB oracle restate the whole screen
    (signatures, band folds, history cap, self-exclusion)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    docs = _t(spark, sf_dir, "documents").where(
        F.size(F.split(F.col("text"), r"\s+")) >= 3
    )
    hist = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    idx_path = dedup.minhash_index_path(warehouse, sf_dir) + "_portable"
    dedup.build_minhash_index(hist, "doc_id", "text", idx_path)
    index = dedup.load_minhash_index(spark, idx_path)
    return dedup.minhash_screen_batch(batch, index, "doc_id", "text")


def _pipe2_umbrella_oracle() -> str:
    d15 = """
    SELECT doc_id,
           count(*) OVER (PARTITION BY md5(text)) AS n_dups,
           CAST(1000000 // count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS weight_e6
    FROM documents
    """
    d16 = f"""
    WITH comp AS ({_PIPE2_ORACLE}),
    lens AS (SELECT doc_id, length(text) AS tlen
             FROM documents WHERE doc_id < 60),
    j AS (SELECT c.component, c.id, CAST(l.tlen AS BIGINT) AS tlen,
                 count(*) OVER (PARTITION BY c.component) AS n_members,
                 row_number() OVER (PARTITION BY c.component
                                    ORDER BY l.tlen DESC, c.id) AS rn
          FROM comp c JOIN lens l ON l.doc_id = c.id)
    SELECT component, id AS rep_id, tlen AS rep_len, n_members
    FROM j WHERE rn = 1
    """
    s9 = f"""
    WITH comp AS ({_PIPE2_ORACLE}),
    lab AS (
        SELECT d.doc_id,
               CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
    SELECT doc_id, component,
           CASE WHEN component % 10 < 8 THEN 'train'
                WHEN component % 10 = 8 THEN 'val' ELSE 'test' END AS split
    FROM lab
    """
    d17 = dedup.minhash_estimator_oracle_sql(
        "documents", "doc_id", "text", shingle_k=3, num_hashes=32, bands=8
    )
    return f"""
    SELECT 'component' AS part, CAST(id AS BIGINT) AS id,
           CAST(component AS BIGINT) AS grp, CAST(NULL AS BIGINT) AS n1,
           CAST(NULL AS BIGINT) AS n2, CAST(NULL AS VARCHAR) AS split
    FROM ({_PIPE2_ORACLE})
    UNION ALL
    SELECT 'rep', CAST(rep_id AS BIGINT), CAST(component AS BIGINT),
           rep_len, CAST(n_members AS BIGINT), NULL
    FROM ({d16})
    UNION ALL
    SELECT 'split', doc_id, component, NULL, NULL, split
    FROM ({s9})
    UNION ALL
    SELECT 'soft', doc_id, NULL, CAST(n_dups AS BIGINT), weight_e6, NULL
    FROM ({d15})
    UNION ALL
    SELECT 'mh_audit', id_a, id_b, CAST(est_e6 AS BIGINT),
           CAST(jac_e6 AS BIGINT), NULL
    FROM ({d17})
    UNION ALL
    SELECT 'bloom_incr', doc_id, NULL, CAST(is_dup AS BIGINT), NULL, status
    FROM ({_d8_oracle()})
    UNION ALL
    SELECT 'mh_incr', batch_id, hist_id, n_shared_bands, NULL, NULL
    FROM ({_d12_oracle()})
    """


@query("pipe2_neardup_groups", oracle=_pipe2_umbrella_oracle())
def pipe2_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GRAPH suite — clustering plus everything a pipeline does
    with the clusters, one tagged matrix (r10 driver rotation, r9 verdict
    #2; fine-grained twins stay extended for localization):

    - ``component`` — exact 2-gram Jaccard pairs (threshold 0.08,
      doc_id<60 slice) → distributed connected components
      (operators/dedup.connected_components — since r10 the two-rule
      large-star/small-star contraction, O(log n) rounds on chains, no
      driver union-find).  Oracle: recursive-CTE transitive closure.
    - ``rep`` — RefinedWeb-style keep-the-best representative per
      component (longest member, tie → lowest id; d16's operator).
    - ``split`` — leakage-safe train/val/test: the modulo gate keyed by
      the COMPONENT so near-dup groups land on one side (s9's operator);
      singleton docs are their own component.
    - ``soft`` — soft dedup: every doc kept at weight 1/multiplicity in
      exact millionths over the narrow (digest, id) layout (d15).
    - ``mh_audit`` — MinHash estimator quality: per banded candidate
      pair, the 32-hash Jaccard estimate vs the TRUE distinct-shingle
      Jaccard, integer millionths (d17) — the trust-the-prune check.

    The component/rep/split branches share ONE pairs+components build
    (the exchange-reuse lesson: thread one frame through all consumers,
    never re-derive per branch)."""
    docs = _t(spark, sf_dir, "documents")
    docs60 = docs.where(F.col("doc_id") < 60)
    pairs = dedup.ngram_jaccard_pairs(docs60, "doc_id", "text", n=2, threshold=0.08)
    comp = dedup.connected_components(pairs)

    def _pad(df, part, cols):
        sel = [F.lit(part).alias("part")]
        for name, expr in cols.items():
            sel.append(
                expr.cast("bigint").alias(name)
                if name != "split"
                else expr.alias(name)
            )
        return df.select(*sel)

    nul = F.lit(None)
    component = _pad(comp, "component", {
        "id": F.col("id"), "grp": F.col("component"),
        "n1": nul, "n2": nul, "split": nul.cast("string"),
    })
    rep = _pad(
        dedup.cluster_representatives(comp, docs60, "doc_id", "text"),
        "rep",
        {"id": F.col("rep_id"), "grp": F.col("component"),
         "n1": F.col("rep_len"), "n2": F.col("n_members"),
         "split": nul.cast("string")},
    )
    lab = (
        docs.select("doc_id")
        .join(F.broadcast(comp), F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("component"),
        )
    )
    split_expr = (
        F.when(F.col("component") % 10 < 8, "train")
        .when(F.col("component") % 10 == 8, "val")
        .otherwise("test")
    )
    split = _pad(lab, "split", {
        "id": F.col("doc_id"), "grp": F.col("component"),
        "n1": nul, "n2": nul, "split": split_expr,
    })
    soft = _pad(
        dedup.soft_dedup_weights(docs, "doc_id", "text"),
        "soft",
        {"id": F.col("doc_id"), "grp": nul, "n1": F.col("n_dups"),
         "n2": F.col("weight_e6"), "split": nul.cast("string")},
    )
    audit = _pad(
        dedup.minhash_estimator_audit(docs, "doc_id", "text"),
        "mh_audit",
        {"id": F.col("id_a"), "grp": F.col("id_b"), "n1": F.col("est_e6"),
         "n2": F.col("jac_e6"), "split": nul.cast("string")},
    )
    # r11 driver rotation (r10 verdict #2): the INCREMENTAL screens join
    # the matrix — the exact Bloom-digest screen of a batch against
    # persisted corpus state (d8) and the MinHash band-index near-dup
    # screen with no re-shingling of history (d12).  Batch-vs-artifact
    # join shapes per the r8 convention: the artifact side never
    # shuffles or builds.
    bloom = _pad(
        d8_bloom_incremental(spark, sf_dir),
        "bloom_incr",
        {"id": F.col("doc_id"), "grp": nul,
         "n1": F.col("is_dup").cast("bigint"), "n2": nul,
         "split": F.col("status")},
    )
    mh_incr = _pad(
        d12_minhash_incremental(spark, sf_dir),
        "mh_incr",
        {"id": F.col("batch_id"), "grp": F.col("hist_id"),
         "n1": F.col("n_shared_bands"), "n2": nul,
         "split": nul.cast("string")},
    )
    return (
        component.unionByName(rep)
        .unionByName(split)
        .unionByName(soft)
        .unionByName(audit)
        .unionByName(bloom)
        .unionByName(mh_incr)
    )


@query(
    "n8_tfidf_search",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
    tf AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
    n_docs AS (SELECT count(DISTINCT doc) AS n FROM tf),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    widf AS (
        SELECT tf.doc, tf.term,
               tf.tf * ln(1.0 + n.n / d.df) AS w,
               ln(1.0 + n.n / d.df) AS idf
        FROM tf JOIN dfreq d USING (term), n_docs n),
    norms AS (SELECT doc, sqrt(sum(w * w)) AS dnorm FROM widf GROUP BY doc),
    q(query_id, term) AS (VALUES (0,'spark'),(0,'join'),(1,'hash'),
                                 (1,'table'),(1,'scan'),(2,'window'),
                                 (2,'agg')),
    scored AS (
        SELECT CAST(q.query_id AS BIGINT) AS query_id, widf.doc,
               round(sum(widf.w * widf.idf) / any_value(norms.dnorm), 6) AS score
        FROM q JOIN widf USING (term) JOIN norms ON widf.doc = norms.doc
        GROUP BY q.query_id, widf.doc)
    SELECT query_id, doc,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc) AS BIGINT) AS rank,
           score
    FROM scored QUALIFY rank <= 10
    """,
    extended=True,
)
def n8_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine retrieval (operators/textsearch.tfidf_topk): the
    vector-space twin of n5's BM25 over the same fixed query set — query
    terms broadcast, only matching posting lists join, one extra
    vocabulary-scale pass for the document norms.  The weight vectors
    double as features for clustering/near-dup beyond ranking."""
    from ago_sisdb_spark.operators import textsearch

    docs = _t(spark, sf_dir, "documents")
    return textsearch.tfidf_topk(docs, "doc_id", "text", _BM25_QUERIES, k=10)


@query(
    "e4_int8_quant",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    rng AS (
        SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi,
               CASE WHEN list_max(v) > list_min(v)
                    THEN (list_max(v) - list_min(v)) / 255.0 ELSE 0.0 END AS s
        FROM base),
    qd AS (
        SELECT vec_id, v, lo, hi, s,
               CASE WHEN s > 0
                    THEN list_transform(v, x -> CAST(floor((x - lo) / s + 0.5) AS BIGINT))
                    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
        FROM rng)
    SELECT vec_id, round(lo, 6) AS lo, round(hi, 6) AS hi,
           round(s, 6) AS scale,
           CAST(list_sum(q) AS BIGINT) AS code_sum,
           round(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - (lo + q[i] * s)))), 6) AS max_abs_err
    FROM qd
    """,
    extended=True,
)
def e4_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 affine quantization audit over every embedding (operators/
    embed.quantize_int8_report): the 4x storage form for embedding columns,
    checked via per-vector code checksums and the scale/2 reconstruction
    bound.  Pure per-row HOF work, zero shuffle; floor(r + 0.5) keeps the
    code assignment engine-identical (round() differs on .5 boundaries)."""
    from ago_sisdb_spark.operators import embed

    emb = _t(spark, sf_dir, "embeddings")
    return embed.quantize_int8_report(emb, "vec_id", "embedding")


def _bpe_chain(n_merges: int = 6, carry_word: bool = False) -> str:
    """The WITH-chain of the unrolled DuckDB BPE trainer: each round
    counts weighted adjacent pairs over the evolving symbol strings,
    takes the (n DESC, pair) argmax, and applies it with an exact greedy
    left-to-right non-overlapping ``list_reduce`` fold over the SYMBOL
    ARRAY (mirror of operators/text._greedy_merge_fold) — substring
    ``replace`` is wrong here: it matches across symbol boundaries and,
    even space-padded, mis-pairs runs of 4+ identical symbols.

    ``carry_word=True`` threads the source vocabulary word through every
    round so the final table v{n} maps word -> merged symbol string (the
    serving join t26's fertility report needs)."""
    wcol = "w, " if carry_word else ""
    parts = [rf"""
    WITH w AS (
        SELECT t.w, count(*) AS wt FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents) t
        WHERE t.w != '' GROUP BY t.w),
    v0 AS (
        SELECT {wcol}array_to_string(list_transform(range(1, length(w) + 1),
                   i -> substring(w, i, 1)), ' ') AS sym, wt
        FROM w)"""]
    inner_w = f"v{{r}}.w, " if carry_word else ""
    out_w = "s.w, " if carry_word else ""
    for r in range(n_merges):
        parts.append(f""",
    p{r} AS (
        SELECT u.pair, sum(s.wt) AS n FROM (
            SELECT string_split(sym, ' ') AS sp, wt, sym FROM v{r}) s,
            unnest(list_transform(range(1, len(s.sp)),
                   i -> s.sp[i] || ' ' || s.sp[i + 1])) AS u(pair)
        GROUP BY u.pair),
    t{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    v{r + 1} AS (
        SELECT {out_w}list_reduce(s.sp, (acc, x) ->
                   CASE WHEN regexp_extract(acc, '[^ ]*$') = s.a AND x = s.b
                        THEN left(acc, length(acc)
                                  - length(regexp_extract(acc, '[^ ]*$'))) || s.m
                        ELSE acc || ' ' || x END) AS sym,
               s.wt
        FROM (SELECT {inner_w.format(r=r)}string_split(v{r}.sym, ' ') AS sp, v{r}.wt,
                     string_split(t{r}.pair, ' ')[1] AS a,
                     string_split(t{r}.pair, ' ')[2] AS b,
                     replace(t{r}.pair, ' ', '') AS m
              FROM v{r}, t{r}) s)""")
    return "".join(parts)


def _bpe_oracle(n_merges: int = 6) -> str:
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, pair,"
        f" replace(pair, ' ', '') AS merged, CAST(n AS BIGINT) AS pair_count"
        f" FROM t{r}"
        for r in range(n_merges)
    )
    return _bpe_chain(n_merges) + "\n    " + selects


@query("t20_bpe_train", oracle=_bpe_oracle(), extended=True)
def t20_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training, 6 merge rounds (operators/text.
    bpe_train): vocabulary-weighted pair counting → argmax → greedy merge
    application per round, all vocabulary-sized work with a 1-row driver
    collect per round (the k-means-centroid pattern).  The oracle unrolls
    the ENTIRE loop in SQL — every round's winning pair and count is
    hash-checked, not just round one (t17)."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_train(docs, "text", n_merges=6)


@query(
    "m4_audio_windows",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(u.w AS BIGINT) AS win_idx,
           CAST(u.w * 48000 AS BIGINT) AS start_sample,
           CAST(least(80000, (n_chars % 30) * 16000 - u.w * 48000)
                AS BIGINT) AS n_samples
    FROM documents,
         unnest(range(0, greatest(((n_chars % 30) * 16000 - 1) // 48000 + 1, 1)))
             AS u(w)
    WHERE (n_chars % 30) > 0
    """,
    extended=True,
)
def m4_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing schedule: 5 s windows (80k samples at 16 kHz) with
    2 s hop (48k samples) over each clip — the frame plan a feature
    extractor (stubbed, no audio libs here) consumes.  Same executor-side
    bounded fan-out shape as m3's video plan; duration synthesized
    deterministically (n_chars mod 30 seconds) so the whole schedule is
    oracle-checked.  Last window truncates at the clip end."""
    dur_samples = (F.col("n_chars") % 30) * 16000
    media = (
        _t(spark, sf_dir, "documents")
        .where((F.col("n_chars") % 30) > 0)
        .select(F.col("doc_id").alias("media_id"), dur_samples.alias("__ns"))
    )
    win = media.select(
        "media_id",
        "__ns",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.floor((F.col("__ns") - 1) / 48000).cast("int"), F.lit(0)
                ),
            )
        ).alias("win_idx"),
    )
    return win.select(
        "media_id",
        F.col("win_idx").cast("long").alias("win_idx"),
        (F.col("win_idx") * 48000).cast("long").alias("start_sample"),
        F.least(
            F.lit(80000).cast("long"),
            (F.col("__ns") - F.col("win_idx") * 48000).cast("long"),
        ).alias("n_samples"),
    )


@query(
    "t21_zipf",
    oracle=r"""
    WITH tok AS (
        SELECT t.term FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents) t
        WHERE t.term != ''),
    freq AS (
        SELECT term, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, term) AS rank
        FROM tok GROUP BY term)
    SELECT count(*) AS n_terms,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
           round(regr_r2(ln(n), ln(rank)), 6) AS zipf_r2
    FROM freq
    """,
    extended=True,
)
def t21_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-law audit: the Zipf slope (log-frequency on log-rank
    regression over the whole vocabulary) — natural corpora run near −1;
    a slope far off (as on this synthetic ~31-word corpus) is itself the
    signal that the vocabulary distribution is unnatural.  One
    vocabulary-sized aggregate + a distributed global rank
    (lastper.global_rank — range-partitioned spans, every term ranked,
    no single-partition window even at a 100 M-term vocabulary) + one
    regression aggregate."""
    from ago_sisdb_spark.operators import lastper

    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
        ).where(F.col("term") != "")
    )
    freq = lastper.global_rank(
        tok.groupBy("term").agg(F.count(F.lit(1)).alias("n")),
        [F.desc("n"), F.col("term")],
    )
    return freq.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("n"), F.log("rank")), 6).alias("zipf_r2"),
    )


def _hll_oracle() -> str:
    ph = dedup.PORTABLE_HASH_SQL.format(col="term")
    w50 = 1 << 50
    m = 1024
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return rf"""
    WITH tok AS (
        SELECT t.lang, t.term FROM (
            SELECT lang,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents) t
        WHERE t.term != ''),
    h AS (SELECT lang, term, {ph} AS hv FROM tok),
    cells AS (
        SELECT lang, hv >> 50 AS bucket,
               max(CASE WHEN hv % {w50} = 0 THEN 51
                   ELSE 51 - length(bin(hv % {w50})) END) AS max_rho
        FROM h GROUP BY 1, 2),
    agg AS (
        SELECT lang, sum(pow(2.0, -max_rho)) AS z, count(*) AS n_set,
               CAST(sum(max_rho) AS BIGINT) AS register_sum
        FROM cells GROUP BY lang),
    est AS (
        SELECT lang, n_set, register_sum,
               {alpha}e0 * {m}.0e0 * {m}.0e0 / (z + ({m} - n_set)) AS raw
        FROM agg),
    ex AS (SELECT lang, count(DISTINCT term) AS exact_distinct
           FROM tok GROUP BY lang)
    SELECT e.lang, ex.exact_distinct,
           round(CASE WHEN e.raw <= 2.5e0 * {m} AND ({m} - e.n_set) > 0
                 THEN {m}.0e0 * ln({m}.0e0 / ({m} - e.n_set))
                 ELSE e.raw END, 2) AS est_distinct,
           e.n_set, e.register_sum
    FROM est e JOIN ex ON e.lang = ex.lang
    """


@query("agg_hll_terms", oracle=_hll_oracle(), extended=True)
def agg_hll_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-term estimation per language
    (operators/sketch.hll_cells/hll_estimate): 1024 integer registers per
    group, mergeable by cell-wise max across corpora/days — completing
    the mergeable-sketch family (Bloom membership, CMS frequency,
    histogram quantiles, HLL cardinality).  rho comes from
    ``51 − length(bin(w))`` — an exact integer string op with no float
    edge cases — so the register state is bit-for-bit reproduced by the
    DuckDB twin; Spark's own JVM-side approx_count_distinct remains the
    one-liner alternative (agg_distinct)."""
    from ago_sisdb_spark.operators import sketch

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    cells = sketch.hll_cells(tok, "term", group_col="lang")
    est = sketch.hll_estimate(cells, group_col="lang")
    exact = tok.groupBy("lang").agg(
        F.countDistinct("term").alias("exact_distinct")
    )
    return exact.join(est, "lang").select(
        "lang", "exact_distinct", "est_distinct", "n_set", "register_sum"
    )


@query(
    "pipe7_curriculum",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
    vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS n FROM toks),
    lp AS (
        SELECT t.doc, round(avg(log10(coalesce(v.tf, 1) / total.n)), 6) AS lp
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, total
        GROUP BY t.doc),
    nt AS (
        SELECT d.lang, lp.doc, lp.lp,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY lp.lp DESC, lp.doc) AS tier_no,
               len(string_split(trim(d.text), ' ')) AS tokens
        FROM lp JOIN documents d ON lp.doc = d.doc_id),
    c AS (
        SELECT doc, tier_no, tokens, doc % 8 AS shard,
               coalesce(sum(tokens) OVER (PARTITION BY doc % 8
                   ORDER BY tier_no, doc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM nt)
    SELECT shard, CAST(floor(cum / 512) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens,
           CAST(min(tier_no) AS BIGINT) AS min_tier,
           CAST(max(tier_no) AS BIGINT) AS max_tier
    FROM c GROUP BY 1, 2
    """,
    extended=True,
)
def pipe7_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered context packing: score every doc with the
    corpus-LM fluency tier (t16's per-language ntile on the 6-dp-rounded
    score) and pack 512-token bins per shard in (tier, id) order — early
    bins hold the most fluent documents, the curriculum-learning data
    layout.  Composes the proven t16 tiering and pipe4 packing shapes; the
    min/max tier columns make the ordering visible per bin."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    tiers = text.perplexity_buckets(docs, "doc_id", "text", "lang", 3).select(
        "doc_id", F.col("bucket").alias("tier_no")
    )
    base = docs.join(tiers, "doc_id").select(
        "doc_id", "tier_no",
        text.token_count(F.col("text")).alias("tokens"),
    )
    packed = prep.pack_sequences(
        base, "doc_id", "tokens", window_tokens=512, n_shards=8,
        order_cols=[F.col("tier_no"), F.col("doc_id")],
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
        F.min("tier_no").alias("min_tier"),
        F.max("tier_no").alias("max_tier"),
    )


def _t22_oracle(margin: float = 0.15) -> str:
    # Mirrors the Spark planted arithmetic EXACTLY (same op tree, all
    # literals cast to DOUBLE — bare DuckDB decimals are DECIMAL and would
    # change the division/multiplication types): identical IEEE doubles on
    # both engines, so the margin filter can never disagree.
    return f"""
    WITH p AS (
        SELECT doc_id,
               (doc_id * 37 % 97) / CAST(97.0 AS DOUBLE) AS x1,
               (doc_id * 59 % 89) / CAST(89.0 AS DOUBLE) AS x2,
               (doc_id * 83 % 79) / CAST(79.0 AS DOUBLE) AS x3
        FROM documents),
    m AS (
        SELECT doc_id,
               x1 + CAST(0.5 AS DOUBLE) * x2 - CAST(0.8 AS DOUBLE) * x3
                  - CAST(0.35 AS DOUBLE) AS marg
        FROM p)
    SELECT doc_id, CAST(marg > 0 AS BIGINT) AS label_pred
    FROM m WHERE abs(marg) > CAST({margin} AS DOUBLE)
    """


@query("t22_classifier_train_planted", oracle=_t22_oracle(), extended=True)
def t22_classifier_train_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier TRAINING, hash-checked by the planted-oracle
    trick (same pattern as a8_polyfit_planted / e1_pca_planted): plant a
    linearly separable concept over pseudo-uniform features derived from
    doc_id (x·[1, 0.5, -0.8] > 0.35 with every point ≥ 0.15 from the
    boundary), fit logistic regression distributed (operators/classifier.
    train_lr — pyspark.ml L-BFGS, one treeAggregate gradient pass per
    iteration), and return the trained model's OWN predictions on the
    training set.  Separable data + margin ⇒ the fit must reach zero
    training error, so the oracle states the concept closed-form and the
    gate hash-checks that distributed training actually learned it;
    serving is the expression-only sigmoid (lr_score_expr), no Python."""
    from ago_sisdb_spark.operators import classifier

    d = F.col("doc_id")
    planted = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            ((d * 37 % 97) / F.lit(97.0)).alias("x1"),
            ((d * 59 % 89) / F.lit(89.0)).alias("x2"),
            ((d * 83 % 79) / F.lit(79.0)).alias("x3"),
        )
        .withColumn(
            "marg",
            F.col("x1")
            + F.lit(0.5) * F.col("x2")
            - F.lit(0.8) * F.col("x3")
            - F.lit(0.35),
        )
        .where(F.abs(F.col("marg")) > F.lit(0.15))
        .withColumn("y", (F.col("marg") > 0).cast("int"))
    )
    planted = planted.cache()
    try:
        weights, intercept = classifier.train_lr(
            planted, ["x1", "x2", "x3"], "y"
        )
        score = classifier.lr_score_expr(["x1", "x2", "x3"], weights, intercept)
        return planted.select(
            "doc_id", (score > F.lit(0.5)).cast("bigint").alias("label_pred")
        )
    finally:
        planted.unpersist()


@query("t23_quality_classifier", extended=True)
def t23_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-data twin of t22 (rows-only by design — the trained
    weights depend on iterative distributed optimization, so no SQL can
    restate them; the concept-recovery HASH check lives in t22 and the
    independent plain-numpy trainer cross-check in tests/test_classifier):
    distill the composite C4/Gopher quality rule into a linear scorer —
    weak labels from quality_score ≥ 0.75, the rule's four raw inputs as
    features, one distributed fit, expression-only scoring of every doc
    (operators/classifier.train_quality_classifier)."""
    from ago_sisdb_spark.operators import classifier

    docs = _t(spark, sf_dir, "documents")
    return classifier.train_quality_classifier(docs, "doc_id", "text")


def _t24_oracle() -> str:
    from ago_sisdb_spark.operators import classifier

    return classifier.ridge_oracle_sql(
        "documents",
        "doc_id",
        "n_chars",
        r"len(list_distinct(string_split_regex(trim(text), '\s+')))",
        r"len(string_split_regex(trim(text), '\s+'))",
    )


@query("t24_ridge_length_model", oracle=_t24_oracle(), extended=True)
def t24_ridge_length_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature ridge regression trained by NORMAL EQUATIONS and
    hash-checked END-TO-END on real data (operators/classifier.ridge_fit):
    predict each document's whitespace token count from its char count and
    distinct-token count — training is ONE aggregation pass (9 moments, one
    row over the wire), the driver solves the 3×3 system with a pinned
    Cramer operation tree, and serving is an expression-only projection.
    Because the features/target are integers, every distributed sum is
    exact, so the DuckDB oracle reproduces the ENTIRE training computation
    bit-for-bit — no planted input needed (contrast t22, where iterative
    L-BFGS forces the planted-concept check)."""
    from ago_sisdb_spark.operators import classifier

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.col("n_chars").alias("x1"),
        F.size(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("x2"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("y"),
    )
    beta = classifier.ridge_fit(base, "x1", "x2", "y")
    pred = classifier.ridge_predict_expr("x1", "x2", beta)
    return base.select(
        "doc_id",
        F.round(pred, 6).alias("pred"),
        F.round(F.col("y").cast("double") - pred, 6).alias("resid"),
    )


def _pipe9_oracle(
    window: int = 8, divisor: int = 64, dim: int = 16, k: int = 5,
    min_len: int = 8,
) -> str:
    hash_sum = " + ".join(
        f"ascii(substring(t, i - {j}, 1)) * CAST({31**j} AS BIGINT)"
        for j in range(window)
    )
    return f"""
    WITH base AS (
        SELECT doc_id, lower(trim(text)) AS t, length(lower(trim(text))) AS len
        FROM documents WHERE length(lower(trim(text))) > 0),
    ends AS (
        SELECT doc_id, t, len,
               list_sort(list_distinct(list_append(
                   list_filter(range({window}, len + 1),
                               i -> ({hash_sum}) % {divisor} = 0),
                   len))) AS e
        FROM base),
    chunks AS (
        SELECT doc_id,
               unnest(range(1, len(e) + 1)) - 1 AS chunk_idx,
               unnest(list_transform(range(1, len(e) + 1), q ->
                 substring(t,
                   (CASE WHEN q = 1 THEN 0 ELSE e[q - 1] END) + 1,
                   e[q] - (CASE WHEN q = 1 THEN 0 ELSE e[q - 1] END)))) AS chunk
        FROM ends),
    codes AS (
        SELECT doc_id, chunk_idx,
               list_transform(range(1, length(chunk) - 1), i ->
                 (ascii(substring(chunk, i, 1)) * 961
                    + ascii(substring(chunk, i + 1, 1)) * 31
                    + ascii(substring(chunk, i + 2, 1))) % {dim}) AS cs
        FROM chunks WHERE length(chunk) >= {min_len}),
    emb AS (
        SELECT doc_id, chunk_idx,
               list_transform(range(0, {dim}), d ->
                 CAST(len(list_filter(cs, c -> c = d)) AS BIGINT)) AS vec
        FROM codes),
    nrm AS (
        SELECT doc_id, chunk_idx, vec,
               sqrt(CAST(list_sum(list_transform(vec, v -> v * v))
                    AS DOUBLE)) AS norm
        FROM emb),
    q AS (
        SELECT doc_id AS q_doc, chunk_idx AS q_idx, vec AS q_vec,
               norm AS q_norm
        FROM nrm WHERE doc_id IN (1, 11, 21) AND chunk_idx = 0),
    scored AS (
        SELECT q.q_doc, e.doc_id, e.chunk_idx,
               CAST(list_sum(list_transform(range(1, {dim} + 1), i ->
                    e.vec[i] * q.q_vec[i])) AS DOUBLE)
                 / (e.norm * q.q_norm) AS s
        FROM nrm e, q
        WHERE NOT (e.doc_id = q.q_doc AND e.chunk_idx = q.q_idx)),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_doc
                     ORDER BY s DESC, doc_id, chunk_idx) AS rank
        FROM scored)
    SELECT q_doc, doc_id, chunk_idx, round(s, 6) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@query("pipe9_chunk_retrieval", oracle=_pipe9_oracle(), extended=True)
def pipe9_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end chunk-level retrieval (RAG ingest + serve;
    operators/rag.py): CDC chunking → deterministic trigram-hash chunk
    embeddings (integer-exact stand-in for a model encoder — same
    plumbing, swap the mapInPandas body) → brute cosine top-5 per query
    chunk with (doc, chunk) provenance.  The query set re-chunks only its
    3 documents (the doc_id filter pushes to the scan — embedding the
    corpus side once and filtering AFTER mapInPandas would re-run the
    whole encoder for 3 rows), then broadcasts.  Integer count vectors
    make dot/norm² exact on both engines, so the DuckDB twin restates the
    entire retrieval and the gate hash-checks scores AND ranking."""
    from ago_sisdb_spark.operators import rag

    docs = _t(spark, sf_dir, "documents")
    # fused single-pass chunk+embed (one Arrow round-trip, not two;
    # two-stage parity pinned in tests/test_rag.py)
    emb = rag.chunk_embed_trigram(docs, "doc_id", "text")
    queries = rag.chunk_embed_trigram(
        docs.where(F.col("doc_id").isin(1, 11, 21)), "doc_id", "text"
    ).where(F.col("chunk_idx") == 0)
    return rag.chunk_topk(emb, queries, k=5)


@query(
    "d13_span_removal",
    oracle=dedup.remove_duplicated_spans_oracle_sql(
        "documents", "doc_id", "text"
    ),
    extended=True,
)
def d13_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform half of d10 (operators/dedup.remove_duplicated_spans):
    cut every token covered by a cross-document duplicated span and
    reassemble the text — Lee et al. 2021 remove the duplicated
    substrings, they don't just report them (same report→transform
    relationship as t9's URL audit → t14's blocklist and t8's PII
    redact).  Every doc comes back (clean ones with n_removed = 0), so the
    oracle hash-checks the reassembled text verbatim."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(docs, "doc_id", "text")


@query(
    "d14_paragraph_rewrite",
    oracle=r"""
    WITH units AS (
        SELECT doc_id AS doc,
               unnest(range(len(string_split_regex(text, '\.\s+')))) AS pos,
               unnest(string_split_regex(text, '\.\s+')) AS para
        FROM documents),
    hashed AS (
        SELECT doc, pos, doc * 1048576 + pos AS k,
               md5(trim(para)) AS digest, trim(para) AS p
        FROM units WHERE length(trim(para)) > 0),
    first AS (SELECT digest, min(k) AS kmin FROM hashed GROUP BY digest),
    kept AS (
        SELECT h.doc, h.pos, h.p
        FROM hashed h JOIN first f ON h.digest = f.digest AND h.k = f.kmin),
    tot AS (SELECT doc, count(*) AS n_paras FROM hashed GROUP BY doc),
    agg AS (
        SELECT doc, count(*) AS n_kept, list(p ORDER BY pos) AS ps
        FROM kept GROUP BY doc)
    SELECT d.doc_id,
           coalesce(array_to_string(agg.ps, '. '), '') AS clean_text,
           CAST(coalesce(tot.n_paras, 0) AS BIGINT) AS n_paras,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
    FROM documents d
    LEFT JOIN tot ON d.doc_id = tot.doc
    LEFT JOIN agg ON d.doc_id = agg.doc
    """,
    extended=True,
)
def d14_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform half of t10 (operators/text.dedup_paragraphs):
    RefinedWeb line dedup REWRITES each document keeping only the
    corpus-wide first occurrence of every paragraph unit, reassembled in
    original order (canonical '. ' joiner — the split consumed the raw
    separators).  Completes the audit→transform pairs alongside
    d10→d13 and t9→t14/t8; the oracle hash-checks the rewritten text
    verbatim for every doc, including fully-emptied ones."""
    docs = _t(spark, sf_dir, "documents")
    return text.dedup_paragraphs(docs, "doc_id", "text")


@query("pipe10_chunk_index_serve", oracle=_pipe9_oracle(), extended=True)
def pipe10_chunk_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe9's serve path over the PERSISTED chunk index (operators/rag.
    build_chunk_index / chunk_topk_indexed): the index is built once under
    chunk_index_path(warehouse, sf) and reused across runs — the n7-
    codebook offline-job shape — so the serve plan scans the index
    parquet, never re-chunking the corpus.  The oracle is pipe9's
    verbatim: an index built over exactly the corpus must serve exactly
    the direct pipeline's results (the hash gate re-proves the
    build+append ingest produces the same embeddings the inline path
    does)."""
    import os

    from ago_sisdb_spark.operators import rag

    docs = _t(spark, sf_dir, "documents")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = rag.chunk_index_path(warehouse, sf_dir)
    if not os.path.exists(path):
        rag.build_chunk_index(docs, path)
    queries = rag.chunk_embed_trigram(
        docs.where(F.col("doc_id").isin(1, 11, 21)), "doc_id", "text"
    ).where(F.col("chunk_idx") == 0)
    return rag.chunk_topk_indexed(spark, path, queries, k=5)


@query(
    "pipe11_model_gated_prep",
    oracle=r"""
    WITH p AS (
        SELECT doc_id,
               (doc_id * 37 % 97) / CAST(97.0 AS DOUBLE) AS x1,
               (doc_id * 59 % 89) / CAST(89.0 AS DOUBLE) AS x2,
               (doc_id * 83 % 79) / CAST(79.0 AS DOUBLE) AS x3
        FROM documents),
    m AS (
        SELECT doc_id,
               x1 + CAST(0.5 AS DOUBLE) * x2 - CAST(0.8 AS DOUBLE) * x3
                  - CAST(0.35 AS DOUBLE) AS marg
        FROM p),
    kept AS (SELECT doc_id FROM m WHERE marg > CAST(0.15 AS DOUBLE)),
    t AS (
        SELECT d.doc_id,
               len(string_split_regex(trim(d.text), '\s+')) AS tokens,
               d.doc_id % 8 AS shard
        FROM documents d JOIN kept USING (doc_id)),
    c AS (
        SELECT shard, doc_id, tokens,
               coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM t)
    SELECT shard, CAST(floor(cum / 512) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1, 2
    """,
    extended=True,
)
def pipe11_model_gated_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-based quality-filter LOOP closed end-to-end in one
    hash-checked pipeline: TRAIN a classifier distributed (t22's planted
    separable concept — pyspark.ml L-BFGS), GATE the corpus with the
    trained model's own expression-only scores, PACK the survivors into
    512-token bins per shard (pipe4 semantics).  The oracle states the
    planted concept and the packing closed-form, so the gate hash-checks
    that the trained model admits exactly the concept's positive class
    AND that packing over the gated set is right — the canonical modern
    prep shape (train → filter → pack) with zero rows-only hand-waving."""
    from ago_sisdb_spark.operators import classifier, prep

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = (
        docs.select(
            "doc_id",
            ((d * 37 % 97) / F.lit(97.0)).alias("x1"),
            ((d * 59 % 89) / F.lit(89.0)).alias("x2"),
            ((d * 83 % 79) / F.lit(79.0)).alias("x3"),
        )
        .withColumn(
            "marg",
            F.col("x1") + F.lit(0.5) * F.col("x2")
            - F.lit(0.8) * F.col("x3") - F.lit(0.35),
        )
        .where(F.abs("marg") > F.lit(0.15))
        .withColumn("y", (F.col("marg") > 0).cast("int"))
    )
    planted = planted.cache()
    try:
        weights, intercept = classifier.train_lr(
            planted, ["x1", "x2", "x3"], "y"
        )
        score = classifier.lr_score_expr(["x1", "x2", "x3"], weights, intercept)
        kept_ids = planted.where(score > F.lit(0.5)).select("doc_id")
        gated = docs.join(kept_ids, "doc_id").select(
            "doc_id", text.token_count(F.col("text")).alias("tokens")
        )
        packed = prep.pack_sequences(
            gated, "doc_id", "tokens", window_tokens=512, n_shards=8
        )
        return packed.groupBy("shard", "bin").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
        )
    finally:
        planted.unpersist()


@query(
    "t25_gopher_rules",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, length(text) AS n_chars,
               list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words
        FROM documents),
    w AS (SELECT *, len(words) AS nw FROM base),
    grams AS (
        SELECT doc_id, n, gram, count(*) AS c, length(gram) AS lg
        FROM (
            SELECT t.doc_id, ns.n AS n,
                   unnest(list_transform(range(1, t.nw - ns.n + 2),
                          i -> array_to_string(t.words[i : i + ns.n - 1], ' '))) AS gram
            FROM w t, (VALUES (2),(3),(4),(5),(10)) AS ns(n))
        GROUP BY 1, 2, 3),
    tops AS (
        SELECT doc_id, n, c, lg FROM grams
        QUALIFY row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) = 1),
    topp AS (
        SELECT doc_id,
               max(CASE WHEN n = 2 THEN 1000000 * c * lg END) AS t2n,
               max(CASE WHEN n = 3 THEN 1000000 * c * lg END) AS t3n,
               max(CASE WHEN n = 4 THEN 1000000 * c * lg END) AS t4n
        FROM tops GROUP BY doc_id),
    dups AS (
        SELECT doc_id,
               CAST(coalesce(sum(CASE WHEN n = 5 AND c >= 2 THEN c * lg END), 0) AS BIGINT) AS d5c,
               CAST(coalesce(sum(CASE WHEN n = 10 AND c >= 2 THEN c * lg END), 0) AS BIGINT) AS d10c
        FROM grams GROUP BY doc_id),
    scal AS (
        SELECT doc_id, n_chars, nw,
               CAST(CASE WHEN nw = 0 THEN 0 ELSE
                   (1000000 * list_sum(list_transform(words, x -> length(x)))) // nw
               END AS BIGINT) AS mwl_e6,
               CASE WHEN nw = 0 THEN 0 ELSE
                   (1000000 * (length(text) - length(replace(text, '#', ''))
                               + len(string_split(text, '...')) - 1)) // nw
               END AS symbol_e6,
               CASE WHEN nw = 0 THEN 0 ELSE
                   (1000000 * len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))) // nw
               END AS alpha_e6,
               len(list_filter(['the','be','to','of','and','that','have','with'],
                               s -> list_contains(words, s))) AS stop_hits
        FROM w)
    SELECT s.doc_id,
           s.nw AS n_words, s.mwl_e6,
           coalesce(t.t2n // s.n_chars, 0) AS top2_e6,
           coalesce(t.t3n // s.n_chars, 0) AS top3_e6,
           coalesce(t.t4n // s.n_chars, 0) AS top4_e6,
           CASE WHEN s.n_chars = 0 THEN 0
                ELSE (1000000 * coalesce(d.d5c, 0)) // s.n_chars END AS dup5_e6,
           CASE WHEN s.n_chars = 0 THEN 0
                ELSE (1000000 * coalesce(d.d10c, 0)) // s.n_chars END AS dup10_e6,
           s.symbol_e6, s.alpha_e6, s.stop_hits,
           (s.nw BETWEEN 50 AND 100000
            AND s.mwl_e6 BETWEEN 3000000 AND 10000000
            AND s.symbol_e6 <= 100000 AND s.alpha_e6 >= 800000
            AND s.stop_hits >= 2
            AND coalesce(t.t2n // s.n_chars, 0) <= 200000
            AND coalesce(t.t3n // s.n_chars, 0) <= 180000
            AND coalesce(t.t4n // s.n_chars, 0) <= 160000
            AND CASE WHEN s.n_chars = 0 THEN 0
                     ELSE (1000000 * coalesce(d.d5c, 0)) // s.n_chars END <= 150000
            AND CASE WHEN s.n_chars = 0 THEN 0
                     ELSE (1000000 * coalesce(d.d10c, 0)) // s.n_chars END <= 100000
           ) AS gopher_keep
    FROM scal s
    LEFT JOIN topp t USING (doc_id)
    LEFT JOIN dups d USING (doc_id)
    """,
    extended=True,
)
def t25_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher repetition + quality rule suite (Rae et al. 2021
    Table A1) per document: mean word length, top-{2,3,4}-gram char
    fractions, duplicated-{5,10}-gram char fractions, symbol-to-word
    ratio, alpha-word fraction, canonical-stopword hits, and the composite
    keep gate — all ratios as exact e6 fixed-point integers so the flag is
    hash-portable (no float round-at-boundary trap).  One corpus scan, no
    shuffle: ``text.gopher_stats`` (vectorized mapInPandas Counter pass).
    Reference parity: the scalar quality filters the reference sketches in
    its method tables (sis_method.h) generalized to the published Gopher
    rule set."""
    docs = _t(spark, sf_dir, "documents")
    return text.gopher_stats(docs, "doc_id", "text")


@query(
    "e6_matryoshka_truncation",
    oracle="""
    WITH p AS (
        SELECT vec_id AS probe_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pvec
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
    c AS (
        SELECT vec_id AS neighbor_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings),
    scored AS (
        SELECT CAST(d.dim AS BIGINT) AS dim, p.probe_id, c.neighbor_id,
               list_cosine_similarity(c.cvec[1:d.dim], p.pvec[1:d.dim]) AS score
        FROM c, p, (VALUES (8), (16), (32), (64)) AS d(dim)
        WHERE c.neighbor_id <> p.probe_id),
    top AS (
        SELECT * FROM scored
        QUALIFY row_number() OVER (PARTITION BY dim, probe_id
                                   ORDER BY score DESC, neighbor_id) <= 5)
    SELECT dim, probe_id, neighbor_id, round(score, 6) AS score,
           CAST(max(CASE WHEN dim = 64 THEN 1 ELSE 0 END)
                OVER (PARTITION BY probe_id, neighbor_id) AS BIGINT) AS hit_full
    FROM top
    """,
    extended=True,
)
def e6_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-truncation audit (Kusupati et al. 2022): exact
    cosine top-5 per probe at widths 8/16/32/64, with ``hit_full`` marking
    neighbors that survive from the full-width top-5 — the go/no-go check
    before serving truncated embeddings.  One corpus pass: all widths are
    scored from the same broadcast-probe row, stacked by an in-row explode,
    ranked by one (dim, probe) window; the full-width overlap is a second
    window over the already-top-k rows (|dims|x|probes|x5 = 100 rows)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    return similarity.truncation_audit(
        emb, probes, "vec_id", "embedding", "vec_id", dims=(8, 16, 32, 64), k=5
    )


def _pipe12_oracle() -> str:
    ph = dedup.PORTABLE_HASH_SQL.format(
        col="'mix:' || CAST(d.doc_id AS VARCHAR)"
    )
    return f"""
    WITH cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cnt),
    w AS (SELECT source, n_docs, n_total,
                 CAST(floor(1000000.0 * sqrt(n_docs / n_total)) AS BIGINT) AS weight
          FROM cnt, tot),
    wt AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM w),
    r2 AS (SELECT source, n_docs, weight,
                  (1000000 * weight) // w_total AS share_e6,
                  (((n_total * 500000) // 1000000) * weight) // w_total AS quota,
                  least(CAST(1000000 AS BIGINT),
                        (1000000 * ((((n_total * 500000) // 1000000) * weight) // w_total)) // n_docs) AS rate_e6
           FROM w, wt),
    kept AS (SELECT d.source, count(*) AS n_kept
             FROM documents d JOIN r2 ON d.source = r2.source
             WHERE {ph} % 1000000 < r2.rate_e6
             GROUP BY d.source)
    SELECT r2.source, r2.n_docs, r2.weight, r2.share_e6, r2.quota, r2.rate_e6,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM r2 LEFT JOIN kept k USING (source)
    """


@query("pipe12_domain_mix", oracle=_pipe12_oracle(), extended=True)
def pipe12_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (alpha = 0.5, the multilingual-LM
    sampling rule): per-source doc mass -> sqrt-flattened weights ->
    integer keep quotas against a 50% corpus budget, applied through the
    deterministic portable-hash gate; one audit row per source with the
    achieved kept count.  Two corpus passes by construction (the mass
    aggregate must complete before rates exist); the domains-sized plan
    table broadcasts into the gate pass — no corpus-wide shuffle.
    prep.temperature_rates + prep.apply_mix_gate."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    rates = prep.temperature_rates(docs, "source", target_frac_e6=500_000)
    kept = (
        prep.apply_mix_gate(docs.select("doc_id", "source"), "doc_id", "source", rates)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "weight",
        "share_e6",
        "quota",
        "rate_e6",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


@query(
    "n9_mmr_rerank",
    oracle="""
    SELECT CAST(probe_id AS BIGINT) AS probe_id, CAST(rank AS BIGINT) AS rank,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(mmr_score AS DOUBLE) AS mmr_score
    FROM (VALUES
        (100, 1, 1,  0.4), (100, 2, 4,  0.26), (100, 3, 2,  0.06),
        (200, 1, 2,  0.4), (200, 2, 3,  0.06), (200, 3, 1, -0.24)
    ) AS t(probe_id, rank, neighbor_id, mmr_score)
    """,
    extended=True,
)
def n9_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank, hash-checked by the planted-oracle trick
    (the a8/t22/e1 pattern): integer 3-4-5 vectors give EXACT rational
    cosines (all norms are exact integers), so every greedy step's score
    is an exact multiple of 1/50 and the oracle states the full selection
    closed-form — including a rank-3 score tie (ids 1 vs 4 at -0.24 for
    probe 200) that pins the id-asc tie-break.  The REAL distributed
    operator runs end-to-end: broadcast-probe scan, top-pool window,
    per-probe bounded numpy greedy (similarity.mmr_rerank); random-data
    correctness vs an independent numpy model is pinned in
    tests/test_similarity.py."""
    cand = spark.createDataFrame(
        [
            (1, [4.0, 3.0, 0.0]),
            (2, [3.0, 0.0, 4.0]),
            (3, [0.0, 4.0, 3.0]),
            (4, [4.0, -3.0, 0.0]),
            (5, [0.0, 5.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(100, [5.0, 0.0, 0.0]), (200, [0.0, 0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.mmr_rerank(
        cand, probes, "vec_id", "embedding", "vec_id", k=3, pool=5, lam=0.5
    )
    return out.select(
        "probe_id", "rank", "neighbor_id", F.round("mmr_score", 6).alias("mmr_score")
    )


@query(
    "e7_sign_sketch_ann",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               CAST(list_sum(list_transform(range(1, 33),
                    i -> CASE WHEN embedding[i] > 0
                              THEN (CAST(1 AS BIGINT) << (i - 1))
                              ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS lo,
               CAST(list_sum(list_transform(range(1, 33),
                    i -> CASE WHEN embedding[i + 32] > 0
                              THEN (CAST(1 AS BIGINT) << (i - 1))
                              ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS hi
        FROM embeddings),
    p AS (SELECT vec_id AS probe_id, v AS pv, lo AS plo, hi AS phi
          FROM e WHERE vec_id IN (0, 1, 2, 3, 4)),
    scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               CAST(bit_count(xor(p.plo, e.lo))
                    + bit_count(xor(p.phi, e.hi)) AS BIGINT) AS hamming,
               list_cosine_similarity(e.v, p.pv) AS cos
        FROM e, p WHERE e.vec_id <> p.probe_id)
    SELECT probe_id, neighbor_id, hamming, round(cos, 6) AS cos_score,
           CAST(row_number() OVER (PARTITION BY probe_id
                ORDER BY hamming, neighbor_id) AS BIGINT) AS rank_h,
           CAST(row_number() OVER (PARTITION BY probe_id
                ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank_c
    FROM scored
    QUALIFY rank_h <= 5 OR rank_c <= 5
    """,
    extended=True,
)
def e7_sign_sketch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-sketch ANN audit (SimHash on stored embeddings): pack
    1 bit per dimension into two 32-bit words (32x smaller than float32),
    rank by Hamming distance beside the exact cosine over the SAME pairs,
    and emit the union of both top-5 sets per probe — recall@5 of the
    sketch reads directly off the rows.  One corpus pass, both rankings
    share one probe-keyed exchange; Hamming ties (integers 0..64) are
    pinned by the id-asc tie-break so the hash check is exact.
    operators/embed.hamming_vs_cosine_topk."""
    from ago_sisdb_spark.operators import embed as embed_ops

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    return embed_ops.hamming_vs_cosine_topk(
        emb, probes, "vec_id", "embedding", "vec_id", k=5, dim=64
    )


@query(
    "d15_soft_dedup",
    oracle="""
    SELECT doc_id,
           count(*) OVER (PARTITION BY md5(text)) AS n_dups,
           CAST(1000000 // count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS weight_e6
    FROM documents
    """,
    extended=True,
)
def d15_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: every doc kept, downweighted by 1/multiplicity so each
    unique text carries unit total training mass (the published
    alternative to hard exact dedup when duplication correlates with
    quality).  One count window over the narrow (digest, id) projection —
    the d1 shuffle layout, bodies never move.  dedup.soft_dedup_weights."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.soft_dedup_weights(docs, "doc_id", "text")


@query(
    "e8_hard_negatives",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    p AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv
          FROM e WHERE vec_id IN (0, 1, 2, 3, 4)),
    scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               CAST(e.label AS BIGINT) AS label,
               CASE WHEN e.label = p.plabel THEN 'pos' ELSE 'neg' END AS kind,
               list_cosine_similarity(e.v, p.pv) AS score
        FROM e, p WHERE e.vec_id <> p.probe_id)
    SELECT probe_id, kind,
           CAST(row_number() OVER (PARTITION BY probe_id, kind
                ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank,
           neighbor_id, label, round(score, 6) AS score
    FROM scored QUALIFY rank <= 3
    """,
    extended=True,
)
def e8_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining: per anchor, top-3 same-label positives and
    top-3 highest-cosine WRONG-label hard negatives — the training-pair
    selection step for embedding-model fine-tuning.  One broadcast-probe
    corpus pass, one (probe, kind) rank window; labels ride the scan
    projection.  operators/embed.hard_negative_mining."""
    from ago_sisdb_spark.operators import embed as embed_ops

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2, 3, 4))
    return embed_ops.hard_negative_mining(
        emb, probes, "vec_id", "embedding", "label", "vec_id", k=3
    )


@query(
    "d16_cluster_representatives",
    oracle=f"""
    WITH comp AS ({_PIPE2_ORACLE}),
    lens AS (SELECT doc_id, length(text) AS tlen
             FROM documents WHERE doc_id < 60),
    j AS (SELECT c.component, c.id, CAST(l.tlen AS BIGINT) AS tlen,
                 count(*) OVER (PARTITION BY c.component) AS n_members,
                 row_number() OVER (PARTITION BY c.component
                                    ORDER BY l.tlen DESC, c.id) AS rn
          FROM comp c JOIN lens l ON l.doc_id = c.id)
    SELECT component, id AS rep_id, tlen AS rep_len, n_members
    FROM j WHERE rn = 1
    """,
    extended=True,
)
def d16_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster representative selection (keep-the-best, not
    keep-lowest-id): pipe2's connected components -> per component keep
    the longest member, tie toward the lower id — the RefinedWeb-style
    choice when a group holds one full doc plus truncated variants.
    Component table is graph-sized; lengths join from a narrow pruned
    projection.  dedup.cluster_representatives."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.08)
    comp = dedup.connected_components(pairs)
    return dedup.cluster_representatives(comp, docs, "doc_id", "text")


def _pipe13_oracle() -> str:
    minhash = dedup.minhash_lsh_oracle_sql(
        "documents", "doc_id", "text", shingle_k=3, num_hashes=32, bands=8
    )
    punct_gate = (
        "length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))"
        " / nullif(length(text), 0) < 0.10"
    )
    return rf"""
    WITH nd_pairs AS ({minhash}),
    xdrop AS (
        SELECT doc_id FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS k
            FROM documents) WHERE doc_id != k),
    nddrop AS (SELECT DISTINCT id_b AS doc_id FROM nd_pairs),
    tr0 AS (
        SELECT DISTINCT doc_id AS doc, unnest(list_distinct({_SH3})) AS shingle
        FROM documents
        WHERE doc_id % 97 != 0
          AND len(string_split_regex(trim(text), '\s+')) >= 3),
    keepsh AS (
        SELECT shingle FROM tr0 GROUP BY shingle HAVING count(*) <= 50),
    tr AS (SELECT tr0.* FROM tr0 JOIN keepsh USING (shingle)),
    ev AS (
        SELECT DISTINCT unnest(list_distinct({_SH3})) AS shingle
        FROM documents
        WHERE doc_id % 97 = 0 AND len(string_split_regex(trim(text), '\s+')) >= 3),
    contam AS (
        SELECT doc AS doc_id FROM tr JOIN ev USING (shingle)
        GROUP BY doc HAVING count(DISTINCT shingle) >= 3),
    tagged AS (
        SELECT CASE
            WHEN d.doc_id IN (SELECT doc_id FROM xdrop) THEN 'exact_dup'
            WHEN d.doc_id IN (SELECT doc_id FROM nddrop) THEN 'near_dup'
            WHEN d.doc_id % 97 = 0 THEN 'eval_holdout'
            WHEN d.doc_id IN (SELECT doc_id FROM contam) THEN 'decontam'
            WHEN NOT (length(text) >= 50 AND {punct_gate}) THEN 'quality'
            ELSE 'kept' END AS stage
        FROM documents d)
    SELECT stage, count(*) AS n_docs FROM tagged GROUP BY stage
    """


@query("pipe13_prep_funnel", oracle=_pipe13_oracle(), extended=True)
def pipe13_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prep-pipeline funnel: every document tagged with the FIRST stage of
    full_prep that drops it (exact_dup -> near_dup -> eval_holdout ->
    decontam -> quality -> kept), one count per stage — "where did my
    corpus go" in ONE tagged pass instead of re-running the pipeline per
    stage.  Drop sets are the pipeline's own oracle-proven building
    blocks; the oracle composes the pipe_full CTEs with a CASE.
    operators/prep.prep_funnel."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    return prep.prep_funnel(docs, "doc_id", "text")


@query(
    "d17_minhash_estimator_audit",
    oracle=dedup.minhash_estimator_oracle_sql(
        "documents", "doc_id", "text", shingle_k=3, num_hashes=32, bands=8
    ),
    extended=True,
)
def d17_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash prune: per banded candidate
    pair, the 32-hash signature estimate of Jaccard beside the TRUE
    distinct-shingle Jaccard and the absolute error — run before trusting
    the near-dup prune on a new corpus.  Integer millionths throughout
    (matches and set sizes are integers; no float boundary).  Two corpus
    passes; the true-Jaccard self-join runs over candidate docs only.
    dedup.minhash_estimator_audit."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_estimator_audit(docs, "doc_id", "text")


def _t26_oracle(n_merges: int = 6) -> str:
    return _bpe_chain(n_merges, carry_word=True) + rf""",
    dw AS (
        SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents),
    dwn AS (SELECT lang, w FROM dw WHERE w != ''),
    fert AS (
        SELECT d.lang, count(*) AS n_words,
               CAST(sum(len(string_split(v.sym, ' '))) AS BIGINT) AS n_sym
        FROM dwn d JOIN v{n_merges} v ON v.w = d.w
        GROUP BY d.lang)
    SELECT lang, CAST(n_words AS BIGINT) AS n_words, n_sym,
           (1000000 * n_sym) // n_words AS fertility_e6
    FROM fert
    """


@query("t26_bpe_fertility", oracle=_t26_oracle(), extended=True)
def t26_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (subword tokens per word — the
    standard multilingual tokenizer-quality metric: high fertility =
    underserved language): train the 6-merge BPE on the corpus (t20's
    loop, 1-row driver collect per round), apply the trained merges with
    the exact greedy fold, and report per-lang word / symbol totals with
    fertility in integer millionths.  The oracle unrolls the SAME trainer
    with the vocabulary word carried through, so train AND serve are
    hash-checked end-to-end.  Scale: the merge application is a
    vocabulary-join-free expression fold over the corpus scan; only the
    ≤|vocab| trainer tables shuffle."""
    docs = _t(spark, sf_dir, "documents")
    merges_df = text.bpe_train(docs, "text", n_merges=6)
    merges = [
        (r["pair"], r["merged"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    words = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    sym = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    from ago_sisdb_spark.operators.text import _greedy_merge_fold

    for pair, merged in merges:
        a, b = pair.split(" ")
        sym = _greedy_merge_fold(sym, a, b, pair.replace(" ", ""))
    return (
        words.select("lang", F.size(sym).alias("n_sym"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_sym"),
        )
        .select(
            "lang", "n_words", "n_sym",
            F.expr("(1000000 * n_sym) div n_words").alias("fertility_e6"),
        )
    )


def _t27_oracle() -> str:
    return f"""
    WITH lab AS (
        SELECT s.score_e6 AS score, (d.lang = 'en') AS pos
        FROM ({_t18_oracle()}) s JOIN documents d ON s.doc_id = d.doc_id),
    per AS (
        SELECT score,
               CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        FROM lab GROUP BY score),
    cum AS (
        SELECT *,
               CAST(coalesce(sum(n_neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_n_neg
        FROM per),
    agg AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
               CAST(sum(n_neg) AS BIGINT) AS n_neg,
               CAST(sum(n_pos * (2 * cum_n_neg + n_neg)) AS BIGINT)
                   AS auc_num2,
               CAST(sum(CASE WHEN score > 0 THEN n_pos ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score > 0 THEN n_neg ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN score <= 0 THEN n_pos ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN score <= 0 THEN n_neg ELSE 0 END) AS BIGINT) AS tn
        FROM cum)
    SELECT n_pos, n_neg, auc_num2,
           CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den2,
           CAST(auc_num2 AS DOUBLE)
               / nullif(CAST(2 * n_pos * n_neg AS DOUBLE), 0) AS auc,
           tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0) AS prec,
           CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0) AS recall,
           CAST(2 * tp AS DOUBLE)
               / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0) AS f1,
           CAST(tp + tn AS DOUBLE)
               / nullif(CAST(tp + fp + fn + tn AS DOUBLE), 0) AS accuracy
    FROM agg
    """


@query("t27_classifier_eval", oracle=_t27_oracle(), extended=True)
def t27_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVAL metrics (operators/classifier.eval_binary): exact
    tie-aware Mann-Whitney ROC-AUC + threshold confusion matrix for the
    t18 hash-classifier score against a reference label (lang = 'en'),
    as one integer-exact summary row.  The per-distinct-score collapse is
    bounded by the score codomain, not the corpus; the cumulative term
    uses range-partitioned spans (lastper.global_prefix_sums), never a
    single-partition window.  Closes the train (t22) → serve (t18) →
    EVAL loop of the model-based quality-filter family."""
    from ago_sisdb_spark.operators import classifier

    docs = _t(spark, sf_dir, "documents")
    scored = text.hashed_linear_score(docs, "doc_id", "text")
    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == F.lit("en")).alias("pos")),
        "doc_id",
    )
    return classifier.eval_binary(labeled, "score_e6", "pos", threshold=0)


# Planted decomposed-Unicode suffix for the t28 normalization gate: NFC
# must compose e+COMBINING ACUTE into é (twice), and the zero-width
# space/joiner must be stripped before whitespace collapsing.  Raw chars so
# Spark literal and DuckDB literal are byte-identical.
_T28_PLANT = " Café​  fiancée‍ \tend"


def _t28_oracle() -> str:
    from ago_sisdb_spark.operators.text import INVISIBLE_CHARS, _WS_RUN

    return f"""
    WITH planted AS (
        SELECT doc_id, text || '{_T28_PLANT}' AS raw FROM documents),
    norm AS (
        SELECT doc_id, raw,
               trim(regexp_replace(
                   nfc_normalize(regexp_replace(raw, '[{INVISIBLE_CHARS}]', '', 'g')),
                   '{_WS_RUN}', ' ', 'g')) AS n
        FROM planted)
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length(n) AS BIGINT) AS n_chars_norm,
           md5(n) AS norm_md5
    FROM norm
    """


@query("t28_text_normalize", oracle=_t28_oracle(), extended=True)
def t28_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization pass (operators/text.normalize_text_expr):
    zero-width strip → NFC composition → whitespace-run collapse → trim,
    hash-checked byte-for-byte against DuckDB's utf8proc NFC on a planted
    decomposed suffix (the corpus itself is NFC-invariant ASCII, so the
    plant is what proves the composition actually ran).  JVM regexps
    around an Arrow-batched ASCII-fast-path NFC UDF — the standard first
    stage of every LLM ingest pipeline (CCNet/RefinedWeb normalize before
    dedup so byte-identical-after-normalization docs collide)."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(F.col("text"), F.lit(_T28_PLANT))
    norm = text.normalize_text_expr(raw)
    return docs.select(
        "doc_id",
        F.length(raw).cast("bigint").alias("n_chars_raw"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
    )


def _d18_oracle(k: int = 8, w: int = 4) -> str:
    hash_sum = " + ".join(
        f"ascii(substring(t, i - {j}, 1)) * CAST({31**j} AS BIGINT)"
        for j in range(k)
    )
    win = f"list_slice(hl, j, j + {w - 1})"
    return f"""
    WITH base AS (
        SELECT doc_id, lower(trim(text)) AS t,
               length(lower(trim(text))) AS n
        FROM documents WHERE length(lower(trim(text))) >= {k + w - 1}),
    h AS (
        SELECT doc_id,
               list_transform(range({k}, n + 1), i -> {hash_sum}) AS hl
        FROM base),
    sel AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(hl) - {w} + 2),
                   j -> struct_pack(
                       pos := j + {k - 2}
                           + ({w + 1} - list_position(list_reverse({win}),
                                                      list_min({win}))),
                       fp := list_min({win}))) AS sels
        FROM h),
    u AS (SELECT doc_id, unnest(sels) AS s FROM sel)
    SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos,
           CAST(s.fp AS BIGINT) AS fp
    FROM u
    """


@query("d18_winnowing", oracle=_d18_oracle(), extended=True)
def d18_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection (operators/dedup.
    winnow_fingerprints): k-gram rolling hashes → sliding-window minima
    with rightmost tie-break — the guaranteed-coverage, position-aware
    near-dup sketch (any shared substring ≥ k+w-1 chars yields a common
    fingerprint).  Vectorized numpy mapInPandas per the d11/t12 lesson;
    the DuckDB twin restates the whole selection relationally."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)


def _d19_oracle(max_df: int = 8, min_shared: int = 3) -> str:
    return f"""
    WITH d AS ({_d18_oracle()}),
    g AS (SELECT fp, doc_id AS id, min(pos) AS lo, max(pos) AS hi
          FROM d GROUP BY fp, doc_id),
    f AS (SELECT fp, id, lo, hi FROM (
              SELECT g.*, count(*) OVER (PARTITION BY fp) AS dfc FROM g)
          WHERE dfc BETWEEN 2 AND {max_df}),
    m AS (SELECT a.id AS id_a, b.id AS id_b,
                 a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
          FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id)
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared,
           min(la) AS span_a_lo, max(ha) AS span_a_hi,
           min(lb) AS span_b_lo, max(hb) AS span_b_hi
    FROM m GROUP BY id_a, id_b HAVING count(*) >= {min_shared}
    """


@query("d19_winnow_pairs", oracle=_d19_oracle(), extended=True)
def d19_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap localization (operators/dedup.
    winnow_overlap_pairs): near-dup candidate pairs through shared
    winnowing fingerprints with matched-span positions on both sides.
    Boilerplate fingerprints (doc-freq > 8) are FILTERED (stop-gram
    semantics, exactly restated by the oracle); pair expansion is the
    capped-bucket in-array pattern — no self-join, shuffles carry
    (fp, id, span) rows only."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_overlap_pairs(docs, "doc_id", "text", max_df=8, min_shared=3)


@query(
    "s8_compaction_plan",
    oracle="""
    WITH inv AS (
        SELECT source, lang,
               CAST(sum(n_chars) AS BIGINT) AS bytes,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source, lang),
    planned AS (
        SELECT *,
               CAST(floor(coalesce(sum(bytes) OVER (PARTITION BY source
                        ORDER BY lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 4000) AS BIGINT) AS slot
        FROM inv)
    SELECT source, lang, bytes, n_docs, slot FROM planned
    """,
    extended=True,
)
def s8_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/prep.plan_compaction):
    first-fit slot assignment toward a target output size, running-sum
    window per storage partition — inventory-scale input, partition-
    parallel, deterministic.  Demonstrated over a per-(source, lang)
    file inventory derived from the documents table."""
    from ago_sisdb_spark.operators import prep

    docs = _t(spark, sf_dir, "documents")
    inv = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("bytes"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return prep.plan_compaction(inv, ["source"], "bytes", ["lang"], 4000)


@query(
    "t29_domain_kl",
    oracle=r"""
    WITH toks AS (
        SELECT source, t.tok FROM (
            SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents) t
        WHERE t.tok != ''),
    cst AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
    ct  AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot FROM cst GROUP BY tok),
    ns  AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s,
                   CAST(count(*) AS BIGINT) AS vocab_s
            FROM cst GROUP BY source),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cst)
    SELECT cst.source,
           ns.n_s AS n_tokens,
           ns.vocab_s AS vocab,
           round(sum((CAST(c AS DOUBLE) / n_s)
                 * ln(CAST(c AS DOUBLE) * n / (CAST(n_s AS DOUBLE) * ctot))), 6)
               AS kl
    FROM cst JOIN ct USING (tok) JOIN ns USING (source), tot
    GROUP BY cst.source, ns.n_s, ns.vocab_s
    """,
    extended=True,
)
def t29_domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain KL divergence of the source's unigram distribution from
    the corpus distribution (operators/text.domain_kl) — the
    mixture-tuning diagnostic behind DoReMi/DSIR-style domain weighting.
    One token pass; everything downstream is vocabulary-scale; the KL
    terms are exact integer ratios into one ln each, per-source sum
    rounded at 6 dp (BM25/TF-IDF convention)."""
    docs = _t(spark, sf_dir, "documents")
    return text.domain_kl(docs, "source")


@query(
    "t30_domain_quantile_gate",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_domain
        FROM documents),
    pct AS (
        SELECT *,
               CASE WHEN n_domain = 1 THEN CAST(1000000 AS BIGINT)
                    ELSE ((rank - 1) * 1000000) // (n_domain - 1)
               END AS pct_e6
        FROM ranked)
    SELECT doc_id, source, n_chars, rank, n_domain, pct_e6,
           pct_e6 >= 200000 AS keep
    FROM pct
    """,
    extended=True,
)
def t30_domain_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quantile gate (operators/text.domain_quantile_gate):
    rank-normalize a quality signal WITHIN each source and keep the top
    80% per domain — the FineWeb-style per-domain cut that an absolute
    threshold can't express.  Integer-exact fixed-point percentiles;
    both windows partition by the domain (bounded spans at 100 TB)."""
    docs = _t(spark, sf_dir, "documents")
    return text.domain_quantile_gate(
        docs.select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id",
    )


def _n11_oracle(feedback_k: int = 5, expand_terms: int = 3, k: int = 10) -> str:
    def chain(qname: str, sfx: str) -> str:
        return f"""
    post{sfx} AS (SELECT q.query_id, q.term, tf.doc, tf.tf
             FROM {qname} q JOIN tf USING (term)),
    dfreq{sfx} AS (SELECT term, count(*) AS df
              FROM (SELECT DISTINCT term, doc FROM post{sfx}) GROUP BY term),
    scored{sfx} AS (
        SELECT query_id, doc,
               round(sum(ln(1 + (stats.n - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        FROM post{sfx} JOIN dfreq{sfx} USING (term) JOIN dl USING (doc), stats
        GROUP BY query_id, doc),
    ranked{sfx} AS (
        SELECT CAST(query_id AS BIGINT) AS query_id, doc,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc) AS BIGINT) AS rank, score
        FROM scored{sfx})"""

    values = "(0,'spark'),(0,'join'),(1,'hash'),(1,'table'),(1,'scan'),(2,'window'),(2,'agg')"
    return rf"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
    tf AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
    dl AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    q0(query_id, term) AS (VALUES {values}),
    {chain('q0', '0')},
    fb AS (SELECT query_id, doc FROM ranked0 WHERE rank <= {feedback_k}),
    fbc AS (SELECT fb.query_id, toks.term, count(*) AS cnt
            FROM toks JOIN fb USING (doc)
            GROUP BY fb.query_id, toks.term),
    fresh AS (
        SELECT fbc.* FROM fbc
        LEFT JOIN q0 ON q0.query_id = fbc.query_id AND q0.term = fbc.term
        WHERE q0.term IS NULL),
    exp AS (
        SELECT query_id, term FROM (
            SELECT query_id, term,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY cnt DESC, term) AS r
            FROM fresh)
        WHERE r <= {expand_terms}),
    qx AS (SELECT query_id, term FROM q0
           UNION SELECT query_id, term FROM exp),
    {chain('qx', '1')}
    SELECT query_id, doc, rank, score FROM ranked1 WHERE rank <= {k}
    """


@query("n11_prf_expansion", oracle=_n11_oracle(), extended=True)
def n11_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (operators/textsearch.
    prf_bm25_topk, RM3-lite): BM25 → mine the top feedback docs' most
    frequent new terms → re-run BM25 with the expanded queries.  Term
    mining tokenizes only the |queries|·feedback_k matched docs (tiny
    broadcast into the corpus scan); the mined term set is a collected
    query-bounded artifact so stage 2 keeps the isin-below-aggregation
    plan (the r8 n5 lesson).  Whole two-stage pipeline restated in ONE
    SQL statement by the oracle."""
    from ago_sisdb_spark.operators import textsearch

    docs = _t(spark, sf_dir, "documents")
    return textsearch.prf_bm25_topk(
        docs, "doc_id", "text", _BM25_QUERIES,
        k=10, feedback_k=5, expand_terms=3,
    )


@query(
    "t31_vocab_drift",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, t.tok FROM (
            SELECT doc_id, lang,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents) t
        WHERE t.tok != ''),
    vocab AS (
        SELECT DISTINCT lang, tok FROM toks WHERE doc_id % 3 != 0),
    batch AS (SELECT lang, tok FROM toks WHERE doc_id % 3 = 0),
    j AS (
        SELECT batch.lang,
               CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END AS oov
        FROM batch LEFT JOIN vocab
          ON vocab.lang = batch.lang AND vocab.tok = batch.tok)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST((1000000 * sum(oov)) // count(*) AS BIGINT) AS oov_e6
    FROM j GROUP BY lang
    """,
    extended=True,
)
def t31_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot vocabulary drift: the new batch's out-of-vocabulary
    token rate per language against the history snapshot's vocabulary —
    the cheap distribution-shift alarm an incremental ingest pipeline
    watches before retraining tokenizers or LID models (companion to the
    d8/d12/pipe8 incremental family; history = doc_id%3!=0, batch = the
    rest, same split convention as pipe3).  One token pass feeds both
    sides; the membership check is a vocabulary-keyed (lang, tok) join —
    vocab-scale shuffle, never document bodies; OOV rate in exact
    fixed-point millionths."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = toks.where(F.col("doc_id") % 3 != 0).select("lang", "tok").distinct()
    batch = toks.where(F.col("doc_id") % 3 == 0).select("lang", "tok")
    j = batch.join(
        vocab.withColumn("__in", F.lit(1)), ["lang", "tok"], "left"
    ).select("lang", F.when(F.col("__in").isNull(), 1).otherwise(0).alias("oov"))
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.expr("(1000000 * sum(oov)) div count(*)").alias("oov_e6"),
    )


@query(
    "s9_leakage_safe_split",
    oracle=f"""
    WITH comp AS ({_PIPE2_ORACLE}),
    lab AS (
        SELECT d.doc_id,
               CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
    SELECT doc_id, component,
           CASE WHEN component % 10 < 8 THEN 'train'
                WHEN component % 10 = 8 THEN 'val' ELSE 'test' END AS split
    FROM lab
    """,
    extended=True,
)
def s9_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate GROUPS land on
    one side (split keyed by the connected COMPONENT, not the doc — the
    standard guard against eval contamination by near-dups of training
    docs; splitting s1-style by doc id leaks).  Composes pipe2's
    components (doc_id<60 pair slice, same convention); docs outside any
    pair are their own singleton component.  The component table is
    pair-bounded and broadcasts onto the corpus id scan — no
    corpus-scale shuffle; the split itself is the deterministic modulo
    gate (no RNG state, reproducible)."""
    docs = _t(spark, sf_dir, "documents")
    docs60 = docs.where(F.col("doc_id") < 60)
    pairs = dedup.ngram_jaccard_pairs(docs60, "doc_id", "text", n=2, threshold=0.08)
    comp = dedup.connected_components(pairs)
    lab = (
        docs.select("doc_id")
        .join(F.broadcast(comp), F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("component"),
        )
    )
    split = (
        F.when(F.col("component") % 10 < 8, "train")
        .when(F.col("component") % 10 == 8, "val")
        .otherwise("test")
    )
    return lab.select("doc_id", "component", split.alias("split"))


def _t32_oracle() -> str:
    return f"""
    WITH scored AS ({_t18_oracle()}),
    lab AS (
        SELECT s.score_e6, (d.lang = 'en') AS pos,
               CAST(1 AS DOUBLE)
                 / (CAST(1 AS DOUBLE) + exp(-(CAST(s.score_e6 AS DOUBLE)
                     / CAST(1000000 AS DOUBLE)))) AS p
        FROM ({_t18_oracle()}) s JOIN documents d ON s.doc_id = d.doc_id),
    binned AS (
        SELECT CAST(least(greatest((score_e6 + 1000000) // 200000, 0), 9)
                   AS BIGINT) AS bin,
               pos, p
        FROM lab)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS acc,
           round(avg(p), 6) AS conf
    FROM binned GROUP BY bin
    """


@query("t32_calibration_bins", oracle=_t32_oracle(), extended=True)
def t32_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration / reliability table (the ECE companion to
    t27's AUC): bucket the t18 hash-classifier score into 10 EXACT
    integer fixed-point bins over its [-1, 1] codomain, and report each
    bin's observed positive rate (one exact division) beside its mean
    sigmoid confidence (round-6 like the BM25 family — the binning
    itself never touches a float, so no boundary can flip a row's
    bucket cross-engine).  Per-bin rows, not a summed ECE scalar: the
    cross-bin weighted sum is one driver-side fold away and a 10-term
    float reduction has no stable cross-engine order."""
    docs = _t(spark, sf_dir, "documents")
    scored = text.hashed_linear_score(docs, "doc_id", "text")
    lab = scored.join(
        docs.select("doc_id", (F.col("lang") == F.lit("en")).alias("pos")),
        "doc_id",
    ).select(
        "score_e6", "pos",
        (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("score_e6").cast("double") / F.lit(1000000.0))))
        ).alias("p"),
    )
    binned = lab.select(
        F.least(
            F.greatest(F.expr("(score_e6 + 1000000) div 200000"), F.lit(0)),
            F.lit(9),
        ).cast("long").alias("bin"),
        "pos", "p",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("n_pos"),
        (
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("acc"),
        F.round(F.avg("p"), 6).alias("conf"),
    )


@query(
    "t33_ngram_novelty",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id AS doc, unnest(list_distinct(
            list_transform(range(1, len(ws) - 3),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS shingle
        FROM w WHERE len(ws) >= 5),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    per AS (
        SELECT doc, count(*) AS n_grams,
               sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
        FROM sh JOIN dfreq USING (shingle) GROUP BY doc)
    SELECT doc AS doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_unique AS BIGINT) AS n_unique,
           CAST((1000000 * n_unique) // n_grams AS BIGINT) AS novelty_e6
    FROM per
    """,
    extended=True,
)
def t33_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization-risk audit of Lee
    et al.'s dedup paper, per doc instead of per span: the fraction of a
    doc's DISTINCT word 5-grams that occur in no other document.  Docs
    scoring low are restatements of corpus boilerplate (memorization
    amplifiers); the per-doc score drives doc-level downweighting where
    d10's span report drives surgical removal.  One shingle pass
    (dedup.shingle_rows, min_words fused into the pass), gram-keyed
    df count window; exact fixed-point millionths.  Shuffle contents
    (r13 verdict #3): the first exchange is shingle_rows' one-time
    parallelism spread of COMPACT (doc_id, text) rows — one row per doc,
    a no-op at cluster scale where input splits already spread — and
    every later exchange carries grams/narrow rows, never text.  Skew
    note (r13 ADVICE): the unbounded count window puts every (doc, gram)
    row of a high-df boilerplate gram into one window-partition task
    with no map-side partial combine (the old groupBy df had partial
    aggregation but cost the join-back/broadcast this shape removed);
    rows are narrow, so an extreme-df gram is a tail-latency tradeoff,
    not a correctness issue — if a mega-df gram ever dominates, cap or
    salt-and-recombine the df computation above a df threshold."""
    docs = _t(spark, sf_dir, "documents")
    # df via an UNBOUNDED count window on the gram key, not the old
    # groupBy(shingle)+join-back (the r12 e12 lesson): the join-back shape
    # replayed the explode+distinct lineage once per consumer, and AQE
    # broadcast the corpus-gram dfreq table — a per-execution
    # HashedRelation build over every distinct gram, which is both a
    # scale hazard (gram count grows with the corpus) and the source of
    # t33's warm-JVM in-sequence stalls.  One explicit gram-keyed
    # repartition now carries the (doc, shingle) distinct, the df
    # window, and their shared sort — one gram exchange total.
    from pyspark.sql import Window

    sh = (
        dedup.shingle_rows(docs, "doc_id", "text", k=5, min_words=5)
        .repartition("shingle")
        .dropDuplicates(["doc", "shingle"])
    )
    per = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    return per.select(
        F.col("doc").alias("doc_id"), "n_grams", "n_unique",
        F.expr("(1000000 * n_unique) div n_grams").alias("novelty_e6"),
    )


def _t34_oracle() -> str:
    end = '[.!?"]$'
    return rf"""
    WITH ls AS (
        SELECT doc_id,
               list_filter(list_transform(string_split(text, chr(10)),
                           l -> trim(l)), l -> l != '') AS ls
        FROM documents),
    c AS (
        SELECT doc_id,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(list_filter(ls, l -> regexp_matches(l, '{end}')))
                   AS BIGINT) AS n_end_punct,
               CAST(len(list_filter(ls,
                   l -> len(string_split_regex(l, '\s+')) < 5))
                   AS BIGINT) AS n_short,
               CAST(len(list_filter(ls, l -> contains(lower(l), 'javascript')))
                   AS BIGINT) AS n_js_lines,
               CAST(len(list_filter(ls, l -> regexp_matches(l, '{end}')
                   AND len(string_split_regex(l, '\s+')) >= 5))
                   AS BIGINT) AS n_kept_lines,
               contains(lower(coalesce(array_to_string(ls, chr(10)), '')),
                   'lorem ipsum') AS has_lorem,
               contains(coalesce(array_to_string(ls, chr(10)), ''), '{{')
                   AS has_brace
        FROM ls)
    SELECT doc_id, n_lines, n_end_punct, n_short, n_js_lines, n_kept_lines,
           (1000000 * n_kept_lines) // nullif(n_lines, 0) AS kept_e6,
           has_lorem, has_brace,
           (n_kept_lines >= 3 AND NOT has_lorem AND NOT has_brace) AS c4_keep
    FROM c
    """


@query("t34_c4_line_filters", oracle=_t34_oracle(), extended=True)
def t34_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level page filters (operators/text.c4_line_stats,
    Raffel et al. 2020 §2.2 + the FineWeb reimplementation): per page,
    the line counts behind C4's keep/drop — lines ending in terminal
    punctuation, short lines (< 5 words), 'javascript' lines, surviving
    lines — plus the lorem-ipsum / brace page flags and the composite
    page verdict.  One expression-only corpus scan; the line array is
    materialized once (interpreted-HOF lesson); all counts exact
    integers, the ratio fixed-point millionths.  The DuckDB twin
    restates every lambda; array_to_string([]) is coalesced (the r7 d13
    empty-list trap)."""
    docs = _t(spark, sf_dir, "documents")
    return text.c4_line_stats(docs, "doc_id", "text")


def _t35_oracle() -> str:
    names = list(text.SCRIPT_RANGES)
    counts = ",\n               ".join(
        f"CAST(length(regexp_replace(text, '[^{text.SCRIPT_RANGES_RE2[n]}]',"
        f" '', 'g')) AS BIGINT) AS n_{n}"
        for n in names
    )
    total = " + ".join(f"n_{n}" for n in names)
    m = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    dom = "\n                ".join(
        f"WHEN n_{n} = {m} THEN '{n}'" for n in names
    )
    ten = " + ".join(
        f"(CASE WHEN n_{n} > 0 AND 10 * n_{n} >= n_letters THEN 1 ELSE 0 END)"
        for n in names
    )
    cols = ", ".join(f"n_{n}" for n in names)
    return f"""
    WITH c AS (
        SELECT doc_id,
               {counts}
        FROM documents),
    t AS (SELECT *, CAST({total} AS BIGINT) AS n_letters FROM c)
    SELECT doc_id, {cols}, n_letters,
           CASE WHEN n_letters = 0 THEN 'none'
                {dom}
           END AS dominant,
           (1000000 * {m}) // nullif(n_letters, 0) AS dominant_e6,
           ({ten}) >= 2 AS mixed
    FROM t
    """


@query("t35_script_profile", oracle=_t35_oracle(), extended=True)
def t35_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script profile (operators/text.script_profile):
    per-script letter counts over explicit BMP codepoint ranges, dominant
    script with a pinned priority-order tie-break, fixed-point dominant
    share, and the mixed-script flag (>= 2 scripts at >= 10% — integer
    test, no float).  Expression-only corpus scan; the oracle spells the
    SAME ranges in RE2 syntax (SCRIPT_RANGES_RE2) so both engines count
    identical codepoint sets."""
    docs = _t(spark, sf_dir, "documents")
    return text.script_profile(docs, "doc_id", "text")


def _e9_oracle(threshold_e6: int = 900_000, modulo: int = 19) -> str:
    return f"""
    WITH ev AS (
        SELECT vec_id AS eid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS evec
        FROM embeddings WHERE vec_id % {modulo} = 0),
    tr AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % {modulo} != 0),
    scored AS (
        SELECT tr.vec_id, ev.eid,
               CAST(floor(list_cosine_similarity(tr.v, ev.evec) * 1000000)
                   AS BIGINT) AS cos_e6
        FROM tr, ev),
    ranked AS (
        SELECT vec_id, eid, cos_e6,
               row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos_e6 DESC, eid) AS rn,
               max(cos_e6) OVER (PARTITION BY vec_id) AS max_cos_e6
        FROM scored)
    SELECT vec_id, eid AS matched_eval_id, max_cos_e6,
           max_cos_e6 >= {threshold_e6} AS contaminated
    FROM ranked WHERE rn = 1
    """


@query("e9_semantic_decontam", oracle=_e9_oracle(), extended=True)
def e9_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators/embed.
    semantic_decontaminate): max cosine of every training vector against
    a broadcast eval set (vec_id % 19 = 0 plays the benchmark), the
    arg-max eval id (tie -> lowest id), and the contamination flag at
    0.9 — the semantic companion to pipe3's n-gram decontamination
    (paraphrase leakage has no shared 13-gram).  The comparison score is
    EXACT fixed-point floor-millionths so the flag never sits on a float
    boundary; eval side broadcasts, corpus never shuffles."""
    from ago_sisdb_spark.operators import embed as embed_ops

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 19 == 0)
    tr = emb.where(F.col("vec_id") % 19 != 0)
    return embed_ops.semantic_decontaminate(
        tr, ev, "vec_id", "embedding", "vec_id", threshold_e6=900_000
    )


def _e10_oracle(k: int = 4, threshold_e6: int = 1_050_000,
                modulo: int = 9) -> str:
    return f"""
    WITH sx AS (
        SELECT vec_id AS src_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv
        FROM embeddings WHERE vec_id % {modulo} = 0),
    ty AS (
        SELECT vec_id AS tgt_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS tv
        FROM embeddings WHERE vec_id % {modulo} != 0),
    scored AS (
        SELECT src_id, tgt_id,
               CAST(floor(list_cosine_similarity(sv, tv) * 1000000)
                   AS BIGINT) AS cos_e6
        FROM sx, ty),
    fwd AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY src_id
                       ORDER BY cos_e6 DESC, tgt_id) AS BIGINT) AS rank
        FROM scored QUALIFY rank <= {k}),
    sumx AS (
        SELECT src_id, CAST(sum(cos_e6) AS BIGINT) AS sum_x_e6,
               count(*) AS n_x
        FROM fwd GROUP BY src_id),
    back AS (
        SELECT tgt_id, cos_e6,
               row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cos_e6 DESC, src_id) AS rb
        FROM scored
        WHERE tgt_id IN (SELECT DISTINCT tgt_id FROM fwd)
        QUALIFY rb <= {k}),
    sumy AS (
        SELECT tgt_id, CAST(sum(cos_e6) AS BIGINT) AS sum_y_e6,
               count(*) AS n_y
        FROM back GROUP BY tgt_id),
    pairs AS (
        SELECT f.src_id, f.tgt_id, f.rank, f.cos_e6,
               x.sum_x_e6, y.sum_y_e6,
               CASE WHEN f.cos_e6 >= 0
                         AND x.sum_x_e6 + y.sum_y_e6 > 0
                    THEN (f.cos_e6 * (x.n_x + y.n_y) * 1000000)
                         // (x.sum_x_e6 + y.sum_y_e6)
                    ELSE NULL END AS margin_e6
        FROM fwd f JOIN sumx x USING (src_id) JOIN sumy y USING (tgt_id))
    SELECT src_id, tgt_id, rank, cos_e6, sum_x_e6, sum_y_e6, margin_e6,
           row_number() OVER (PARTITION BY src_id
               ORDER BY margin_e6 DESC NULLS LAST, tgt_id) = 1
           AND coalesce(margin_e6 >= {threshold_e6}, false) AS mined
    FROM pairs
    """


def _e11_oracle(n_clusters: int = 8, target_frac_e6: int = 500_000) -> str:
    ph = dedup.PORTABLE_HASH_SQL.format(
        col="'mix:' || CAST(a.vec_id AS VARCHAR)"
    )
    return f"""
    WITH cent AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings ORDER BY vec_id LIMIT {n_clusters}),
    v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings),
    asg AS (
        SELECT vec_id, cid AS cluster,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(vv, cv) DESC, cid) AS rn
        FROM v, cent QUALIFY rn = 1),
    cnt AS (SELECT cluster, count(*) AS n_docs FROM asg GROUP BY cluster),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cnt),
    w AS (SELECT cluster, n_docs, n_total,
                 CAST(floor(1000000.0 * sqrt(n_docs / n_total)) AS BIGINT)
                     AS weight
          FROM cnt, tot),
    wt AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM w),
    r2 AS (SELECT cluster, n_docs, weight,
                  (1000000 * weight) // w_total AS share_e6,
                  (((n_total * {target_frac_e6}) // 1000000) * weight)
                      // w_total AS quota,
                  least(CAST(1000000 AS BIGINT),
                        (1000000 * ((((n_total * {target_frac_e6})
                            // 1000000) * weight) // w_total)) // n_docs)
                      AS rate_e6
           FROM w, wt),
    kept AS (SELECT a.cluster, count(*) AS n_kept
             FROM asg a JOIN r2 ON a.cluster = r2.cluster
             WHERE {ph} % 1000000 < r2.rate_e6
             GROUP BY a.cluster)
    SELECT CAST(r2.cluster AS BIGINT) AS cluster,
           CAST(r2.n_docs AS BIGINT) AS n_docs, r2.weight, r2.share_e6,
           r2.quota, r2.rate_e6,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM r2 LEFT JOIN kept k USING (cluster)
    """


@query("e11_cluster_balance", oracle=_e11_oracle(), extended=True)
def e11_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diversity rebalancing (operators/embed.
    cluster_balanced_mix — the SemDeDup/DataComp cluster-sampling family):
    shuffle-free nearest-seed-centroid assignment (8 lowest-id vectors,
    literal-expression projection), alpha = 0.5 temperature quotas over
    the cluster masses (integer-exact, the pipe12 machinery), and the
    deterministic portable-hash gate; one audit row per cluster with the
    achieved kept count."""
    from ago_sisdb_spark.operators import embed as embed_ops

    emb = _t(spark, sf_dir, "embeddings")
    return embed_ops.cluster_balanced_mix(
        emb, "vec_id", "embedding", n_clusters=8, target_frac_e6=500_000
    )


def _e12_oracle(k: int = 4, threshold_e6: int = 1_050_000,
                bands: int = 4, band_bits: int = 8,
                max_bucket_size: int = 1000) -> str:
    def keyexpr(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN vv[{b * band_bits + 1 + j}] > 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j in range(band_bits)
        )

    def bandrows(where: str) -> str:
        parts = " UNION ALL ".join(
            f"SELECT vec_id, vv, {b} AS band,"
            f" CAST({keyexpr(b)} AS BIGINT) AS key FROM base_{where}"
            for b in range(bands)
        )
        return parts

    return f"""
    WITH base_s AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings WHERE vec_id % 2 = 0),
    base_t AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings WHERE vec_id % 2 = 1),
    sb AS (SELECT * FROM ({bandrows('s')})
           QUALIFY count(*) OVER (PARTITION BY band, key)
                   <= {max_bucket_size}),
    tb AS (SELECT * FROM ({bandrows('t')})
           QUALIFY count(*) OVER (PARTITION BY band, key)
                   <= {max_bucket_size}),
    cand AS (
        SELECT sb.vec_id AS src_id, tb.vec_id AS tgt_id,
               CAST(sb.band AS BIGINT) AS band, sb.vv AS sv, tb.vv AS tv
        FROM sb JOIN tb ON sb.band = tb.band AND sb.key = tb.key
        QUALIFY CAST(sb.band AS BIGINT)
                = min(CAST(sb.band AS BIGINT))
                  OVER (PARTITION BY sb.vec_id, tb.vec_id)),
    scored AS (
        SELECT src_id, tgt_id, band,
               CAST(floor(list_cosine_similarity(sv, tv) * 1000000)
                   AS BIGINT) AS cos_e6
        FROM cand),
    ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY src_id
                       ORDER BY cos_e6 DESC, tgt_id) AS BIGINT) AS rank,
               row_number() OVER (PARTITION BY tgt_id
                   ORDER BY cos_e6 DESC, src_id) AS rb
        FROM scored),
    sumx AS (
        SELECT src_id, CAST(sum(cos_e6) AS BIGINT) AS sum_x_e6,
               count(*) AS n_x
        FROM ranked WHERE rank <= {k} GROUP BY src_id),
    sumy AS (
        SELECT tgt_id, CAST(sum(cos_e6) AS BIGINT) AS sum_y_e6,
               count(*) AS n_y
        FROM ranked WHERE rb <= {k} GROUP BY tgt_id),
    pairs AS (
        SELECT r.src_id, r.tgt_id, r.band, r.rank, r.cos_e6,
               x.sum_x_e6, y.sum_y_e6,
               CASE WHEN r.cos_e6 >= 0
                         AND x.sum_x_e6 + y.sum_y_e6 > 0
                    THEN (r.cos_e6 * (x.n_x + y.n_y) * 1000000)
                         // (x.sum_x_e6 + y.sum_y_e6)
                    ELSE NULL END AS margin_e6
        FROM ranked r JOIN sumx x USING (src_id) JOIN sumy y USING (tgt_id)
        WHERE r.rank <= {k})
    SELECT src_id, tgt_id, band, rank, cos_e6, sum_x_e6, sum_y_e6,
           margin_e6,
           row_number() OVER (PARTITION BY src_id
               ORDER BY margin_e6 DESC NULLS LAST, tgt_id) = 1
           AND coalesce(margin_e6 >= {threshold_e6}, false) AS mined
    FROM pairs
    """


@query("e12_bitext_bucketed", oracle=_e12_oracle(), extended=True)
def e12_bitext_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYMMETRIC bucketed bitext mining (operators/embed.
    bitext_margin_mine_bucketed): even/odd vec_id halves play the two
    large sides — neither broadcasts; candidates come from the 4×8-bit
    sign-sketch band equi-join (lowest shared band dedup), margins from
    candidate-local top-4 neighborhoods in the exact-integer e6 tree.
    The oracle restates the ENTIRE plan — sign bits, band keys, bucket
    join, dedup, margins, mined flags, AND the per-side 1000-member
    bucket occupancy cap (r12) — so the approximation itself is
    hash-certified on real data."""
    from ago_sisdb_spark.operators import embed as embed_ops

    emb = _t(spark, sf_dir, "embeddings")
    return embed_ops.bitext_margin_mine_bucketed(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        "vec_id", "embedding", k=4, threshold_e6=1_050_000,
        bands=4, band_bits=8,
    )


@query("e10_bitext_mining", oracle=_e10_oracle(), extended=True)
def e10_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (operators/embed.
    bitext_margin_mine — the Artetxe & Schwenk 2019 CCMatrix/LASER
    recipe): per bounded-side vector (vec_id % 9 = 0 plays one language's
    shard), its forward top-4 cosine candidates in the rest of the
    corpus, each scored by cosine RELATIVE to the two sides' kNN
    neighborhood averages; the per-source best-margin candidate above
    1.05 is ``mined``.  Whole score exact integer e6 fixed point
    (integer sums, guarded truncating division), so the driver hash
    checks the REAL operator on real data — no plant needed."""
    from ago_sisdb_spark.operators import embed as embed_ops

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.where(F.col("vec_id") % 9 == 0)
    tgt = emb.where(F.col("vec_id") % 9 != 0)
    return embed_ops.bitext_margin_mine(
        src, tgt, "vec_id", "embedding", k=4, threshold_e6=1_050_000
    )


# Planted URL suffix for the t36/t37 gates (the t28 planted-suffix trick):
# the synthetic corpus contains NO URLs, so both entries append two
# deterministic doc_id-derived URLs to every doc — identically in Spark and
# in the oracle — exercising host lowercasing (parity-cased HOST/host),
# fragment and tracking-param stripping, trailing-slash removal, AND a
# non-trivial source→host graph.  Mods (5, 11, 3) make canonical classes
# collide within 500 docs so n_raw_variants > 1 occurs at every SF.
_T36_PLANT_SQL = (
    "text || ' https://' || (CASE WHEN doc_id % 2 = 0 THEN 'HOST' ELSE 'host' END)"
    " || CAST(doc_id % 5 AS VARCHAR) || '.Example.com/p/'"
    " || CAST(doc_id % 11 AS VARCHAR) || '?utm_source=tr&x='"
    " || CAST(doc_id % 3 AS VARCHAR) || '#f http://news'"
    " || CAST((doc_id + 3) % 7 AS VARCHAR) || '.example.com/q/'"
    " || CAST(doc_id % 5 AS VARCHAR) || '/'"
)


def _t36_planted_docs(docs):
    did = F.col("doc_id")
    case_host = F.when(did % 2 == 0, "HOST").otherwise("host")
    url1 = F.concat(
        F.lit("https://"), case_host, (did % 5).cast("string"),
        F.lit(".Example.com/p/"), (did % 11).cast("string"),
        F.lit("?utm_source=tr&x="), (did % 3).cast("string"), F.lit("#f"),
    )
    url2 = F.concat(
        F.lit("http://news"), ((did + 3) % 7).cast("string"),
        F.lit(".example.com/q/"), (did % 5).cast("string"), F.lit("/"),
    )
    return docs.select(
        "doc_id",
        "source",
        F.concat(F.col("text"), F.lit(" "), url1, F.lit(" "), url2).alias(
            "text"
        ),
    )


def _t36_oracle() -> str:
    from ago_sisdb_spark.operators.text import TRACKING_PARAMS, URL_PATTERN

    # the same fixed regexp tree as text.url_canonicalize, RE2 dialect
    # (replacement backreference is \1 in DuckDB vs $1 in Java)
    canon = r"""
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(
                lower(regexp_extract(u1, '^(https?://[^/?]+)', 1))
                    || regexp_extract(u1, '^https?://[^/?]+(.*)$', 1),
                '([?&])({TP})=[^&#]*', '\1', 'g'),
            '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g'),
            '/$', '', 'g')
    """.replace("{TP}", TRACKING_PARAMS)
    return f"""
    WITH planted AS (
        SELECT doc_id, {_T36_PLANT_SQL} AS text FROM documents),
    raw AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '{URL_PATTERN}', 0)) AS url
        FROM planted),
    defrag AS (
        SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u1 FROM raw),
    canon AS (
        SELECT doc_id, url, {canon} AS curl FROM defrag)
    SELECT curl,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM canon GROUP BY curl
    """


@query("t36_url_canonical", oracle=_t36_oracle(), extended=True)
def t36_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization audit (operators/text.url_canonicalize): every
    URL in the corpus reduced to its canonical key (fragment dropped,
    host lowercased, tracking params stripped, separators collapsed),
    with occurrence / raw-variant / doc counts per key — the URL-level
    dedup and blocklist join key of web-corpus prep (CCNet/RefinedWeb
    prelude).  One explode + one canonical-key aggregate; shuffles carry
    URLs, never document text.  The oracle replays the identical regexp
    tree in RE2 dialect (backreference \\1 vs $1 is the only delta)."""
    from ago_sisdb_spark.operators.text import URL_PATTERN, url_canonicalize

    docs = _t36_planted_docs(_t(spark, sf_dir, "documents"))
    raw = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(URL_PATTERN), 0)
        ).alias("url"),
    )
    canon = raw.select(
        "doc_id", "url", url_canonicalize(F.col("url")).alias("curl")
    )
    return canon.groupBy("curl").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("url").cast("long").alias("n_raw_variants"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


def _t37_edges_sql() -> str:
    from ago_sisdb_spark.operators.text import URL_PATTERN

    return f"""
        SELECT src, lower(h) AS dst, 1 AS w
        FROM (SELECT source AS src,
                     unnest(regexp_extract_all({_T36_PLANT_SQL}, '{URL_PATTERN}', 1)) AS h
              FROM documents)
    """


def _t37_oracle() -> str:
    from ago_sisdb_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_t37_edges_sql(), iters=3)


@query("t37_host_rank", oracle=_t37_oracle(), extended=True)
def t37_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-authority PageRank (operators/graph.pagerank_e12): the
    source→linked-host graph aggregated in ONE corpus pass, then 3
    damped rounds over the host-sized tables in EXACT e12 fixed-point —
    integer contributions and integer sums, so the ranking is
    order-independent and the DuckDB twin (the same rounds unrolled as
    CTEs) is bit-identical, not approximately equal.  The host-level
    quality signal behind Common-Crawl-style domain weighting that the
    per-URL blocklist (t14) can't express."""
    from ago_sisdb_spark.operators import graph
    from ago_sisdb_spark.operators.text import URL_PATTERN

    docs = _t36_planted_docs(_t(spark, sf_dir, "documents"))
    edges = docs.select(
        F.col("source").alias("src"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(URL_PATTERN), 1)
        ).alias("h"),
    ).select("src", F.lower(F.col("h")).alias("dst"))
    return graph.pagerank_e12(edges, "src", "dst", iters=3)


def _t39_oracle() -> str:
    from ago_sisdb_spark.operators.graph import hits_oracle_sql

    return hits_oracle_sql(_t37_edges_sql(), iters=3)


@query("t39_hits", oracle=_t39_oracle(), extended=True)
def t39_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the source→host graph
    (operators/graph.hits_e6, NEW r12 — Kleinberg 1999): separates
    DIRECTORY sources (hubs: link to many good hosts) from CONTENT hosts
    (authorities: linked by many good sources) in 3 exact e6 fixed-point
    rounds with integer L∞ normalization — the same bit-identical-twin
    recipe as t37's PageRank, certifying the complementary link-analysis
    axis a crawl-frontier weighting pass wants.  Same planted URL corpus
    as t36/t37 (the real corpus has no URLs)."""
    from ago_sisdb_spark.operators import graph
    from ago_sisdb_spark.operators.text import URL_PATTERN

    docs = _t36_planted_docs(_t(spark, sf_dir, "documents"))
    edges = docs.select(
        F.col("source").alias("src"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(URL_PATTERN), 1)
        ).alias("h"),
    ).select("src", F.lower(F.col("h")).alias("dst"))
    return graph.hits_e6(edges, "src", "dst", iters=3)


def _s10_oracle(bits: int = 8, bucket_shift: int = 10) -> str:
    inter = " + ".join(
        f"(((qx >> {i}) & 1) << {2 * i}) + (((qy >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    top = (1 << bits) - 1
    return f"""
    WITH base AS (
        SELECT CAST(o_custkey AS BIGINT) AS x,
               CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS y
        FROM orders),
    mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
                  min(y) AS ymin, max(y) AS ymax FROM base),
    q AS (SELECT x, y,
                 coalesce(((x - xmin) * {top}) // nullif(xmax - xmin, 0), 0) AS qx,
                 coalesce(((y - ymin) * {top}) // nullif(ymax - ymin, 0), 0) AS qy
          FROM base, mm),
    z AS (SELECT x, y, ({inter}) AS zz FROM q)
    SELECT CAST(zz >> {bucket_shift} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
           CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
    FROM z GROUP BY 1
    """


@query("s10_zorder_layout", oracle=_s10_oracle(), extended=True)
def s10_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout audit (operators/prep.
    zorder_stats — the Delta/Iceberg OPTIMIZE ZORDER trick): orders
    quantized on (o_custkey, order day) to 8 bits each, bit-interleaved,
    grouped into the 64-bucket layout a ZORDER rewrite would cut, with
    per-bucket min/max of BOTH raw columns — the stats a reader's file
    pruning consults, tight on both dimensions where a single-column
    sort is tight on one.  Exact integer quantization (mod-identity
    floor-div, no float boundary) and a fixed shift/and expression tree,
    restated verbatim by the oracle."""
    from ago_sisdb_spark.operators import prep

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .alias("y"),
    )
    return prep.zorder_stats(base, "x", "y", bits=8, bucket_shift=10)


@query(
    "t38_char_entropy",
    oracle=r"""
    WITH chars AS (
        SELECT doc_id AS doc, c.ch
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents) c
        WHERE c.ch != ''),
    per AS (
        SELECT doc, ch, count(*) AS c FROM chars GROUP BY doc, ch),
    tot AS (
        SELECT per.*, sum(c) OVER (PARTITION BY doc) AS n FROM per)
    SELECT doc AS doc_id,
           CAST(max(n) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(sum(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS entropy
    FROM tot GROUP BY doc
    """,
    extended=True,
)
def t38_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    (operators/text.char_entropy) — the gibberish / compression-quality
    signal beside the Gopher symbol ratios: natural prose ~2.8-3.2 nats,
    base64/key-mash higher, padding near zero.  One (doc, char) count
    aggregate; the per-doc total rides a window on the same partitioning.
    Char splitting is BMP-safe on both engines (Spark lookahead split vs
    DuckDB string_split('') — code-unit vs codepoint only diverges on
    surrogate pairs, absent from the corpus and the t28 plants)."""
    docs = _t(spark, sf_dir, "documents")
    return text.char_entropy(docs, "doc_id", "text")

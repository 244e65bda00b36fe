"""Text analysis operators for training-data pipelines (SURVEY §2.11):
language-ID (stopword-hit heuristic), quality scoring, token counting,
document fingerprinting.  All pure column expressions — one corpus scan,
no shuffle, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ago_sisdb_spark.materialize import materialize, spread

EN_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by from",
)
_STOP_LIST = EN_STOPWORDS[0].split()

# BPE-ish token estimate: words + digit runs + punctuation marks each count.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, punctuation marks."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def stopword_ratio(text: Column) -> Column:
    toks = F.transform(tokens(F.lower(text)), lambda t: t)
    hits = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in _STOP_LIST])))
    distinct_n = F.size(F.array_distinct(toks))
    return hits / F.nullif(distinct_n.cast("double"), F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\.,;:!\?]", "")
    return F.length(stripped) / F.nullif(F.length(text).cast("double"), F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return total / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


# The composite rule's thresholds — shared with the classifier's weak-label
# derivation (classifier.train_quality_classifier) so tuning the rule can
# never silently desynchronize the training labels.
QUALITY_MIN_CHARS = 50
QUALITY_WORDLEN_RANGE = (2.0, 12.0)
QUALITY_MIN_STOPRATIO = 0.05
QUALITY_MAX_PUNCTRATIO = 0.2


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, sane word length,
    some stopwords, not punctuation-soup (C4/Gopher-rule flavored)."""
    len_ok = (F.length(text) >= QUALITY_MIN_CHARS).cast("double")
    wl = mean_word_len(text)
    wl_lo, wl_hi = QUALITY_WORDLEN_RANGE
    wl_ok = ((wl >= wl_lo) & (wl <= wl_hi)).cast("double")
    sw_ok = (stopword_ratio(text) >= QUALITY_MIN_STOPRATIO).cast("double")
    punct_ok = (punct_ratio(text) <= QUALITY_MAX_PUNCTRATIO).cast("double")
    return (len_ok + wl_ok + sw_ok + punct_ok) / 4.0


def lang_id_en(text: Column, threshold: float = 0.10) -> Column:
    """Heuristic language-ID: 'en' when the distinct-stopword hit ratio
    clears threshold, else 'other'.  (n-gram profile models plug in the
    same way — per-language expression score, argmax.)"""
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(
        F.lit("other")
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: polynomial rolling hash over
    tokens, word → (len*131 + first-char-code), folded mod 2^31-1.

    Engine-portable (same arithmetic in any SQL dialect); used as the
    stable doc signature for incremental dedup bookkeeping.
    """
    word_code = lambda t: (  # noqa: E731
        F.length(t) * 131 + F.ascii(F.substring(t, 1, 1))
    ).cast("long")
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + word_code(t)) % F.lit(2147483647).cast("long"),
    )


def unigram_logprob(
    docs, id_col: str, text_col: str, min_count: int = 2,
    materialize_vocab: bool = True,
):
    """Corpus-statistics quality score: mean log10 unigram frequency of a
    doc's tokens under the corpus's own unigram distribution (the KenLM-ish
    stand-in — rare-token-heavy docs score low, natural prose scores high).

    Two-pass relational pipeline: (1) build the unigram table with one
    explode + groupBy, keeping tokens with ``tf >= min_count`` — a pure
    frequency cutoff, so the vocab never passes through a single-partition
    global top-k (r2 verdict #8; the old ``orderBy().limit(500k)`` shape
    materialized a TakeOrdered on one task); (2) score = explode +
    broadcast join on the token + per-doc average.  Out-of-vocabulary
    tokens take the floor probability (1 / corpus size).

    The default ``min_count=2`` is LOSSLESS: a dropped singleton has tf=1,
    which is exactly the OOV floor ``coalesce(tf, 1)`` — identical score,
    smaller table.  Broadcast bound: |vocab| ≤ total_tokens / min_count by
    pigeonhole (and far smaller in natural text, where singletons dominate
    the tail — Heaps' law); raise ``min_count`` to shrink it further at the
    cost of flooring rarer tokens.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    # ONE unfiltered count table (Heaps-bounded), materialized so vocab,
    # total and the scoring join don't each re-run the corpus explode
    # (the plan had 3 documents scans before; 2 true passes after —
    # found by audit_plans --dupscans, same trap as n5/t12)
    uni_all = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    if materialize_vocab:
        uni_all = materialize(uni_all)
    vocab = uni_all.where(F.col("tf") >= min_count)
    total = uni_all.agg(F.sum("tf").alias("n")).select("n")
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc",
            F.log10(F.coalesce(F.col("tf"), F.lit(1)) / F.col("n")).alias("lp"),
        )
    )
    return scored.groupBy("doc").agg(
        F.avg("lp").alias("mean_logprob"), F.count(F.lit(1)).alias("n_toks")
    )


# PII-ish patterns (training-data scrubbing): email, phone-like digit runs,
# IPv4.  RE2/Java-regex-portable subset — no backrefs, no lookarounds.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
}


def redact_pii(text: Column) -> Column:
    """Replace email/phone/IPv4-shaped spans with type tags."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name}>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts (pre-redaction audit columns)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(f"({pat})"), 1))
        for name, pat in PII_PATTERNS.items()
    }


# URL shape — RE2/Java/DuckDB-portable subset (no lookarounds); host is
# capture group 1 so domain extraction is one regexp_extract.
URL_PATTERN = r"https?://([A-Za-z0-9.-]+)[^\s]*"


def url_stats(text: Column) -> dict[str, Column]:
    """Per-document URL audit columns (the RefinedWeb-style URL filter
    inputs): total URL count and distinct host list.  Pure expressions —
    corpus-level domain frequencies are one explode + groupBy away."""
    hosts = F.regexp_extract_all(text, F.lit(URL_PATTERN), 1)
    return {
        "n_urls": F.size(hosts),
        "hosts": F.array_distinct(F.transform(hosts, F.lower)),
    }


def paragraph_dedup_stats(
    docs, id_col: str, text_col: str, sep: str = r"\.\s+"
) -> "DataFrame":
    """Intra-corpus paragraph-level dedup audit (the Gopher/RefinedWeb
    line-dedup signal): split each doc into paragraph units, hash each
    unit, keep the FIRST occurrence corpus-wide (min (doc, pos) per
    digest), and report per-doc kept/total counts + the dup ratio.

    Scale shape: explode → one shuffle keyed by the unit digest (never the
    unit text beyond the digest row) with the first-occurrence key
    attached by a min window — no join-back, one corpus pass.  The same
    digest-keyed layout serves actual removal (filter on keep) — this
    operator returns the audit aggregate per doc.
    """
    hashed = _paragraph_first_occurrence(docs, id_col, text_col, sep)
    marked = hashed.select(
        "doc", (F.col("__k") == F.col("__kmin")).cast("int").alias("keep")
    )
    return marked.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum("keep").alias("n_kept"),
        F.round(1.0 - F.sum("keep") / F.count(F.lit(1)), 6).alias("dup_ratio"),
    )


def _paragraph_first_occurrence(docs, id_col: str, text_col: str, sep: str):
    """Shared core of the t10 audit and the d14 rewrite: explode non-empty
    units, hash the trimmed unit, find the corpus-wide first occurrence.
    (doc, pos) packed into one long keeps the min-agg hash-mutable (the
    struct-ordering SortAggregate trap, see rollup.ohlcv); bounds: doc
    id < 2^43, < 2^20 paragraphs per doc.  Returns (hashed, first):
    hashed = (doc, pos, __k, digest, __p trimmed unit), first = the min
    __k per digest — ONE definition so audit and rewrite can never
    desynchronize.  Returns ONE frame: hashed rows with their digest's
    corpus-wide ``__kmin`` attached by a window (r8; the old
    (hashed, first) pair forced a join-back that executed the corpus
    explode twice)."""
    units = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).where(F.length(F.trim(F.col("para"))) > 0)
    hashed = units.select(
        "doc",
        "pos",
        (F.col("doc") * F.lit(1 << 20) + F.col("pos")).alias("__k"),
        F.md5(F.trim(F.col("para"))).alias("digest"),
        F.trim(F.col("para")).alias("__p"),
    )
    # min over a digest window, not groupBy + join-back: the aggregate
    # form made the corpus-scale unit frame a two-consumer subplan that
    # executed twice (r8, the stop-shingle-fix family)
    from pyspark.sql import Window

    return hashed.withColumn(
        "__kmin", F.min("__k").over(Window.partitionBy("digest"))
    )


def dedup_paragraphs(
    docs, id_col: str, text_col: str, sep: str = r"\.\s+", joiner: str = ". "
) -> "DataFrame":
    """The transform half of ``paragraph_dedup_stats`` (RefinedWeb line
    dedup REWRITES the documents, the audit only counts): keep each unit's
    FIRST corpus-wide occurrence (min packed (doc, pos) per digest, same
    key layout as the audit) and reassemble every doc from its kept units
    in original order.  Returns (id, clean_text, n_paras, n_kept) for
    EVERY input doc — a doc whose units were all first-seen elsewhere
    comes back as ''.

    Reassembly joins trimmed units with ``joiner`` (the split consumed the
    original separators, so the rewrite is canonical-form — documented,
    same as the reference's render normalizations).  Scale shape: the
    explode shuffles (digest, packed key) rows through the min window,
    then ONE per-doc aggregation computes totals, kept count, and the
    reassembly together (collect_list skips the NULLs the keep-filter
    leaves) — no join-back, no second corpus pass (r8)."""
    hashed = _paragraph_first_occurrence(docs, id_col, text_col, sep)
    is_first = F.col("__k") == F.col("__kmin")
    per_doc = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(is_first, F.lit(1))).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(is_first, F.struct("pos", "__p")))
                ),
                lambda x: x["__p"],
            ),
            joiner,
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_paras"), F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def bigram_logprob(
    docs, id_col: str, text_col: str, min_count: int = 2, backoff: float = 0.4,
    broadcast_lp: bool = True, materialize_vocab: bool = True,
):
    """Bigram language-model quality score with stupid backoff — the
    CCNet/KenLM-style perplexity filter one order up from
    ``unigram_logprob``: mean log10 P(w2|w1) per doc where

    - P(w2|w1) = c(w1 w2) / c(w1 ·)          if the bigram count passes
      ``min_count`` (c(w1 ·) = bigram occurrences with left word w1);
    - else ``backoff`` · P_uni(w2), with the same OOV floor
      (1 / corpus tokens) as the unigram scorer.

    Plan shape (r4 rewrite — the r3 form re-scanned the corpus ~5×, once
    per frequency table, and joined them against per-OCCURRENCE rows):

    - ONE tagged-union explode + groupBy gives BOTH count tables (r8:
      bigrams and tokens in a single exploded stream — the key itself is
      the tag, since a whitespace token can't contain a space and a
      bigram has exactly one);
    - left-context counts c(w1 ·) and the corpus total derive from that
      one materialized table — no further corpus passes;
    - the stupid-backoff log-prob is computed once per DISTINCT bigram
      (vocab-bounded joins), and only that (bg → lp) table is broadcast
      into the final per-occurrence explode → per-doc mean.

    Corpus passes: 2 (r4: ~5 → 3; r8: 3 → 2); the heavy joins run at
    vocabulary cardinality, not corpus cardinality.  At 100 TB the (bg → lp) table
    (Heaps-bounded, shrinkable via ``min_count``) outgrows broadcast —
    pass ``broadcast_lp=False`` to run the final per-occurrence join as a
    shuffle join on bg (result-identical; parity pinned in
    tests/test_functions.py); everything upstream already runs at vocab
    scale.
    """
    # materialize the split ONCE as a column: a lambda that references the
    # raw split() expression re-evaluates it per element under the
    # interpreted higher-order-function path (~16× slower end-to-end)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    wdf = docs.select(F.col(id_col).alias("doc"), words.alias("__w"))
    w, nw = F.col("__w"), F.size("__w")
    bg_arr = F.when(
        nw >= 2,
        F.zip_with(
            F.slice(w, 1, nw - 1),
            F.slice(w, 2, nw - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bgs = wdf.select("doc", F.explode(bg_arr).alias("bg"))

    # ONE corpus explode builds BOTH vocab tables (r8; was one pass each):
    # bigrams and tokens union into a single exploded stream, and the key
    # itself is the tag — whitespace-split tokens cannot contain a space,
    # a bigram contains exactly one — so the count table splits cleanly
    # after the (single) corpus→vocab shuffle.  Materialized once
    # (Heaps-bounded): bg_all, uni, left_counts and total all read blocks
    # (the r7 two-consumer trap, found by audit_plans --dupscans).
    all_counts = (
        wdf.select(F.explode(F.concat(bg_arr, w)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if materialize_vocab:
        all_counts = materialize(all_counts)
    bg_all = all_counts.where(F.col("t").contains(" ")).select(
        F.col("t").alias("bg"), "cnt"
    )
    uni = all_counts.where(~F.col("t").contains(" ")).select(
        F.col("t").alias("tok"), F.col("cnt").alias("tfu")
    )
    left_counts = (
        bg_all.select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"), "cnt"
        )
        .groupBy("w1")
        .agg(F.sum("cnt").alias("c1"))
    )
    total = uni.agg(F.sum("tfu").alias("n_total"))

    lp_table = (
        bg_all.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(left_counts), "w1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2")), "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bg",
            F.log10(
                F.when(
                    F.col("cnt") >= min_count, F.col("cnt") / F.col("c1")
                ).otherwise(
                    F.lit(backoff)
                    * F.coalesce(F.col("tfu"), F.lit(1))
                    / F.col("n_total")
                )
            ).alias("lp"),
        )
    )
    lp_side = F.broadcast(lp_table) if broadcast_lp else lp_table
    scored = bgs.join(lp_side, "bg")
    return scored.groupBy("doc").agg(
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def top_terms_per_group(
    docs,
    group_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 1,
):
    """Top-k most frequent whitespace terms per group (vocabulary report /
    boilerplate detector — the per-domain term audit step in corpus
    curation).

    Exact path: one explode → (group, term) count → per-group top-k via
    row_number.  The count partial-aggregates map-side, so the shuffle
    carries one row per distinct (group, term) — Heaps-bounded, not corpus
    bounded; the ranking window then runs at that same vocabulary scale.
    Ties break lexicographically for determinism.  At extreme group
    cardinality × vocabulary, swap the exact count for a per-partition
    Misra-Gries sketch merged per group (same output contract, bounded
    memory); the exact form IS the oracle twin.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    counts = (
        toks.groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    w = Window.partitionBy("grp").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("grp", "rank", "term", "n")
    )


def flag_blocked_hosts(text: Column, blocked: list[str]) -> Column:
    """True when any URL host in ``text`` equals a blocked domain or is a
    subdomain of one (suffix match) — the enforcement step of the
    RefinedWeb-style URL filter (``url_stats`` is the audit side).

    The blocklist rides the expression as a literal array: policy lists
    are small (thousands of entries still fine as a literal/broadcast);
    when a list outgrows that, explode hosts and semi-join a blocklist
    table instead — same verdict, join-shaped.
    """
    hosts = url_stats(text)["hosts"]
    blocked_arr = F.array(*[F.lit(b.lower()) for b in blocked])
    return F.exists(
        hosts,
        lambda h: F.exists(
            blocked_arr,
            lambda b: (h == b) | h.endswith(F.concat(F.lit("."), b)),
        ),
    )


def perplexity_buckets(
    docs,
    id_col: str,
    text_col: str,
    group_col: str,
    n_buckets: int = 3,
):
    """CCNet-style fluency bucketing (Wenzek et al., LREC 2020): score each
    document by its corpus LM log-probability, then split every group
    (language) into equal head/middle/tail tiers — head = most fluent.
    CCNet keeps head+middle and drops tail as the standard web-corpus
    quality gate.

    Returns (id, group, lp, bucket, tier) with bucket in 1..n_buckets and
    tier in head/middle/tail (n_buckets=3).  The LM score is the unigram
    ``mean_logprob`` rounded to 6 dp BEFORE ranking so the tier boundary is
    engine-reproducible (summation-order double noise cannot flip a tile).
    Cost at scale: the two logprob passes plus ONE group-keyed ntile window
    — rows enter the ranking shuffle as (id, group, lp) triples only.
    """
    from pyspark.sql import Window

    lp = unigram_logprob(docs, id_col, text_col).select(
        F.col("doc").alias("__id"), F.round("mean_logprob", 6).alias("lp")
    )
    slim = docs.select(F.col(id_col).alias("__id"), F.col(group_col))
    w = Window.partitionBy(group_col).orderBy(F.desc("lp"), F.col("__id"))
    tier = F.col("bucket").cast("string")
    if n_buckets == 3:
        tier = (
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail")
        )
    return (
        lp.join(slim, "__id")
        .withColumn("bucket", F.ntile(n_buckets).over(w).cast("long"))
        .withColumn("tier", tier)
        .withColumnRenamed("__id", id_col)
    )


def bpe_pair_counts(docs, text_col: str, k: int = 40):
    """Tokenizer-training support: global adjacent-symbol-pair frequencies
    — the statistic behind every BPE merge step (Sennrich et al., ACL
    2016: repeatedly merge the most frequent pair).  Pairs are counted
    WITHIN whitespace words (as in word-level BPE pre-tokenization), so no
    pair crosses a word boundary.

    Returns the top-``k`` (rank, pair, n).  Cost at scale: explode to
    character pairs, ONE partial-aggregated groupBy — the shuffle is
    pair-vocabulary-sized (≤ alphabet², thousands of rows even at 100 TB),
    and the final top-k ranks that tiny table.  Repeating the merge loop
    re-runs this with a symbols column instead of raw words; the counting
    shape is identical each round.
    """
    words = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("w")
    ).where(F.col("w") != "")
    pairs = words.select(
        F.explode(
            F.when(F.length("w") < 2, F.array().cast("array<string>")).otherwise(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    from ago_sisdb_spark.operators.lastper import topk_global

    # TakeOrderedAndProject + window-free rank over the k survivors, not a
    # row_number window over the full pair table (r6 verdict #2 — same
    # shape as bpe_train's pick)
    return topk_global(counts, "n", "pair", k).select("rank", "pair", "n")


def hashed_linear_score(
    docs,
    id_col: str,
    text_col: str,
    weights=None,
    n_features: int = 2001,
    seed: str = "w",
):
    """Hashing-trick linear text classifier scoring (the fastText-style
    quality-filter shape used by GPT-3/LLaMA data pipelines: a linear
    model over hashed bag-of-words decides keep/drop).

    score(doc) = mean over tokens of weight[h(token) mod n_features].
    Pass ``weights`` as a (feature, weight) DataFrame to score with a
    trained model — it is broadcast (n_features rows), so scoring is one
    explode + broadcast join + per-doc average: NO shuffle of document
    bodies, corpus-scan cost only.  With ``weights=None`` a deterministic
    pseudo-weight table derived from the portable hash itself is used
    (weight = ((h' mod n_features) - (n_features-1)/2) / ((n_features-1)/2)
    ∈ [-1, 1]) — exercising the full scoring path reproducibly, which is
    what the oracle twin checks; swap in real learned weights unchanged.

    Returns (id, n_toks, score, keep) with keep = score > 0 when scoring
    with a trained ``weights`` table; the deterministic pseudo-weight path
    returns the score as EXACT fixed-point millionths (``score_e6``,
    bigint) so the value never touches a float-rounding boundary.
    """
    from ago_sisdb_spark.operators.dedup import portable_hash60

    half = (n_features - 1) / 2.0
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    feat = toks.select(
        "__id",
        (portable_hash60(F.concat(F.lit(f"{seed}#"), F.col("tok")))
         % F.lit(n_features)).alias("feature"),
    )
    if weights is None:
        # Pseudo-weights are exact rationals (feature − half)/half, so the
        # mean is EXACT fixed-point: score_e6 (millionths) from int64 sums
        # with integer half-up rounding.  Any float rounding here is a trap:
        # round(avg(double)) flipped on summation-order ulps at sf0.1, and
        # rational scores land exactly ON 6-dp half-boundaries, where Spark
        # (BigDecimal HALF_UP) and DuckDB (scale-multiply) disagree — the
        # integer form has no boundary to disagree about.
        ihalf = int(half)
        num = (F.col("__sf") - F.col("n_toks") * F.lit(ihalf)) * F.lit(1_000_000)
        den = F.lit(ihalf) * F.col("n_toks")
        out = feat.groupBy("__id").agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("feature").alias("__sf"),
        ).select(
            "__id",
            "n_toks",
            F.floor((num + den / 2) / den).cast("long").alias("score_e6"),
        )
        return out.select(
            F.col("__id").alias(id_col), "n_toks", "score_e6",
            (F.col("score_e6") > 0).alias("keep"),
        )
    else:
        scored = feat.join(F.broadcast(weights), "feature", "left").select(
            "__id", F.coalesce(F.col("weight"), F.lit(0.0)).alias("w")
        )
        out = scored.groupBy("__id").agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.avg("w"), 6).alias("score"),
        )
    return out.select(
        F.col("__id").alias(id_col), "n_toks", "score",
        (F.col("score") > 0).alias("keep"),
    )


def char_trigrams(col_name: str) -> "Column":
    """Character trigram array of an ALREADY-NORMALIZED text column
    (lower/trim applied when the column is materialized — the lambda must
    reference the plain column, never a recomputed expression, or the
    interpreted HOF re-evaluates it per element); texts shorter than 3
    chars contribute themselves as one truncated gram."""
    t = F.col(col_name)
    n = F.length(t)
    return F.when(n < 3, F.array(t)).otherwise(
        F.expr(
            f"transform(sequence(1, length({col_name}) - 2),"
            f" i -> substring({col_name}, i, 3))"
        )
    )


def trigram_lid_confusion(
    docs,
    id_col: str,
    text_col: str,
    label_col: str,
    top_k: int = 200,
    broadcast_profile: bool = True,
):
    """Character-n-gram-profile language ID (Cavnar & Trenkle, SDAIR 1994
    — the model family behind production LID) trained on the corpus's own
    labels, scored back as a confusion audit.

    Profile(lang) = its ``top_k`` most frequent character trigrams;
    score(doc, lang) = how many of the doc's distinct trigrams appear in
    that profile; prediction = argmax (ties → smaller lang).  Diagonal
    mass audits label/content agreement exactly like e3 does for
    embeddings.

    Scale shape: trigram counting partial-aggregates to (lang, tri); the
    profiles are langs×top_k rows and BROADCAST into the scoring join, so
    documents never shuffle — one explode + one count per (doc, cand).
    ``broadcast_profile=False`` swaps the scoring join to the shuffle
    strategy (result-identical; parity pinned in tests/test_prep_extra.py)
    for the many-languages×large-top_k regime where the profile outgrows
    the broadcast budget.  Returns (label, pred_lang, n_docs).
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("label"),
        F.lower(F.trim(F.col(text_col))).alias("__lid_t"),
    )
    tris = base.select(
        "__id", "label", F.explode(char_trigrams("__lid_t")).alias("tri")
    )
    counts = tris.groupBy("label", "tri").agg(F.count(F.lit(1)).alias("cnt"))
    wp = Window.partitionBy("label").orderBy(F.desc("cnt"), "tri")
    profile = (
        counts.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= top_k)
        .select(F.col("label").alias("cand"), "tri")
    )
    doc_tris = tris.select("__id", "label", "tri").distinct()
    prof_side = F.broadcast(profile) if broadcast_profile else profile
    scored = (
        doc_tris.join(prof_side, "tri")
        .groupBy("__id", "label", "cand")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    wd = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("cand"))
    best = scored.withColumn("rn", F.row_number().over(wd)).where(F.col("rn") == 1)
    return best.groupBy("label", F.col("cand").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _greedy_merge_fold(arr, a: str, b: str, merged: str):
    """Exact greedy BPE merge application: left-to-right non-overlapping
    replacement of every adjacent symbol pair (a, b) with ``merged`` in
    the symbol array ``arr``.

    A fold (``F.aggregate``) with an empty-string sentinel head: for each
    symbol x, if the accumulator's last symbol equals ``a`` and x equals
    ``b``, the pair fuses; otherwise x appends.  No just-merged guard is
    needed — ``merged`` is strictly longer than ``a`` so a freshly fused
    symbol can never re-match as the pair's first element in the same
    round.  The lambda touches only acc/x (no captured raw expressions),
    so the interpreted-HOF re-evaluation trap does not apply.  Mirrored
    by the DuckDB ``list_reduce`` twin in queries/pipeline._bpe_oracle.
    """
    folded = F.aggregate(
        arr,
        F.array(F.lit("")),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.slice(folded, F.lit(2), F.size(folded) - 1)


def bpe_train(docs, text_col: str, n_merges: int = 6):
    """Distributed BPE tokenizer TRAINING (Sennrich et al., ACL 2016): the
    full merge loop, not just one round's pair counts (t17).

    Key reductions that make this scale:

    - training runs on the WORD VOCABULARY with frequencies, never the
      corpus: one corpus pass builds (word, weight), Heaps-bounded, and
      every merge round is vocabulary-sized work;
    - a word's symbol sequence is a SPACE-JOINED STRING; the round's
      winning merge is applied with ``_greedy_merge_fold`` — an exact
      left-to-right non-overlapping fold over the SYMBOL ARRAY (substring
      ``replace`` on the joined string is WRONG twice over: it can match
      across a symbol boundary when one symbol's rendering ends with the
      pair's first element, and even space-padded it mis-pairs runs of
      4+ identical symbols — ``b b b b`` must become ``bb bb``);
    - each round's argmax pair comes to the driver as ONE row (the
      k-means-centroid pattern); everything else stays distributed.

    Returns the trained merge table (merge_rank, pair, merged, pair_count)
    — the tokenizer artifact a BPE encoder consumes, in order.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    vocab = words.select(
        F.expr(
            "concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1)))"
        ).alias("sym"),
        "wt",
    ).localCheckpoint()
    merges = []
    for r in range(n_merges):
        sp = vocab.select(F.split("sym", " ").alias("__s"), "wt")
        n = F.size("__s")
        pair_arr = F.when(
            n >= 2,
            F.zip_with(
                F.slice("__s", 1, n - 1),
                F.expr("slice(__s, 2, size(__s) - 1)"),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        counts = (
            sp.select(F.explode(pair_arr).alias("pair"), "wt")
            .groupBy("pair")
            .agg(F.sum("wt").alias("n"))
        )
        top = counts.orderBy(F.desc("n"), "pair").limit(1).collect()
        if not top:
            break
        pair, cnt = top[0].pair, top[0].n
        a, b = pair.split(" ")
        merged = pair.replace(" ", "")
        merges.append((r + 1, pair, merged, int(cnt)))
        vocab = vocab.select(
            F.array_join(
                _greedy_merge_fold(F.split("sym", " "), a, b, merged), " "
            ).alias("sym"),
            "wt",
        )
        if (r + 1) % 4 == 0:
            vocab = vocab.localCheckpoint()
    return spark.createDataFrame(
        merges, "merge_rank long, pair string, merged string, pair_count long"
    )


def save_bpe_merges(merges_df, path: str) -> None:
    """Persist a ``bpe_train`` result (merge_rank, pair, merged,
    pair_count) as the servable tokenizer artifact."""
    merges_df.write.mode("overwrite").parquet(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]] | None:
    """Read a materialized merge table back to the ordered (pair, merged)
    list ``bpe_encode_counts`` consumes; None if never trained."""
    from pyspark.errors import AnalysisException

    try:
        rows = (
            spark.read.schema(
                "merge_rank long, pair string, merged string, pair_count long"
            )
            .parquet(path)
            .orderBy("merge_rank")
            .collect()
        )
    except AnalysisException:
        return None
    return [(r["pair"], r["merged"]) for r in rows] or None


def bpe_encode_counts(docs, id_col: str, text_col: str, merges):
    """Serving half of ``bpe_train``: apply the trained merge list IN
    ORDER to every word and report per-document BPE token counts —
    ``merges`` is the (pair, merged) sequence from the trained table.
    Pure expression chain (one exact-greedy ``_greedy_merge_fold`` per
    merge over the symbol arrays), no shuffle beyond the final per-doc
    sum."""
    words = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    sym = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    for pair, merged in merges:
        a, b = pair.split(" ")
        sym = _greedy_merge_fold(sym, a, b, pair.replace(" ", ""))
    return (
        words.select("__id", F.size(sym).alias("n_sym"))
        .groupBy("__id")
        .agg(F.sum("n_sym").cast("long").alias("n_bpe_tokens"))
        .select(F.col("__id").alias(id_col), "n_bpe_tokens")
    )


# Gopher rule thresholds (Rae et al. 2021, appendix A1) in e6 fixed point.
# Integer fixed-point keeps the keep-flag hash-portable across engines:
# (1e6 * a) // b is exact integer arithmetic on both sides, immune to the
# float round-at-.5 trap (r5 t18).
GOPHER_WORDS_RANGE = (50, 100_000)
GOPHER_MWL_RANGE_E6 = (3_000_000, 10_000_000)
GOPHER_MAX_SYMBOL_E6 = 100_000       # '#' + '...' per word <= 0.1
GOPHER_MIN_ALPHA_E6 = 800_000        # >= 80% words contain a letter
GOPHER_MIN_STOP_HITS = 2             # of the 8 canonical stopwords
GOPHER_MAX_TOP2_E6 = 200_000         # top 2-gram char fraction <= 0.20
GOPHER_MAX_TOP3_E6 = 180_000
GOPHER_MAX_TOP4_E6 = 160_000
GOPHER_MAX_DUP5_E6 = 150_000         # chars in duplicated 5-grams <= 0.15
GOPHER_MAX_DUP10_E6 = 100_000
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_stats(
    docs, id_col: str, text_col: str, passthrough: tuple[str, ...] = ()
) -> "DataFrame":
    """Gopher-style repetition + quality rule suite, one row per document
    (Rae et al. 2021 Table A1; the same rule family the reference's quality
    gate sketches as scalar filters — here the full per-doc audit).

    Columns (all ratios as exact e6 fixed-point bigints):
      n_words, mwl_e6 (mean word length), top{2,3,4}_e6 (chars of the most
      frequent n-gram / total chars; tie -> lexicographically smallest
      gram), dup{5,10}_e6 (chars inside n-grams occurring >= 2x, summed
      over occurrences), symbol_e6 ('#' + non-overlapping '...' per word),
      alpha_e6 (words containing a letter), stop_hits (distinct canonical
      stopwords present), gopher_keep (the composite gate).

    Scale shape: embarrassingly row-parallel — ONE corpus scan, no shuffle,
    Arrow-batched ``mapInPandas``.  Per-gram mode/frequency counting is the
    textbook case where interpreted relational HOFs lose (the d11/t12
    re-evaluation trap: a nested ``filter`` per distinct gram is O(n^2)
    interpreted); a Counter pass is O(n) per doc and the whole batch rides
    one Arrow transfer.  The DuckDB oracle twin restates the spec via
    unnest + group-by + QUALIFY windows (t25_gopher_rules).

    ``passthrough``: extra input columns copied 1:1 onto the output rows
    inside the SAME Arrow pass — composite projections (t_text_suite) ride
    along instead of shuffle-joining a second corpus-scale frame on the id
    (the r8 artifact-join lesson applied to a per-row op: a join exchanges
    the whole corpus twice for columns the pass already holds).
    """
    import re
    from collections import Counter

    import pandas as pd

    globals()["pd"] = pd  # pandas_udf/mapInPandas + future-annotations gotcha

    stop_set = set(GOPHER_STOPWORDS)
    out_schema = (
        f"`{id_col}` long, n_words long, mwl_e6 long, top2_e6 long, "
        "top3_e6 long, top4_e6 long, dup5_e6 long, dup10_e6 long, "
        "symbol_e6 long, alpha_e6 long, stop_hits long, gopher_keep boolean"
    )
    by_name = {f.name: f for f in docs.schema.fields}
    for c in passthrough:
        out_schema += f", `{c}` {by_name[c].dataType.simpleString()}"

    def _top_frac(counts: Counter, n_chars: int) -> int:
        if not counts or n_chars == 0:
            return 0
        best_c = max(counts.values())
        best_g = min(g for g, c in counts.items() if c == best_c)
        return (1_000_000 * best_c * len(best_g)) // n_chars

    def _dup_frac(counts: Counter, n_chars: int) -> int:
        if not counts or n_chars == 0:
            return 0
        dup_chars = sum(c * len(g) for g, c in counts.items() if c >= 2)
        return (1_000_000 * dup_chars) // n_chars

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in (
                "id", "nw", "mwl", "t2", "t3", "t4", "d5", "d10",
                "sym", "al", "st", "keep",
            )}
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    txt = ""
                # explicit ASCII class: RE2 (Spark/DuckDB) \s is ASCII-only
                # while Python's is Unicode — zh docs would diverge
                words = [w for w in re.split("[ \t\n\r\f\v]+", txt) if w != ""]
                nw = len(words)
                n_chars = len(txt)
                grams = {
                    n: Counter(
                        " ".join(words[i : i + n]) for i in range(nw - n + 1)
                    )
                    if nw >= n
                    else Counter()
                    for n in (2, 3, 4, 5, 10)
                }
                mwl = (1_000_000 * sum(len(w) for w in words)) // nw if nw else 0
                t2 = _top_frac(grams[2], n_chars)
                t3 = _top_frac(grams[3], n_chars)
                t4 = _top_frac(grams[4], n_chars)
                d5 = _dup_frac(grams[5], n_chars)
                d10 = _dup_frac(grams[10], n_chars)
                n_sym = txt.count("#") + txt.count("...")
                sym = (1_000_000 * n_sym) // nw if nw else 0
                al = (
                    (1_000_000 * sum(1 for w in words if re.search(r"[A-Za-z]", w)))
                    // nw
                    if nw
                    else 0
                )
                st = len(stop_set.intersection(words))
                keep = (
                    GOPHER_WORDS_RANGE[0] <= nw <= GOPHER_WORDS_RANGE[1]
                    and GOPHER_MWL_RANGE_E6[0] <= mwl <= GOPHER_MWL_RANGE_E6[1]
                    and sym <= GOPHER_MAX_SYMBOL_E6
                    and al >= GOPHER_MIN_ALPHA_E6
                    and st >= GOPHER_MIN_STOP_HITS
                    and t2 <= GOPHER_MAX_TOP2_E6
                    and t3 <= GOPHER_MAX_TOP3_E6
                    and t4 <= GOPHER_MAX_TOP4_E6
                    and d5 <= GOPHER_MAX_DUP5_E6
                    and d10 <= GOPHER_MAX_DUP10_E6
                )
                for k, v in zip(
                    rows, (did, nw, mwl, t2, t3, t4, d5, d10, sym, al, st, keep)
                ):
                    rows[k].append(v)
            out = pd.DataFrame(
                {
                    id_col: rows["id"],
                    "n_words": rows["nw"],
                    "mwl_e6": rows["mwl"],
                    "top2_e6": rows["t2"],
                    "top3_e6": rows["t3"],
                    "top4_e6": rows["t4"],
                    "dup5_e6": rows["d5"],
                    "dup10_e6": rows["d10"],
                    "symbol_e6": rows["sym"],
                    "alpha_e6": rows["al"],
                    "stop_hits": rows["st"],
                    "gopher_keep": rows["keep"],
                }
            )
            # the per-doc loop emits exactly one row per input row, in
            # order, so passthrough columns copy positionally
            for c in passthrough:
                out[c] = pdf[c].values
            yield out

    # spread single-split local inputs across cores (the shingle_rows /
    # cdc_chunks guard): per-gram Counter work on one task serializes the
    # corpus pass
    slim = spread(docs.select(F.col(id_col), F.col(text_col), *passthrough), id_col)
    return slim.mapInPandas(gen, out_schema)


# Invisible/zero-width characters stripped by normalize_text_expr; the
# single source for BOTH the Spark pattern and the DuckDB oracle pattern
# (raw chars in a character class — Java regex and RE2 read them alike).
INVISIBLE_CHARS = "​‌‍﻿"
_WS_RUN = r"[ \t\n\r\f\v]+"


def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalization (pandas_udf) with an ASCII
    fast-path: ASCII is NFC-invariant, so only elements containing a
    non-ASCII byte pay the per-element unicodedata call — on a mostly-
    ASCII 100 TB corpus the batch cost is one vectorized mask.  Spark has
    no NFC builtin (as of 4.x); DuckDB's ``nfc_normalize`` is the oracle
    twin — both sides implement Unicode Standard Annex #15 NFC, stable
    for the Latin/CJK ranges the corpus uses."""
    import pandas as pd
    import unicodedata

    globals()["pd"] = pd  # pandas_udf + future-annotations gotcha

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        mask = s.notna() & s.str.contains("[^\x00-\x7f]", regex=True, na=False)
        if mask.any():
            s = s.copy()
            s[mask] = s[mask].map(lambda t: unicodedata.normalize("NFC", t))
        return s

    return _nfc


def normalize_text_expr(col: Column) -> Column:
    """Canonical text cleanup for training corpora: strip zero-width/
    BOM characters, Unicode NFC composition, collapse ASCII whitespace
    runs to single spaces, trim.  Steps 1 and 3 are JVM regexps (whole-
    stage codegen); only the NFC step crosses to Python, Arrow-batched
    with an ASCII fast-path (``nfc_normalize_udf``).  The exact same
    pipeline is SQL-expressible in DuckDB (regexp_replace → nfc_normalize
    → regexp_replace → trim), so normalized output hash-checks
    cross-engine byte-for-byte."""
    x1 = F.regexp_replace(col, f"[{INVISIBLE_CHARS}]", "")
    x2 = nfc_normalize_udf()(x1)
    return F.trim(F.regexp_replace(x2, _WS_RUN, " "))


def domain_kl(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Per-group KL divergence of the group's unigram distribution from
    the whole-corpus distribution — the mixture-tuning diagnostic behind
    DoReMi/DSIR-style domain weighting.  One token pass produces
    (group, tok) counts; every later frame is vocabulary-scale (the
    corpus totals re-aggregate the COUNT rows, never the corpus), group
    totals broadcast.  KL(p_g‖q) = Σ_t (c/N_g)·ln(c·N / (N_g·C_t)):
    exact integer ratios feed one ln per term; the per-group sum is
    rounded at 6 dp (the BM25/TF-IDF float-rounding convention).
    Returns (group, n_tokens, vocab, kl)."""
    from ago_sisdb_spark.materialize import materialize

    toks = docs.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    # (group, tok) counts are the vocabulary×groups collapse point with
    # FOUR consumers (corpus totals, group totals, grand total, the KL
    # join) — materialize once or each consumer re-runs the token pass
    # (exchange reuse does not span consumers; the r7 dupscan lesson)
    cst = materialize(
        toks.groupBy("__g", "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    ct = cst.groupBy("tok").agg(F.sum("c").cast("long").alias("ctot"))
    ns = cst.groupBy("__g").agg(
        F.sum("c").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("vocab_s"),
    )
    tot = cst.agg(F.sum("c").cast("long").alias("n"))
    term = (F.col("c").cast("double") / F.col("n_s")) * F.log(
        F.col("c").cast("double") * F.col("n")
        / (F.col("n_s").cast("double") * F.col("ctot"))
    )
    return (
        cst.join(ct, "tok")
        .join(F.broadcast(ns), "__g")
        .crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("__g").alias(group_col),
            F.col("n_s").alias("n_tokens"),
            F.col("vocab_s").alias("vocab"),
        )
        .agg(F.round(F.sum(term), 6).alias("kl"))
    )


def domain_quantile_gate(
    docs: DataFrame,
    group_col: str,
    score_col,
    id_col: str,
    keep_from_pct_e6: int = 200_000,
) -> DataFrame:
    """Per-domain quantile normalization + gate: rank each document's
    score WITHIN its domain and keep those at or above a percentile cut
    — the FineWeb-style per-domain thresholding that stops one verbose
    domain from monopolising an absolute-score cut (each domain
    contributes its own top (1-q) slice).

    Percentile is integer-exact fixed point:
        pct_e6 = (rank - 1) * 1e6 div (n_domain - 1)
    (0 for the domain minimum, 1e6 for the maximum; a single-doc domain
    is defined as 1e6 — its only doc is its own maximum).  Rank is a
    row_number over (score, id) so ties resolve deterministically.  Both
    windows partition by the domain — bounded spans at any corpus size,
    never a single-partition window.  Returns the input ids plus
    (rank, n_domain, pct_e6, keep)."""
    from pyspark.sql import Window

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    wr = Window.partitionBy(group_col).orderBy(score, F.col(id_col))
    wc = Window.partitionBy(group_col)
    out = (
        docs.withColumn("rank", F.row_number().over(wr).cast("long"))
        .withColumn("n_domain", F.count(F.lit(1)).over(wc).cast("long"))
    )
    pct = F.when(F.col("n_domain") == 1, F.lit(1_000_000).cast("long")).otherwise(
        F.expr("((rank - 1) * 1000000) div (n_domain - 1)")
    )
    return out.withColumn("pct_e6", pct).withColumn(
        "keep", F.col("pct_e6") >= F.lit(keep_from_pct_e6)
    )


# --- C4-style line-level page filters (Raffel et al. 2020, §2.2) -----------

C4_MIN_KEPT_LINES = 3
C4_MIN_LINE_WORDS = 5
_C4_END_PUNCT = r'[.!?"]$'


def c4_line_stats(docs, id_col: str, text_col: str):
    """C4's line-level page heuristics as one expression pass: split the
    page into lines, keep a line iff it ends in terminal punctuation AND
    has >= 5 words (the C4 line rule), and keep the PAGE iff >= 3 lines
    survive and it contains neither 'lorem ipsum' nor '{' (the C4 page
    rules — '{' catches leaked code/JSON).  'javascript' lines are
    counted (C4 drops them) but reported rather than silently folded in,
    so the datacard can show the reason mix.

    Returns per doc: (id, n_lines, n_end_punct, n_short, n_js_lines,
    n_kept_lines, kept_e6, has_lorem, has_brace, c4_keep) — kept_e6 is
    the kept-line ratio in integer millionths.
    Counts are exact integers; the ratio is fixed-point millionths.

    Scale shape: the line array is materialized ONCE as a column and
    every count is a lambda over that array's own elements (the
    interpreted-HOF re-evaluation trap only bites lambdas that reference
    NON-element expressions) — one corpus scan, zero shuffles, all
    codegen-adjacent expression work.

    Reference: no equivalent (the reference has no text pipeline);
    public-recipe surface (C4 / FineWeb line filters)."""
    lines = F.expr(
        f"transform(split({text_col}, '\\n'), l -> trim(l))"
    )
    d = docs.select(F.col(id_col), lines.alias("__ls"))
    nonempty = F.expr("filter(__ls, l -> l != '')")
    d = d.select(id_col, nonempty.alias("__ls"))
    end_punct = F.expr(f"size(filter(__ls, l -> l rlike '{_C4_END_PUNCT}'))")
    short = F.expr(
        f"size(filter(__ls, l -> size(split(l, '\\\\s+')) < {C4_MIN_LINE_WORDS}))"
    )
    js = F.expr("size(filter(__ls, l -> lower(l) like '%javascript%'))")
    kept = F.expr(
        f"size(filter(__ls, l -> l rlike '{_C4_END_PUNCT}'"
        f" and size(split(l, '\\\\s+')) >= {C4_MIN_LINE_WORDS}))"
    )
    n_lines = F.size("__ls")
    full = F.array_join("__ls", "\n")
    has_lorem = F.lower(full).contains("lorem ipsum")
    has_brace = full.contains("{")
    counted = d.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        end_punct.cast("long").alias("n_end_punct"),
        short.cast("long").alias("n_short"),
        js.cast("long").alias("n_js_lines"),
        kept.cast("long").alias("n_kept_lines"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
    )
    return counted.select(
        id_col,
        "n_lines",
        "n_end_punct",
        "n_short",
        "n_js_lines",
        "n_kept_lines",
        F.expr("(1000000 * n_kept_lines) div nullif(n_lines, 0)").alias(
            "kept_e6"
        ),
        "has_lorem",
        "has_brace",
        (
            (F.col("n_kept_lines") >= F.lit(C4_MIN_KEPT_LINES))
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("c4_keep"),
    )


# --- Unicode script profiling (multilingual corpus health) ------------------

# BMP codepoint ranges per script, spelled as explicit \uXXXX escapes (the
# r9 t28 lesson: never smuggle raw non-ASCII chars through a heredoc).
# Latin counts ASCII letters plus Latin-1/Extended-A/B letters; CJK counts
# the unified ideographs plus the two kana blocks.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z\u00C0-\u024F",
    "cyrillic": "\u0400-\u04FF",
    "greek": "\u0370-\u03FF",
    "arabic": "\u0600-\u06FF",
    "cjk": "\u4E00-\u9FFF\u3040-\u30FF",
    "hangul": "\uAC00-\uD7AF",
}

# The same ranges in RE2 syntax for the DuckDB oracle twin (\x{...}).
SCRIPT_RANGES_RE2: dict[str, str] = {
    "latin": r"A-Za-z\x{00C0}-\x{024F}",
    "cyrillic": r"\x{0400}-\x{04FF}",
    "greek": r"\x{0370}-\x{03FF}",
    "arabic": r"\x{0600}-\x{06FF}",
    "cjk": r"\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}",
    "hangul": r"\x{AC00}-\x{D7AF}",
}


def script_profile(docs, id_col: str, text_col: str):
    """Per-document Unicode script profile — the multilingual corpus-health
    check that a stopword language-ID can't give: per-script letter
    counts, the dominant script (priority order on exact ties), its share
    in exact millionths, and a mixed-script flag (>= 2 scripts each
    holding >= 10% of the letters — the classic spoofing / boilerplate-
    concatenation signal, cf. UTS #39 mixed-script confusables).

    All counts are length(regexp_replace(text, '[^range]', '')) over BMP
    codepoint ranges — pure codegen expressions, one corpus scan, no
    shuffle, and byte-identical in the DuckDB twin (SCRIPT_RANGES_RE2
    spells the same ranges in RE2 syntax).  Integer-exact throughout:
    the 10% test is ``10*n_s >= n_letters`` (no float), the share is
    fixed-point ``div``.

    Returns (id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
    n_hangul, n_letters, dominant, dominant_e6, mixed)."""
    counts = {
        name: F.length(
            F.regexp_replace(F.col(text_col), f"[^{rng}]", "")
        ).cast("long")
        for name, rng in SCRIPT_RANGES.items()
    }
    d = docs.select(
        F.col(id_col),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )
    names = list(SCRIPT_RANGES)
    total = sum((F.col(f"n_{n}") for n in names[1:]), F.col(f"n_{names[0]}"))
    d = d.withColumn("n_letters", total.cast("long"))
    m = F.greatest(*[F.col(f"n_{n}") for n in names])
    dominant = F.when(F.col("n_letters") == 0, "none")
    for n in names:
        dominant = dominant.when(F.col(f"n_{n}") == m, n)
    ten_pct = sum(
        (
            ((F.col(f"n_{n}") > 0) & (F.col(f"n_{n}") * 10 >= F.col("n_letters")))
            .cast("int")
            for n in names
        ),
        F.lit(0),
    )
    return d.select(
        id_col,
        *[f"n_{n}" for n in names],
        "n_letters",
        dominant.alias("dominant"),
        F.expr(
            "(1000000 * greatest(n_latin, n_cyrillic, n_greek, n_arabic,"
            " n_cjk, n_hangul)) div nullif(n_letters, 0)"
        ).alias("dominant_e6"),
        (ten_pct >= F.lit(2)).alias("mixed"),
    )


# --- URL canonicalization (web-corpus dedup/blocklist key) ------------------

# Tracking query parameters stripped during canonicalization — the
# RefinedWeb/CCNet-style URL-dedup prelude (two fetches of one page differ
# only in these).
TRACKING_PARAMS = "utm_[A-Za-z]+|fbclid|gclid|msclkid|ref"


def url_canonicalize(url: Column) -> Column:
    """Deterministic URL canonical form for URL-level dedup and blocklist
    matching: drop the #fragment, lowercase scheme://host, strip tracking
    query parameters (TRACKING_PARAMS), collapse a dangling '?'/'&', and
    drop one trailing '/'.  A pure fixed tree of regexp ops — one scan,
    portable verbatim to the DuckDB twin (same RE2-safe patterns, no
    lookarounds), so canonical keys hash cross-engine.

    Deliberately NOT a full RFC 3986 normalizer (no %-decoding, no path
    segment resolution) — canonical keys must be cheap and stable, and
    over-normalizing merges distinct pages.

    Inputs that don't match lowercase ``^https?://host`` (HTTP://, ftp://,
    protocol-relative //host/...) keep their fragment-stripped identity
    instead of collapsing to a shared '' key — the lowercase-host rebuild
    only fires when the scheme/host extract is non-empty.  The DuckDB twin
    (queries/pipeline._t36_oracle) omits the fallback branch because its
    input is URL_PATTERN-prefiltered, where the extract never misses."""
    u = F.regexp_replace(url, r"#.*$", "")
    head = F.lower(F.regexp_extract(u, r"^(https?://[^/?]+)", 1))
    tail = F.regexp_extract(u, r"^https?://[^/?]+(.*)$", 1)
    u = F.when(head == F.lit(""), u).otherwise(F.concat(head, tail))
    # boundary-anchored ([?&]) so 'ref' can never match inside another
    # param's name/value; the separator is kept ($1) and the collapse
    # passes below normalize whatever sequence the removals left behind
    u = F.regexp_replace(u, r"([?&])(" + TRACKING_PARAMS + r")=[^&#]*", "$1")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    return F.regexp_replace(u, r"/$", "")


def char_entropy(docs, id_col: str, text_col: str):
    """Per-document Shannon entropy of the character distribution (nats,
    rounded at 6 dp) plus character counts — the classic gibberish /
    compression-quality signal: natural prose sits near 2.8-3.2 nats,
    key-mash and base64 blobs higher, repeated-char padding near zero.

    Relational shape: explode characters -> ONE (doc, char) count
    aggregate; the per-doc total rides a window over the SAME doc
    partitioning (no second exchange), and the final per-doc sum is one
    more aggregate on the already-doc-partitioned frame.  Shuffles carry
    (doc, char) count rows (<= alphabet size per doc), never text.

    Float contract (the t29/KL convention): each term is an exact
    integer ratio into ONE ln; the per-doc sum is an order-dependent
    float reduction rounded at 6 dp — boundary hits are measure-zero
    for ln-derived irrationals.

    Returns (id, n_chars, n_distinct, entropy); empty docs emit
    nothing (no characters, no row)."""
    from pyspark.sql import Window

    chars = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), "(?!^)")).alias("ch"),
    ).where(F.col("ch") != "")
    per = chars.groupBy("doc", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc")
    per = per.withColumn("n", F.sum("c").over(w))
    ratio = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        per.groupBy("doc")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(F.sum(-ratio * F.log(ratio)), 6).alias("entropy"),
        )
        .select(
            F.col("doc").alias(id_col), "n_chars", "n_distinct", "entropy"
        )
    )

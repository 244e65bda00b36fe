"""Dump query plans.

Usage:
  python tools/dump_plans.py [sf_dir]
      Regenerate PLANS.md: executed physical plans of headline queries
      with plan-quality commentary.
  python tools/dump_plans.py --explain OUT_DIR SUFFIX [query ...] [--sf SF_DIR]
      Write ``.explain("formatted")`` of each query to
      ``OUT_DIR/<query>_<SUFFIX>.txt`` (e.g. SUFFIX "before" from a
      checkout of the parent commit, "after" from the change).  With no
      query names, the list is every ``<query>_*.txt`` already in OUT_DIR,
      so a later run regenerates the same set.
"""

from __future__ import annotations

import argparse
import glob
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES = {
    "q1_pricing_summary": "single scan -> partial agg -> one shuffle of 6 groups -> final agg; filter pushed to parquet",
    "q3_shipping_priority": "both dims broadcast; lineitem never shuffles before the aggregation",
    "p6_last_per_key": "argmax-join: primitive max(order) HashAggregate (no struct buffer, no SortAggregate) + broadcast join fetches the records",
    "a1_ohlcv_rollup": "six bar aggregates partial-combine map-side; shuffle carries one row per (key, bar)",
    "j4_range_join": "interval predicate rides a broadcast hash join on the user key",
    "d1_dedup_exact": "digest computed in the scan projection; shuffle carries (digest, id) only",
    "d3_minhash_lsh": "r14 kernel shape: ONE MapInPandas over compact (doc, text) rows emits (doc, band, bucket) directly — split/shingle/md5/32-permutation mins/band folds all run as per-task C work (value-identical to the expression form, pinned in pytest); the explode, the md5->conv chain and the 32-min hash-aggregate are GONE from the JVM plan.  capped_bucket_pairs unchanged: the cap count-window SHARES the bucket exchange, collect_list is cap-bounded BEFORE it materializes, local array pair expansion (no self-join); shuffles: parallelism spread + bucket + pair aggregates only",
    "d8_bloom_incremental": "bloom bitmap and verified-dup set both broadcast; the batch shuffles once (per-doc min over probe hits, map-side combined); r7 continuation: the verdicts tier is checkpointed so the verify join no longer re-runs the probe pipeline (was 5 table scans)",
    "t15_cms_counts": "sketch cells partial-aggregate map-side (<= depth*width rows per task shuffle); the depth*width-bounded sketch is broadcast into the probe join",
    "pipe6_dsir": "two fixed-size (4096-bucket) count aggregates broadcast back into ONE scoring pass; no vocabulary table, no corpus x corpus join; r7 continuation: the bucket tables are materialized and totals derive from them (5 -> 3 corpus passes)",
    "pipe_full_prep": "headline since r6: digest window -> pair-free MinHash drop set (bucket-min window) -> raw-corpus shingle decontam (r7: single-consumer branches, nothing in the keep chain executes twice) -> expression gates -> per-shard packing windows, ONE composed plan; no collect, no cross join, every anti-join side bounded (AQE broadcasts the drop lists)",
    "n4_knn_ivf": "materialized-index serve path: the trained k x dim centroid table is read back and rides in the nearest_centroids kernel closure (ArrowEvalPython, fold-exact cosine, bit-identical to the old literal ranking), so list assignment is a projection over the scan — no crossJoin, no min_by aggregation exchange; the only shuffle is the per-probe top-k",
    "pipe8_incremental_prep": "incremental daily-ingest shape (r7): the ONLY documents scans carry the batch predicate (doc_id % 3 = 0 in PushedFilters) — history enters solely as three artifact parquet scans (digest set, band index, shards-sized pack_state); per-batch cost is batch + index probe, never a history scan",
    "s5_global_shuffle": "training-order shuffle (r7): ONE exchange on the shard key feeding a per-shard WindowExec rank — no global sort, no single-partition window; shard count is layout so 1000 executors each sort shard-sized runs",
    "s7_training_shards": "training-corpus sink manifest (r7): the write ran before this plan (repartition-by-shard + in-task sort + partitionBy, its one shuffle); the manifest scan reads ONLY tokens+bin (payloads pruned, ReadSchema) + the shard partition column, two-phase distinct aggregate, all codegen",
    "t23_quality_classifier": "classifier distillation serve plan (r7 continuation): training ran before this plan (L-BFGS treeAggregate passes over the cached feature vectors — r14 evidence: getRDDStorageInfo at fit completion shows the feats InMemoryRelation 1/1 partitions cached, 165,944 bytes in memory, so no iteration re-scans parquet); what remains is ONE documents scan with the learned weights as literals inside codegen — no Python node, no MLlib, no join, no shuffle",
    "t24_ridge_length_model": "normal-equations serve plan (r7 continuation): the one-pass 9-moment training aggregate ran before this plan; serving is a single scan + projection with the Cramer-solved coefficients as literals — the whole fit cost one corpus pass",
    "pipe9_chunk_retrieval": "RAG ingest+serve (r7 continuation): corpus CDC chunking + trigram embedding in ONE shuffle-free mapInPandas chain; the 3-doc query side pre-materializes (chunk_topk checkpoints the tiny frame once — its re-chunk scan ran before this plan) and broadcasts (BroadcastNestedLoopJoin); integer dot + norm division in codegen; the only exchange is the per-query top-k window",
    "pipe10_chunk_index_serve": "persisted-index serve (r7 continuation): the corpus side is ONE parquet scan of the chunk index (ReadSchema = ids+vec+norm; built offline like n7's codebooks) — no CDC, no embedding, no documents scan; broadcast queries, codegen dot, per-query top-k window",
    "t_text_suite": "the per-doc text metric suite (r9 shape): the expression projection feeds the gopher Counter pass DIRECTLY (MapInPandas with passthrough — no corpus self-join on doc_id, 3 -> 2 documents scans); the one remaining join is the hash-classifier's inherent explode+groupBy, whose shuffle carries (id, feature) rows",
    "pipe12_domain_mix": "temperature mix (r9): corpus pass 1 = domains-sized count aggregate (map-side combine, checkpointed); the integer rate plan broadcasts into pass 2's gate filter + kept-count aggregate — no corpus-wide shuffle anywhere",
    "d18_winnowing": "winnowing fingerprint selection (r9): ONE documents scan feeding ONE MapInPandas (numpy rolling-hash sliding dot + window-min per doc, the d11/t12 vectorization lesson) — per-doc work, no data-dependent shuffle; the single visible exchange is the input-balancing repartition that fires only when the scan has fewer splits than cores (local sf0.1 = 1 file) and no-ops at cluster scale where the scan itself supplies the parallelism",
    "d19_winnow_pairs": "MOSS overlap localization (r9): d18's shuffle-free fingerprint pass -> per-(fp, doc) span aggregate -> the boilerplate doc-freq cap is a count WINDOW over the fp key (shares the pair exchange's partitioning, r8 second-wave shape) -> capped-bucket in-array pair expansion (array_sort(collect_list) + transform/flatten — NO fp self-join) -> per-pair span aggregate; shuffles carry (fp, id, span) rows, never text",
    "n11_prf_expansion": "two-stage PRF retrieval (r9 continuation): this is STAGE 2's executed plan — the expanded term set (mined from stage 1's feedback docs, a query-bounded collected artifact) folds into the scan as isin literals BELOW the postings aggregation (the r8 n5 lesson: Catalyst can't push a join below a groupBy), so the corpus-wide tf(doc, term) shuffle never exists; doc lengths ride the one shared narrow projection; top-k per query is a bounded window",
    "t33_ngram_novelty": "per-doc n-gram novelty (r9; r13 window restructure): ONE shingle_rows explode scan (min_words fused into the pass's own split) -> one explicit gram-keyed repartition that carries the (doc, shingle) distinct, the UNBOUNDED per-gram df count window, and their shared sort — the pre-r13 groupBy(shingle)+join-back shape replayed the explode+distinct lineage once per consumer and AQE broadcast the corpus-gram dfreq table (a per-execution HashedRelation over every distinct gram: a scale hazard and 3-6x warm-JVM stalls); now 0 broadcasts, 1 explode, 3 exchanges total (compact doc rows, grams once, narrow (doc, df) rows); shuffles carry 5-gram strings, never document text; final per-doc aggregate is exact fixed-point",
    "j4b_keyless_interval": "KEYLESS interval join (r10): the range predicate has no equi key, so native Spark would BroadcastNestedLoopJoin — here each purchase window replicates across its <= 3 ten-minute bins (Generate/explode in the scan stage) and the join is a plain EQUI join on the bin id with the exact BETWEEN as a residual filter; points sit in one bin so no dedup pass exists; the zero-match restore is a bounded left join on the purchase set",
    "t37_host_rank": "host-authority PageRank (r10): ONE corpus pass aggregates the source->host edge list (Scan ExistingRDD below = the materialized graph tables, vocabulary-scale); each of the 3 rounds is one broadcast-eligible join of the rank table onto the edges + one integer aggregate, checkpointed per round so round k+1 never replays rounds 1..k; all mass arithmetic is exact int64 e12 fixed-point — no float reduction anywhere",
    "s10_zorder_layout": "Z-order layout audit (r10): the 1-row min/max aggregate broadcasts into the scan projection (BroadcastNestedLoopJoin of a single row = the broadcast scalar, not a data cross join); quantization is exact integer mod-identity floor-div and the Morton key is a fixed shiftleft/shiftright/& tree inside codegen; ONE bucket-keyed aggregate carries (bucket, minmax) rows only",
    "j3b_asof_directions": "directional as-of joins (r10): forward and nearest ride the SAME union+window shape as the backward fast path — ONE exchange on the symbol key feeding WindowExec; forward is the same window scanned in DESCENDING time (a second in-partition sort order, not a second shuffle), nearest evaluates both fills over one union frame and picks per row in codegen; right-tie pinning is one more ordering column inside the existing window",
    "t34_c4_line_filters": "C4 line/page heuristics (r10): ONE documents scan; the trimmed line array materializes ONCE as a column and every count is an element-only lambda over that array (the interpreted-HOF re-evaluation trap only bites lambdas referencing non-element expressions) — zero shuffles below the final projection, no Python anywhere",
    "t35_script_profile": "Unicode script profile (r10): single scan, per-script counts are fixed regexp_count expressions over BMP codepoint-range character classes, dominant-script argmax is a greatest/when tree, the e6 ratio is integer div — all codegen, no shuffle, no UDF",
    "t36_url_canonical": "URL canonicalization audit (r10): planted doc_id-derived URLs (the corpus has none) -> regexp_extract_all + explode in the scan stage -> url_canonicalize as a fixed tree of regexp ops in the SAME projection -> ONE aggregate keyed by canonical URL; shuffle carries (curl, counts) rows, never document text",
    "t38_char_entropy": "per-doc character entropy (r10): explode characters -> ONE (doc, char) count aggregate; the per-doc total is a window over the SAME doc partitioning (no second exchange) and the final per-doc entropy sum is one more aggregate on the already-partitioned frame — two logical shuffles total, rows bounded by alphabet-size x docs",
    "e9_semantic_decontam": "embedding-space decontamination (r10): the bounded eval set broadcasts (BroadcastNestedLoopJoin, LEFT so an empty eval set degrades to contaminated=false rather than annihilating the corpus — r11 fix); per-corpus-vector max cosine is a map-side-combined aggregate over |eval| candidates; the corpus never exchanges — the only admissible shape at 100 TB",
    "e10_bitext_mining": "margin-based bitext mining (r11; r12 collapse-point pin; r13 exact-fold vectorization): the bounded src side rides every task in the kernel CLOSURE — the tgt corpus is ONE scan feeding a MapInPandas node that scores each Arrow batch against the src matrix with the exact-fold numpy block (bit-identical to the old expression tree) and emits only batch-local top-k partials (<= partitions*|src|*k rows), so no cross join exists in the plan at all; the forward top-k window reduces the partials and is eagerly materialized (Scan ExistingRDD below); the backward-kNN pass is a second MapInPandas over the bounded candidate frame emitting final per-candidate integer top-k sums (row-local, tie-invariant); margins are integer arithmetic + one integral-divide in codegen; 10.5 -> 2.5 s at sf0.1",
    "e11_cluster_balance": "embedding-cluster diversity rebalancing (r11): centroid assignment is the nearest_centroids ArrowEvalPython projection over the scan (no crossJoin, no assignment shuffle, no k*dim literal tree to parse; values bit-identical to the old literal ranking); pass 1 is the clusters-sized mass aggregate (map-side combined, checkpointed), the integer quota plan broadcasts into pass 2's portable-hash gate + kept-count aggregate — two corpus passes by construction, no corpus-wide shuffle",
    "e12_bitext_bucketed": "SYMMETRIC bucketed bitext mining (r11; r12 occupancy cap + chained-window restructure): neither side broadcasts — each exchanges ONCE on (band, key) of the sign sketch (Generate/posexplode of 4 band keys in the scan stage, bands-x replication of (id, vec) rows); each side's bucket membership is capped at 1000 by a count WINDOW that shares the join's own (band, key) hash partitioning (cap_bucket_fanout adds no extra exchange); the bucket join is a plain shuffled equi join; lowest-shared-band dedup is a window over the pair key; the neighborhood sums CHAIN onto the same src/tgt window exchanges that compute the ranks (rank + rank-gated sum/count per Window group — pre-r12 the sumx/sumy groupBys + pair join re-executed the whole candidate lineage three times, the r7 two-consumer trap; dupscan embeddings:6 -> clean) — the large-x-large shape where e10's broadcast is impossible",
}

HEADER = """# PLANS — executed physical plans of headline queries (sf0.1, AQE final)

Generated from `df._jdf.queryExecution().executedPlan()` after execution.
What to look for in each: filters in `PushedFilters`, `WholeStageCodegen`
spans (`*(n)` prefixes), broadcast vs shuffle exchanges, and partial
aggregation before every exchange.  Regenerate with
`python tools/dump_plans.py`.
"""


DEFAULT_SF = "/root/testdata/sf0.1"


def _registry():
    from ago_sisdb_spark.inventory import all_queries, extended_queries
    from ago_sisdb_spark.session import get_spark

    qs = all_queries()
    qs.update(extended_queries())
    return get_spark(), qs


def dumped_queries(out_dir: str) -> list[str]:
    """Query names that already have a ``<query>_<suffix>.txt`` dump."""
    names = {
        os.path.basename(p).rsplit("_", 1)[0]
        for p in glob.glob(os.path.join(out_dir, "*_*.txt"))
    }
    return sorted(names)


def explain(out_dir: str, suffix: str, names: list[str], sf_dir: str) -> None:
    names = names or dumped_queries(out_dir)
    if not names:
        sys.exit(f"no query names given and no <query>_*.txt in {out_dir}")
    spark, qs = _registry()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in qs:
            print(f"skip {name}: not in registry")
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            qs[name](spark, sf_dir).explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


def plans_md(sf_dir: str) -> None:
    spark, qs = _registry()
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(HEADER)
        for name, note in NOTES.items():
            df = qs[name](spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            plan = re.sub(r"Location: InMemoryFileIndex[^,]*,?", "", plan)
            plan = re.sub(r", \[plan_id=\d+\]", "", plan)
            f.write(f"\n## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")


def main() -> None:
    if not any(a.startswith("-") for a in sys.argv[1:]):
        plans_md(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF)
        return
    ap = argparse.ArgumentParser(usage=__doc__)
    ap.add_argument("--explain", nargs=2, metavar=("OUT_DIR", "SUFFIX"), required=True)
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("queries", nargs="*")
    a = ap.parse_args()
    explain(a.explain[0], a.explain[1], a.queries, a.sf)


if __name__ == "__main__":
    main()

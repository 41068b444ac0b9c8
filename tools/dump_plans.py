"""Regenerate PLANS.md: formatted physical plans of representative
queries with scalability commentary.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SELECTED = {
    "group_counts_q1": (
        "TPC-H Q1 shape: pruned 6-column scan → codegen'd projection to integer cents → "
        "map-side partial aggregate → one exchange on the two group keys → final aggregate. "
        "At 100 TB the exchange carries 6 partial sums per (flag,status,partition), not rows."
    ),
    "enrich_broadcast": (
        "Dimension enrichment: both nation and region broadcast (no shuffle for the joins); "
        "IsNotNull join-key filters pushed into every parquet scan; single exchange for the "
        "final rollup."
    ),
    "topk_orders": (
        "Deterministic LIMIT: TakeOrderedAndProject — per-partition top-50 heaps merged on "
        "the driver; no global sort, no exchange."
    ),
    "minhash_lsh_candidates": (
        "Near-dup candidates: shingle+minhash is one narrow codegen'd pass (regex n-grams, "
        "one md5/shingle); ONE exchange groups (band,minhash) buckets; a<b pairs generated "
        "per bucket row (no self-join, the signature subplan is never re-evaluated); final "
        "distinct de-dupes across bands."
    ),
    "asof_click_purchase": (
        "As-of join without an inequality join: union both sides, one exchange on user_id, "
        "last(ignorenulls) window carries the latest purchase forward. An ASOF via range "
        "predicate would be a broadcast nested loop."
    ),
    "revenue_topn_q3ish": (
        "TPC-H Q3 shape: segment/date filters pushed into all three scans; orders and the "
        "filtered customer side broadcast against the lineitem probe; grouped revenue in "
        "integer cents; TakeOrderedAndProject for the top-10 (no global sort)."
    ),
    "regional_revenue_q5ish": (
        "TPC-H Q5 shape with aggregation pushdown: revenue is pre-aggregated per customer "
        "BEFORE the customer join, so the custkey join carries |active customers| rows, not "
        "|lineitem| — at 100 TB neither join side is broadcastable and this rewrite is what "
        "keeps the shuffle bounded. nation/region broadcast; region filter pushed to its scan."
    ),
    "boilerplate_token_prune": (
        "Corpus-DF boilerplate pruning: ONE wide aggregation (token document-frequency); the "
        "frequent set folds to a single broadcast array row and cleaning is an order-preserving "
        "higher-order filter — the corpus is never exploded-and-reassembled or re-shuffled."
    ),
    "merge_upsert_counts": (
        "MERGE INTO (SCD1, update-wins): one anti-join + union — a single key shuffle; no full "
        "outer join, no window. The physical table-format variant rewrites only intersecting "
        "files (see write_zordered/write_partitioned layouts)."
    ),
    "weighted_sample_docs": (
        "Derandomized A-Res weighted sampling: narrow md5-derived priority expression, then "
        "TakeOrderedAndProject — per-partition top-k heaps merged on the driver; no global "
        "sort, no shuffle."
    ),
    "tfidf_top_terms": (
        "TF-IDF: the exploded token table is persisted once (InMemoryTableScan feeds both "
        "aggregations); df and the corpus-size scalar broadcast back; per-source top-3 via "
        "one window over the already-aggregated (source,term) table."
    ),
    "session_window_stats": (
        "Native session windows: the merge happens inside the aggregation operator (one "
        "exchange on user_id), not via a self-window; the post-aggregation session index "
        "ranks ~sessions rows, never raw events."
    ),
    "kmeans_assign_counts": (
        "Lloyd assignment step: centroids broadcast (8 rows), per-vector argmax as "
        "assign_cosine's map-side-combinable max(struct(sim, -cent_id)) aggregate (the corpus "
        "shuffles one row per vector, not 8), final aggregate exchanges ~8 rows of partial sums."
    ),
    "embedding_near_dup_lsh": (
        "Embedding near-dup SCALE path (banded-LSH candidates → exact verify): one Arrow "
        "pass computes all band signatures (no shuffle); ONE exchange groups (band,sig) "
        "buckets and a<b pairs are generated per bucket row (dedup.band_pairs); candidate pairs then "
        "re-join the corpus twice by id for the exact cosine — every stage is bucketed or "
        "keyed, nothing all-pairs, nothing collected. Candidate volume ≈ bands/2^planes of "
        "C(n,2) on uncorrelated data and output-linear once true dups dominate."
    ),
    "semantic_decontamination": (
        "Embedding-space benchmark leak audit: the ~1% eval split broadcasts; the corpus — "
        "the 100 TB side — streams through ONE narrow scoring pass (|corpus|·|eval| "
        "sequential-fold dots, no shuffle) into the per-vector rollup exchange. No pair "
        "materialization, no self-join."
    ),
    "incremental_corpus_dedup": (
        "Growing-corpus dedup by signature MEMBERSHIP: the new batch's minhash band "
        "signatures semi-join the history signature set on (band, minhash) — no candidate "
        "pairs, no bucket cap, |new|·bands lookups however large history grows; history "
        "signatures are the stored artifact in production."
    ),
    "pagerank_part_supplier": (
        "Fixed-point PageRank, 3 iterations, size-gated on a parquet-footer edge bound: "
        "under 4M edges the whole recurrence runs as ONE job (distinct pair shuffle -> "
        "single-task integer recurrence via mapInPandas); above it, per iteration one "
        "shuffle joins ranks onto the edge list (src) and one keyed aggregation collects "
        "contributions (dst) — the same two exchanges a Pregel superstep pays, node-sized "
        "rank/degree tables broadcast. Integer mass units make both paths bit-identical."
    ),
    "url_canonicalize_dedup": (
        "Crawl-frontier URL canonicalization (functions.canonical_url): a narrow "
        "per-row Column chain (split_part/filter/array_sort — no UDF, one codegen "
        "span) derives the canonical key; the only exchange is the per-source "
        "distinct-count aggregation. The canonical key is what a production frontier "
        "shuffles/buckets on."
    ),
    "bloom_prune_join": (
        "Bloom semi-join reduction: the selective order keys fold into per-task uint64 "
        "bitmaps (mapInPandas) reduced by a zip_with OR; the one-row bitmap broadcasts and "
        "lineitem rows die at scan time on k array-index probes — before any shuffle. The "
        "exact join then runs on survivors only."
    ),
    "char_entropy_by_source": (
        "Alphabet-profiled char entropy: one tiny charset-bounded aggregate broadcasts the "
        "alphabet; per-row counts are JVM length/replace intrinsics inside the scan stage "
        "(no explode, no per-char shuffle); micro-bit integers make the rollup exact. The "
        "only wide op is the final (lang,source) groupBy."
    ),
    "encode_token_ids": (
        "Tokenizer apply: top-256 vocab via one count shuffle + TakeOrdered; the vocab folds "
        "into ONE broadcast map column and every document encodes narrowly "
        "(transform + element_at) — the corpus is never exploded for encoding."
    ),
    "bigram_xentropy_by_source": (
        "Char-bigram LM: model pass shuffles ≤ alphabet² partial counts per task; the "
        "finished model (and its context marginals) broadcast back, so the scoring pass "
        "only shuffles per-doc integer totals, never raw bigrams of the corpus."
    ),
    "embedding_centroids": (
        "Mean-pool centroids: map-side partial combine folds each task's vectors into one "
        "int64 sum-vector per (task,label); the exchange carries tasks×labels rows "
        "regardless of corpus size; zip_with folds partials, one division at the end."
    ),
    "dq_orders_report": (
        "Expectations gate: all five row-local constraints compile into ONE aggregate scan "
        "(one 1-row exchange); uniqueness adds the unavoidable key shuffle; the FK check is "
        "an anti join against the broadcast customer key set. Constraint count does not "
        "change the number of fact-table reads."
    ),
    "small_qty_revenue_q17ish": (
        "TPC-H Q17 (correlated scalar subquery), hand-decorrelated: brand filter prunes part "
        "to a broadcast key set; lineitem is semi-reduced at its scan by that broadcast; the "
        "per-part aggregate (≤ filtered parts rows) broadcasts BACK onto the detail rows — "
        "the fact table is never shuffled. Threshold compares in integers, immune to float "
        "ordering."
    ),
    "scd2_user_state": (
        "SCD2 interval build: both window passes (lag change-collapse, lead close-out) share "
        "one (user_id) partitioning — a single exchange + sort serves the whole dimension-"
        "history rewrite."
    ),
    "cdc_substring_dups": (
        "Exact-substring dedup: content-defined chunking is per-row JVM array math inside the "
        "scan stage (sequence→filter→transform, one md5 per window position); the only wide "
        "ops are groupBys keyed on chunk md5 — uniform by construction, skew-free."
    ),
    "kmeans_lloyd_counts": (
        "Full Lloyd iteration: each assignment is a broadcast fan-out + map-side-combinable "
        "max(struct) argmax (corpus shuffles 1 row/vector, not k); the centroid update's "
        "exchange carries tasks×k int64 sum-vectors regardless of corpus size."
    ),
    "key_skew_profile": (
        "Skew diagnostics: one map-side-combinable key histogram; the profile aggregates one "
        "row per key; top-10 is TakeOrdered. Costs a fraction of the join it protects."
    ),
    "semantic_dedup_report": (
        "SemDeDup: argmax cell assignment, pair cosine ONLY within a cell (a gemm per cell). "
        "Under the components gate the build's gate probe collects the pairs and a driver "
        "union-find labels them: the plan is the report aggregate over a LocalTableScan of "
        "labels, n_pairs and n_vectors literals. Above it, the star-contraction fixpoint."
    ),
    "hashed_ngram_quality_score": (
        "fastText-shape classifier inference: hashing-trick featurization and the integer "
        "linear scorer are per-row JVM array expressions inside the scan stage; the only "
        "exchange is the per-source rollup of exact integer sums."
    ),
    "triangle_count_copurchase": (
        "Triangles on a brand-sliced co-purchase graph. Under the lineitem-footer gate the "
        "incidence rows (one broadcast join) coalesce to ONE task whose numpy kernel does "
        "pairs, dedup and wedge join; above it two equi-joins on the distinct ordered edge "
        "list count each triangle once (wedge cost Σ deg²). Integer counts: byte-identical."
    ),
    "prefix_filtered_jaccard": (
        "PPJoin set-similarity join: one narrow shingle pass, frequency-sorted sets "
        "cached once for four consumers, prefix-only inverted-index join with the "
        "length and positional filters evaluated IN the join, verify on 64-bit hashed "
        "token arrays. The shuffled bytes are prefixes and 8-byte hashes — never full "
        "shingle text."
    ),
    "image_dhash_near_dup": (
        "Image near-dup: BMP payloads reduce to 64-bit dHash signatures in one Arrow "
        "pass (cached for banding and both verify sides); pairs are generated per 16-bit "
        "signature-band bucket (dedup.band_pairs, uncapped) — lossless at Hamming ≤3 by "
        "pigeonhole — and popcount-of-XOR verifies. "
        "Pixels never shuffle; only 8-byte signatures do."
    ),
    "benchmark_contamination": (
        "Decontamination probe: token hashes fold into 8-gram hashes inside the scan "
        "stage (no gram strings materialize); the ~1% eval side broadcasts, so the "
        "train-gram stream reaches the single agg exchange only where it matches."
    ),
    "order_count_distribution_q13ish": (
        "TPC-H Q13: LEFT OUTER join with the priority filter in the ON clause (zero-"
        "order customers survive), first aggregate on the join key partitioning, "
        "second on the tiny k-domain. Two exchanges, both AQE-coalesced."
    ),
    "min_cost_supplier_q2ish": (
        "TPC-H Q2 decorrelated: the per-part MIN subquery becomes a grouped agg "
        "joined back on (partkey, price); both aggs share the l_partkey exchange "
        "(ReusedExchange), part and supplier broadcast."
    ),
    "dsir_importance_by_source": (
        "DSIR selection: two bigram LMs (raw, target) each collapse to a dense "
        "broadcast grid; every doc folds both grids in one narrow pass, so the "
        "corpus shuffles only as (doc_id, 2 longs) into the per-source rollup."
    ),
    "bootstrap_revenue_ci": (
        "Poisson bootstrap: the 32-replicate fan-out happens inside the scan "
        "stage (explode + md5-derived weights); the only exchange carries 32 "
        "(rep, sum, n) partial rows — uncertainty quantification with zero "
        "resampled copies of the data."
    ),
    "dense_ids_documents": (
        "Dense id assignment: global_prefix_stats row number - 1 -- one "
        "hash exchange on the sampled range bucket + per-bucket "
        "row_number windows (parallel, one window group per bucket) + "
        "dense offset-array lookup — contiguous global ids with no "
        "single-partition sort anywhere in the plan."
    ),
    "segment_dedup_prune": (
        "RefinedWeb-style span dedup: segment explode -> one exchange on the "
        "segment text for the distinct-doc count -> verdict join back on the "
        "same key (AQE-splittable boilerplate skew) -> keyed reassembly on "
        "doc_id. The dup set is never broadcast or collected."
    ),
    "domain_cap_sample": (
        "Per-domain cap: WindowGroupLimit (partial + final) around the rank "
        "window -- a bounded top-20 heap per source, never a full sort of a "
        "domain's rows."
    ),
    "cusum_revenue_alarms": (
        "Sequential CUSUM as prefix scans: the max-0 recurrence rewritten via "
        "the reflection identity into running-sum + running-min windows over "
        "the bounded day series; 128-bit exact deviations; no ordered fold, "
        "no driver loop."
    ),
    "attribution_last_touch": (
        "Last-touch attribution: user-keyed interval join -> per-purchase "
        "rank argmax -> LEFT join back for 'direct' fallback. One exchange "
        "pair on user_id; revenue in integer cents."
    ),
    "late_order_priority_q4ish": (
        "TPC-H Q4 shape: correlated EXISTS decorrelated to a LEFT SEMI join "
        "whose condition spans both sides; date filter pushed to the orders "
        "scan; AQE reuses the orderkey partitioning."
    ),
    "join_size_estimate": (
        "Cardinality-estimation audit: key-count histograms on both sides, "
        "joined on distinct keys -- the exact join size without the join; "
        "independence and md5-key-sample estimates ride the same histogram."
    ),
    "clean_derivation_layer": (
        "P1 derivation layer over the full corpus (round 5): synthetic "
        "extractor outputs as codegen'd expressions feeding the production "
        "derive_clean + to_compat path -- one narrow per-row stage over one "
        "scan, zero exchanges; the whole 13-field projection is "
        "whole-stage-codegen'd."
    ),
    "kcore_copurchase": (
        "3-core peeling (round-5 oracle graduation): per round one keyed "
        "degree aggregate + two semi joins on the monotonically shrinking "
        "edge list; localCheckpoint every 4 rounds truncates lineage; the "
        "driver sees only convergence counts."
    ),
    "cms_heavy_hitters": (
        "Count-min sketch build (round-5 oracle graduation, md5 hash basis): "
        "mapInPandas folds each task's tokens into ONE d*w counter row, "
        "zip_with-sum reduce; the shuffle carries (tasks * d*w) counters, "
        "never keys -- memory independent of token cardinality."
    ),
    "ntile_analytics_orders": (
        "Round-6 global-window fix: the rank family rides "
        "plans.global_prefix_stats -- one hash exchange on the sampled "
        "range bucket __part, per-bucket Sort+Window (fully parallel), "
        "dense offset-array lookup; ntile/percent_rank/cume_dist "
        "are pure arithmetic over (rn, N). No Exchange SinglePartition, "
        "no unpartitioned WindowExec anywhere (plan-sweep-asserted)."
    ),
    "pareto_8020_customers": (
        "Round-6 global-window fix: customer rollup -> "
        "global_prefix_stats prefix sum (bucket hash exchange + parallel "
        "running sums + dense offset-array lookup); grand totals come "
        "from the same offsets pass as literals, so the old broadcast "
        "total crossJoin disappeared too."
    ),
    "token_budget_selection": (
        "New round-6 operator built ON global_prefix_stats: global "
        "quality ordering with a cumulative token budget cut -- the "
        "greedy corpus-mixing prefix computed without a one-partition "
        "sort; budget is a driver literal from the offsets pass."
    ),
    "rfm_segments": (
        "ONE plain keyed customer rollup (last_o ASC orders as recency "
        "DESC). Under the orders-footer gate it coalesces to ONE task "
        "whose numpy kernel scores the quintiles: one job. Above it the "
        "rollup is persisted and one global_prefix_stats_multi call "
        "ranks it (sample, offsets, final: 3 actions); quintiles are "
        "arithmetic over (rn, N) on both branches."
    ),
    "peak_concurrent_sessions": (
        "Round-8 shape: sessionize shuffle + keyed agg collapse to the "
        "kept boundary-point relation (2 rows/session, pinned so the "
        "sample/offsets/final consumers stop re-running the sessionize "
        "window), one prefix-sum sweep, then a single deterministic "
        "struct-max (conc, earliest ts) -- no second pass over the "
        "sweep, no max-broadcast cross join."
    ),
    "shingle_novelty_by_source": (
        "Min-claimant novelty attribution: distinct (doc, shingle) -> "
        "groupBy(shingle) min -> re-join on shingle (exchange reused; "
        "both sides hash-partitioned identically) -> keyed rollup. "
        "Cost |shingles|; no pair generation."
    ),
    "sequence_packing_stats": (
        "Concatenate-and-cut packing audit: global ordered prefix sum "
        "over every document via global_prefix_stats, then pure integer "
        "span arithmetic + keyed rollup. The layout that would be a "
        "one-partition SUM OVER (ORDER BY) stays fully parallel."
    ),
    "vocab_growth_by_decile": (
        "Heaps-law saturation: global occurrence position over the "
        "EXPLODED bigram stream (the largest ranking input here) via "
        "global_prefix_stats; first-occurrence is a keyed min; decile "
        "assignment integer arithmetic over (rn, N)."
    ),
    "video_scene_changes": (
        "Content-level video op: one narrow Arrow pass (synthesis fused "
        "with per-frame Y-plane luma sums from real y4m bytes), then a lag "
        "window PARTITIONED by media and a keyed rollup -- per-frame "
        "stats never leave their media key."
    ),
}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from frontpage_spark import plans
    from frontpage_spark.queries import QUERIES
    from frontpage_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        f"# PLANS — physical plans of representative queries ({os.path.basename(sf)})",
        "",
        "Regenerate with: `python tools/dump_plans.py` (this file is its output).",
        "Above each plan, its size-gate records; `tune` small = AQE off.",
        "",
    ]
    gate = "- gate `{gate}`: {branch} (measured {measured}, limit {limit})"
    for name, note in SELECTED.items():
        with plans.keep_capture() as captured:
            df = QUERIES[name](spark, sf)
        gates = [gate.format(**g) for g in captured.gates]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines = buf.getvalue().splitlines()
        tree_end = next((i for i, l in enumerate(lines) if l.strip() == "" and i > 2), len(lines))
        tree = "\n".join(lines[:tree_end])
        scans = "\n".join(l for l in lines if "PushedFilters" in l or "ReadSchema" in l)
        out += [f"## {name}", "", note, "", *gates, "", "```", tree, "", scans, "```", ""]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()

"""Scale probe: replicate the sf0.1 tables N x with EXPANDING key
spaces (new keys, perturbed text, fresh vector ids — not duplicate
rows), run a representative operator slice at 1x and Nx, and report
wall-time scaling vs data scaling.

The point: a linear (or sublinear) time ratio at Nx the rows is
evidence the plan shape survives scale-up — no accidental O(n^2)
pair explosion, no driver bottleneck, no single-partition stage that
only worked because the input was small. A superlinear ratio names the
operator to fix. This is the local stand-in for the 1000-executor
question the engine is designed around.

Usage: python tools/scale_probe.py [factor] [--heavy | --zipf] [--md SCALE_PROBE.md]
       python tools/scale_probe.py --neargate
Writes the markdown report and prints one JSON line. --neargate
(VERDICT r10 item 4) measures the sessionize size gate's worst case
instead of asserting it: a zipf events corpus (~30% of rows on one hot
user) whose scan estimate sits just under _SESSIONIZE_STITCH_BYTES,
with both branches timed there. Below the gate the classic branch must
stay the faster one; if its hot-key window task blows past the stitch,
lower the constant. Per-query passes are bench.WARM_PASSES
(SPARK_GRAFT_WARM_PASSES).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bench-style drift calibration (VERDICT r10 item 1): the same two
# PINNED engine-independent probes bench.py times, with the same fixed
# anchor refs — so a steal episode can never again ship as a skew
# verdict. Probes run before AND after the timed slice; loadavg is
# stamped per measured pass.
from bench import (  # noqa: E402
    CALIBRATION_REF,
    WARM_PASSES,
    _calibrate,
    _loadavg,
    _secs,
    _wait_for_idle,
    time_query,
)

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/frontpage_scale_probe"

# per-query timed passes: median of bench.WARM_PASSES; a single pass
# that already ran longer than _LONG_PASS_S is accepted alone — at that
# length scheduler noise amortizes, and tripling a 400 s output-bound
# query buys nothing
_LONG_PASS_S = 120.0

# keys that must be OFFSET per replica so the key space grows with the
# data (duplicate keys would turn joins/dedup into artificial skew)
KEY_OFFSETS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000},
    "customer": {"c_custkey": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "supplier": {},
    "part": {},
    "nation": {},
    "region": {},
}

# representative operator slice: relational, dedup, text, vector,
# iterative, streaming-analog, time-series
PROBE_QUERIES = [
    "group_counts_q1",
    "revenue_topn_q3ish",
    "big_order_customers_q18ish",
    "dedup_exact",
    "minhash_lsh_candidates",
    "segment_dedup_prune",
    "doc_fingerprints",
    "embedding_topk_cosine",
    "embedding_centroids",
    "sessionize_users",
    # r11 (VERDICT r10 item 3): both sides of the sessionize and
    # components size gates — the gated entries pick one branch at
    # probe scale, the forced entries pin the production branch
    "sessionize_users_stitch",
    "attribution_last_touch",
    "cusum_revenue_alarms",
    "dup_clusters",
    "dup_clusters_distributed",
    "domain_cap_sample",
    # crosses its size gate at 10x (12M bidirected edges > 4M): the 1x
    # run takes the single-job local path, the Nx run the distributed
    # fixpoint — the probe therefore exercises the handoff itself
    "pagerank_part_supplier",
    # r6 additions: the curation operators and the global_prefix_stats
    # consumers (global ordered rank/prefix-sum WITHOUT a
    # single-partition window — the probe proves the two-pass scales)
    "gopher_quality_flags",
    "token_budget_selection",
    "shingle_novelty_by_source",
    "sequence_packing_stats",
    "vocab_growth_by_decile",
    # r8 additions (VERDICT r7 item 5): the round-7 curation operators
    # and the de-checkpointed stateless kcenter rewrite
    "chunking_stats",
    "blocklist_filter_stats",
    "kcenter_diverse_seeds",
    # r8: the ANN retrievals graduated to full oracles — probe their
    # corpus-side scaling (query side is fixed at 3 vectors)
    "embedding_knn_lsh",
    "embedding_knn_ivf",
]


def build_replica(spark, factor: int, out_dir: str, zipf: bool = False, tables=KEY_OFFSETS) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for table in tables:
        offsets = KEY_OFFSETS[table]
        src = spark.read.parquet(os.path.join(BASE, table + ".parquet"))
        if not offsets or factor == 1:
            parts = [src] if factor == 1 or not offsets else [src] * factor
        else:
            parts = []
            for i in range(factor):
                df = src
                for col, stride in offsets.items():
                    df = df.withColumn(col, F.col(col) + F.lit(i * stride))
                if table == "documents":
                    # perturb text so corpus-level dedup still has work
                    # to do instead of collapsing N replicas to one doc
                    df = df.withColumn(
                        "text", F.concat(F.col("text"), F.lit(f" rep{i}"))
                    )
                parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if zipf:
            out = _zipfify(out, table)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, table + ".parquet"))


# One 60-token base document for the zipf mega-cluster: every member is
# a light perturbation of it (suffix variant), so it is a NEAR-dup
# cluster (shared shingles, not byte-equal) — the worst case for LSH
# banding: one bucket holding ~30% of the corpus.
_MEGA_TEXT = " ".join(f"tok{i % 23} word{i % 17}" for i in range(30))


def _zipfify(df, table: str):
    """Collapse ~30% of rows onto ONE mega key (VERDICT r8 item 6): a
    real crawl's key distribution has a zipf head the uniform replicas
    lack. events gets one hyperactive user, customer one dominant
    nation (the salted-join target), documents one giant near-dup
    cluster. Membership is a deterministic hash coin so reruns agree."""
    from pyspark.sql import functions as F

    if table == "events":
        return df.withColumn(
            "user_id",
            F.when(
                F.pmod(F.xxhash64("event_id"), F.lit(10)) < 3, F.lit(424242)
            ).otherwise(F.col("user_id")),
        )
    if table == "customer":
        return df.withColumn(
            "c_nationkey",
            F.when(
                F.pmod(F.xxhash64("c_custkey"), F.lit(10)) < 3, F.lit(7)
            ).otherwise(F.col("c_nationkey")),
        )
    if table == "documents":
        return df.withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 3,
                F.concat(
                    F.lit(_MEGA_TEXT + " variant "),
                    F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                ),
            ).otherwise(F.col("text")),
        )
    return df


# skew-sensitive slice (VERDICT r8 item 6): the operators whose shuffle
# keys inherit the zipf head directly
ZIPF_QUERIES = [
    "dup_clusters",
    # r11: BOTH sides of each size gate (VERDICT r10 item 3) — the
    # gated name runs whatever the gate picks at this corpus size
    # (its gate records name it); the forced name runs the other branch
    "dup_clusters_distributed",
    "near_dup_verified",
    "minhash_lsh_candidates",
    "sessionize_users",
    "sessionize_users_stitch",
    "salted_skew_join",
    # r10: the mega near-dup cluster makes this operator's TRUE output
    # explode (112.8M qualifying pairs vs 2.4k organic at equal rows);
    # probe it output-normalized so a real plan regression is separable
    # from output growth (BENCH_zipf_r10 note)
    "prefix_filtered_jaccard",
]


# probe-only targets that are not registry queries: the FORCED branch
# of a size-gated operator, so the probe certifies the gate handoff
# instead of whichever single path the gate picks at this scale
# (VERDICT r10 item 3). sessionize's forced branch is already a
# registry entry (sessionize_users_stitch).
def _dup_clusters_forced_distributed(spark, sf_dir):
    from pyspark.sql import functions as F

    from frontpage_spark import queries

    limit = queries._SMALL_PAIR_GRAPH_ROWS
    queries._SMALL_PAIR_GRAPH_ROWS = 1
    try:
        labels = queries._dup_component_labels(spark, sf_dir)
    finally:
        queries._SMALL_PAIR_GRAPH_ROWS = limit
    return labels.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count("*").alias("n_members")
    )


EXTRA_QUERIES = {
    "dup_clusters_distributed": _dup_clusters_forced_distributed,
}

# gated registry name -> the probe row that forces its OTHER branch
# (used by the zipf gate-pair adjudication)
_GATE_PAIRS = {
    "sessionize_users": "sessionize_users_stitch",
    "dup_clusters": "dup_clusters_distributed",
}


def time_queries(spark, sf_dir: str, names=None) -> dict[str, dict]:
    """Per-operator warm timing: one untimed warm pass, then median of
    WARM_PASSES consecutive bench.time_query passes (single pass
    accepted past _LONG_PASS_S). Each record carries its raw samples,
    the 1-min loadavg observed right after each timed pass, so a
    contended sample is attributable in-artifact instead of shipping as
    a plan verdict, and the size-gate records of the last pass, so a
    verdict names the branch it measured."""
    from frontpage_spark.queries import QUERIES

    times: dict[str, dict] = {}
    for name in names if names is not None else PROBE_QUERIES:
        build = partial(EXTRA_QUERIES.get(name) or QUERIES[name], spark, sf_dir)
        print(f"# running {name} @ {sf_dir}", file=sys.stderr, flush=True)
        time_query(spark, build)
        samples: list[float] = []
        loads: list[float] = []
        for _ in range(WARM_PASSES):
            rec = time_query(spark, build)
            samples.append(round(_secs(rec), 3))
            loads.append(_loadavg()[0])
            if samples[-1] > _LONG_PASS_S:
                break
        rows = build().count()
        times[name] = {
            "t": round(statistics.median(samples), 3),
            "samples": samples,
            "load": loads,
            "rows": rows,
            "gates": rec["gates"],
        }
        spark.catalog.clearCache()
    return times


HEAVY_QUERIES = [
    # the operators whose candidate/pair generation COULD go quadratic
    "minhash_lsh_candidates",
    "near_dup_verified",
    "segment_dedup_prune",
    "cdc_substring_dups",
    "embedding_near_dup",
    "embedding_near_dup_lsh",
    "dup_clusters",
    "dup_clusters_distributed",
    "sessionize_users_stitch",
    "prefix_filtered_jaccard",
    # inverted-index postings self-joins (VERDICT r3 item 7): hot-term
    # postings lists COULD explode quadratically without the doc-pair
    # grouping/caps these queries carry
    "benchmark_contamination",
    "cross_source_ngram_overlap",
    "phrase_search_positional",
    "incremental_corpus_dedup",
    # r6: the ex-global-window family (VERDICT r5 items 1+5) — now
    # range-partitioned two-pass rank/prefix-sum via
    # plans.global_prefix_stats; probing proves the rewrite scales
    "rfm_segments",
    "ntile_analytics_orders",
    "pareto_8020_customers",
    "peak_concurrent_sessions",
    # r6: over-gate pagerank at 20x exercises more distributed rounds
    # than the 10x gate-handoff probe did (VERDICT r5 item 5)
    "pagerank_part_supplier",
]

# profile queries whose single-row output hides their pair volume ->
# the probe-slice query whose OUTPUT is that pair set. Above its size
# gate embedding_near_dup IS the lsh route plus a 4-column profile agg,
# so the honest work denominator is the lsh route's verified-pair count.
WORK_PROXY = {
    "embedding_near_dup": "embedding_near_dup_lsh",
}

# known compute models, shown in the report: replicas are NEAR-COPIES
# of each other (a mirror-heavy crawl), so pair-producing operators'
# true output grows ~replica^2 per original doc — their runtime must be
# judged against OUTPUT growth, not input growth.
NOTES = {
    "embedding_near_dup": (
        "size-gated: exact GEMM <=4096 rows, banded-LSH candidates above "
        "(this probe crosses the gate, so the Nx run IS the LSH route)"
    ),
    "embedding_near_dup_lsh": (
        "banded-LSH candidates -> exact verify, DuckDB-oracle-checked; "
        "replica vectors are exact dups (cos 1.0, recall 1.0), so true "
        "output grows ~replica^2 and cost must track output"
    ),
    "near_dup_verified": "LSH candidates + exact verify; cost tracks true near-dup pairs",
    "prefix_filtered_jaccard": "PPJoin; cost tracks qualifying pair count",
    "benchmark_contamination": "8-gram inverted index; postings bounded by gram rarity filter",
    "cross_source_ngram_overlap": "postings self-join grouped per gram before pairing",
    "phrase_search_positional": "positional index; join bounded by phrase-term postings",
    "incremental_corpus_dedup": (
        "membership semi-join of new-batch signatures vs history signature set: "
        "no candidate pairs, |new|*bands lookups however large history grows"
    ),
    "rfm_segments": "3x global_prefix_stats over the customer rollup (no single-partition window)",
    "ntile_analytics_orders": "global_prefix_stats over orders; rank family is arithmetic over (rn, N)",
    "pareto_8020_customers": "global_prefix_stats prefix sum over the customer rollup",
    "peak_concurrent_sessions": (
        "gps sweep over the kept boundary relation (~2 rows/SESSION, so ~2x "
        "events here — sessions are short); 3 linear passes (sample, offsets, "
        "one exchange+sort) over Nx points; the 1x run is job-latency-bound, "
        "so the ratio is the honest linear-work slope, not a blow-up"
    ),
    "pagerank_part_supplier": "over the 4M-edge size gate at this factor: distributed fixpoint, one shuffle/round",
    "gopher_quality_flags": "narrow array exprs + relational bigram repetition (near-unique keys, map-side combine)",
    "token_budget_selection": "global_prefix_stats cumsum over doc scores; budget from the offsets pass",
    "shingle_novelty_by_source": "min-claimant attribution, cost |shingles|, no pairs",
    "sequence_packing_stats": "global_prefix_stats over documents; integer span arithmetic",
    "vocab_growth_by_decile": "global_prefix_stats over the EXPLODED bigram stream + keyed first-occurrence min",
    "chunking_stats": "sequence+posexplode+slice windows, no shuffle; output ~ len/stride x input",
    "blocklist_filter_stats": "bigram explode + ONE broadcast hash join; cost ~ input words",
    "kcenter_diverse_seeds": (
        "K=8 stateless rounds: each recomputes min-dist to <=K broadcast "
        "center literals in one narrow pass + TakeOrdered(1) — no iterated "
        "state, no checkpoint; cost ~ K^2 x n arithmetic"
    ),
    "sessionize_users_stitch": (
        "FORCED over-gate branch (the gated pick per dir is in gates): "
        "two windows within (user, day-bucket) + per-bucket rollup "
        "stitch — bounded partitions however hot a key"
    ),
    "dup_clusters_distributed": (
        "FORCED over-gate branch: star-contraction fixpoint, per-round "
        "pin(); the gated name takes the local union-find at this size"
    ),
    "embedding_knn_lsh": (
        "corpus hashed once (4-plane signature fold); 3 queries x "
        "(planes+1) multiprobe buckets -> in-bucket exact cosine; cost ~ "
        "corpus scan + matched-bucket candidates"
    ),
    "embedding_knn_ivf": (
        "corpus assigned to its nearest of 16 broadcast centroids (one "
        "narrow argmin pass); 3 queries probe 2 cells; cost ~ corpus scan "
        "+ probed-cell candidates"
    ),
}


def _gate_branches(times: dict[str, dict]) -> dict[str, list[str]]:
    """gate -> every distinct "branch (measured vs limit)" among one
    dir's timed queries, read from their run records (a forced row
    adds its own branch next to the gated pick)."""
    seen: dict[str, set[str]] = {}
    for rec in times.values():
        for g in rec["gates"]:
            seen.setdefault(g["gate"], set()).add(
                f"{g['branch']} ({g['measured']} vs {g['limit']})"
            )
    return {gate: sorted(branches) for gate, branches in seen.items()}


def _calibration_envelope(spark, when: str) -> dict:
    cal = _calibrate(spark)
    return {
        f"calibration_{when}": cal["calibration"],
        f"box_drift_{when}": cal["box_drift"],
    }


def zipf_probe(spark, factor: int, md_path: str) -> None:
    """x1-uniform vs xN-uniform vs xN-zipf over the skew-sensitive
    slice: the question is whether the zipf head (one mega key at ~30%
    of rows) breaks the plan — AQE skew-split / salting / degenerate-
    bucket gates are supposed to absorb it, so zipf time should stay
    within a small factor of uniform time at the same row count
    (after accounting for the zipf corpus's own larger TRUE output,
    e.g. the mega near-dup cluster's pair set). Gate-forced rows run
    BOTH branches of the size-gated operators, and the artifact
    carries drift calibration + per-pass loadavg so machine weather is
    separable from skew (the r10 artifact's failure mode)."""
    load_start = _loadavg()
    idle_wait = _wait_for_idle()
    base_dir = os.path.join(WORK, "x1")
    big_dir = os.path.join(WORK, f"x{factor}")
    zipf_dir = os.path.join(WORK, f"x{factor}zipf")
    shutil.rmtree(WORK, ignore_errors=True)
    build_replica(spark, 1, base_dir)
    build_replica(spark, factor, big_dir)
    build_replica(spark, factor, zipf_dir, zipf=True)
    meta: dict = {
        "factor": factor,
        "mode": "zipf",
        "passes": WARM_PASSES,
        "loadavg_start": load_start,
        "idle_wait_sec": idle_wait,
        "calibration_ref": CALIBRATION_REF,
    }
    meta.update(_calibration_envelope(spark, "start"))
    t1 = time_queries(spark, base_dir, ZIPF_QUERIES)
    tu = time_queries(spark, big_dir, ZIPF_QUERIES)
    tz = time_queries(spark, zipf_dir, ZIPF_QUERIES)
    meta.update(_calibration_envelope(spark, "end"))
    meta["loadavg_end"] = _loadavg()
    g = meta["gates"] = {
        "x1": _gate_branches(t1),
        "uniform": _gate_branches(tu),
        "zipf": _gate_branches(tz),
    }
    lines = [
        f"# SCALE_PROBE (zipf skew) — sf0.1 x1 vs x{factor} uniform vs x{factor} zipf",
        "",
        "Generated by `python tools/scale_probe.py --zipf`. The zipf corpus",
        "collapses ~30% of rows onto ONE mega key per skew surface:",
        "events.user_id (one hyperactive user), customer.c_nationkey (one",
        "dominant nation under the salted join), documents.text (one giant",
        "NEAR-dup cluster — worst case for LSH banding). `zipf/uniform` is",
        "the skew penalty at equal row count; `verdict` is SKEW-FRAGILE when",
        "zipf time far exceeds uniform time after normalizing by the zipf",
        "corpus's own larger true output. Per-operator time = median of",
        f"{WARM_PASSES} warm passes (raw samples + per-pass 1-min loadavg",
        "shown); the pinned bench calibration probes ran before and after",
        "the slice, so box weather is measured, not inferred.",
        "",
        f"- loadavg start/end: {load_start} / {meta['loadavg_end']}"
        + (f" (waited {idle_wait:.0f}s for idle)" if idle_wait else ""),
        f"- box drift start: {meta['box_drift_start']}, end: {meta['box_drift_end']}"
        " (1.0 = the idle anchor box; >1 = this run's box was slower)",
        *(f"- gate branches {d}: {g[d]}" for d in g),
        "- `sessionize_users_stitch` is the forced over-gate branch of "
        "`sessionize_users`; `dup_clusters_distributed` forces the "
        "star-contraction branch (`_SMALL_PAIR_GRAPH_ROWS` = 1)",
        "",
        f"| operator | 1x sec | x{factor} uniform sec | x{factor} zipf sec | zipf/uniform | out uniform | out zipf | out ratio | verdict | zipf samples | zipf loadavg |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    results = {}
    for name in ZIPF_QUERIES:
        a, bu, bz = t1[name], tu[name], tz[name]
        pen = bz["t"] / bu["t"] if bu["t"] > 0 else float("inf")
        ou, oz = bu["rows"], bz["rows"]
        out_ratio = (oz / ou) if ou > 0 else float(max(oz, 1))
        # the skew penalty is judged against how much MORE true output
        # the zipf corpus demands (mega-cluster pair sets are real work)
        allowance = max(1.0, out_ratio)
        verdict = (
            "skew-absorbed" if pen <= allowance * 1.5 else "SKEW-FRAGILE"
        )
        results[name] = {
            "t1": a["t"], "t_uniform": bu["t"], "t_zipf": bz["t"],
            "penalty": round(pen, 2), "out_uniform": ou, "out_zipf": oz,
            "out_ratio": round(out_ratio, 2), "verdict": verdict,
            "samples_zipf": bz["samples"], "load_zipf": bz["load"],
            "samples_uniform": bu["samples"], "load_uniform": bu["load"],
        }
    # Gate-pair adjudication (r11): for a SIZE-GATED operator measured
    # below its gate, the zipf/uniform ratio alone is the wrong
    # verdict function — the classic branch's hot-key task is bounded
    # by the gate itself, and the operative question is whether the
    # gate still PICKS THE FASTER BRANCH under skew. If the gated pick
    # pays a penalty but still beats the forced other branch on the
    # SAME zipf corpus, the gate is doing exactly its job.
    for gated, forced in _GATE_PAIRS.items():
        r, f = results.get(gated), results.get(forced)
        if r and f and r["verdict"] == "SKEW-FRAGILE" and r["t_zipf"] <= f["t_zipf"] * 1.1:
            r["verdict"] = (
                f"skew-bounded, gate-optimal ({r['t_zipf']}s beats forced "
                f"{forced} {f['t_zipf']}s on the same corpus)"
            )
    for name in ZIPF_QUERIES:
        r = results[name]
        lines.append(
            f"| {name} | {r['t1']} | {r['t_uniform']} | {r['t_zipf']} "
            f"| {r['penalty']:.2f}x | {r['out_uniform']} | {r['out_zipf']} "
            f"| {r['out_ratio']:.2f}x | {r['verdict']} "
            f"| {'/'.join(str(s) for s in r['samples_zipf'])} "
            f"| {'/'.join(str(x) for x in r['load_zipf'])} |"
        )
        note = ZIPF_NOTES.get(name)
        if note:
            lines.append(f"| ⮑ note | {note} | | | | | | | | | |")
    lines.append("")
    with open(md_path, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({**meta, "results": results}))
    shutil.rmtree(WORK, ignore_errors=True)


def neargate_probe(spark) -> None:
    """--neargate: sf0.1 events alone, replicated and zipf-collapsed
    exactly as the zipf corpus is, to 97% of the sessionize gate (the
    collapsed user_id compresses better than organic ids, so the margin
    keeps the achieved estimate under it; the gated query's gate
    records show what the gate saw). Times the gated query and its
    forced stitch branch."""
    from pyspark.sql import functions as F

    from frontpage_spark.incremental import _SESSIONIZE_STITCH_BYTES, _plan_size_bytes
    from frontpage_spark.sources import load_table

    base_bytes = _plan_size_bytes(load_table(spark, BASE, "events"))
    factor = max(1, int(_SESSIONIZE_STITCH_BYTES * 0.97 / base_bytes))
    out_dir = os.path.join(WORK, "neargate")
    shutil.rmtree(WORK, ignore_errors=True)
    build_replica(spark, factor, out_dir, zipf=True, tables=["events"])
    events = load_table(spark, out_dir, "events")
    rows = events.count()
    hot = events.filter(F.col("user_id") == 424242).count()
    gated = "sessionize_users"
    forced = _GATE_PAIRS[gated]
    t = time_queries(spark, out_dir, [gated, forced])
    print(json.dumps({
        "mode": "neargate",
        "factor": factor,
        "passes": WARM_PASSES,
        "gates": _gate_branches({gated: t[gated]}),
        "rows": rows,
        "hot_key_share": round(hot / rows, 3),
        gated: t[gated],
        forced: t[forced],
        "stitch_over_classic": round(t[forced]["t"] / t[gated]["t"], 3),
    }))
    shutil.rmtree(WORK, ignore_errors=True)


ZIPF_NOTES = {
    "dup_clusters": (
        "pair discovery contracts exact-(blk,prefix) groups to one "
        "representative + star edges (r9 fix: the predicate is a pure "
        "function of the prefix, so groups are cliques and the "
        "contraction is connectivity-exact); pair volume follows "
        "DISTINCT prefixes, not rows, so the mega-prefix group no "
        "longer pairs quadratically. components then contract the "
        "giant star in O(log^2 n) rounds"
    ),
    "near_dup_verified": (
        "the mega cluster lands in ONE lsh bucket; the degenerate-bucket "
        "gate caps in-bucket pairing, so cost tracks the capped candidate "
        "set, not |bucket|^2"
    ),
    "minhash_lsh_candidates": "candidate generation under the same degenerate bucket",
    "sessionize_users": (
        "one user holds ~30% of events: r9 two-level sessionize windows "
        "within (user, day-bucket) and stitches boundaries via a "
        "per-bucket rollup (lag of last-epoch + prefix sum of session "
        "starts), so the hot key's window partitions stay bounded — "
        "bit-equal to the single-window form (equivalence test pins it)"
    ),
    "salted_skew_join": (
        "one nation holds ~30% of customers: the 8-way salt fan-out is "
        "the designed mitigation — penalty should be ~1x"
    ),
    "sessionize_users_stitch": (
        "the FORCED over-gate branch: bounded-partition two-level "
        "stitch — the plan every corpus above the size gate takes; its zipf "
        "penalty is the one that matters at 100 TB"
    ),
    "dup_clusters_distributed": (
        "the FORCED over-gate branch: star-contraction fixpoint with "
        "per-round pin() — the plan any at-scale pair graph takes"
    ),
}


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10
    md_path = "SCALE_PROBE.md"
    if "--md" in sys.argv:
        md_path = sys.argv[sys.argv.index("--md") + 1]
    if "--heavy" in sys.argv:
        global PROBE_QUERIES
        PROBE_QUERIES = HEAVY_QUERIES

    from frontpage_spark.session import default_parallelism, get_spark

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    if "--zipf" in sys.argv:
        zipf_probe(spark, factor, md_path)
        return
    if "--neargate" in sys.argv:
        neargate_probe(spark)
        return

    load_start = _loadavg()
    idle_wait = _wait_for_idle()
    base_dir = os.path.join(WORK, "x1")
    big_dir = os.path.join(WORK, f"x{factor}")
    shutil.rmtree(WORK, ignore_errors=True)
    build_replica(spark, 1, base_dir)
    build_replica(spark, factor, big_dir)

    meta: dict = {
        "factor": factor,
        "passes": WARM_PASSES,
        "loadavg_start": load_start,
        "idle_wait_sec": idle_wait,
        "calibration_ref": CALIBRATION_REF,
    }
    meta.update(_calibration_envelope(spark, "start"))
    t1 = time_queries(spark, base_dir)
    tn = time_queries(spark, big_dir)
    meta.update(_calibration_envelope(spark, "end"))
    meta["loadavg_end"] = _loadavg()
    g = meta["gates"] = {"x1": _gate_branches(t1), f"x{factor}": _gate_branches(tn)}
    lines = [
        f"# SCALE_PROBE — sf0.1 x1 vs x{factor} (expanding key space)",
        "",
        "Generated by `python tools/scale_probe.py` — wall-clock per operator",
        f"(median of {WARM_PASSES} warm passes, noop sink, local[{default_parallelism()}]) at 1x",
        f"and {factor}x rows. Replicas offset every key column and lightly",
        f"perturb document text, so the {factor}x corpus behaves like a",
        f"mirror-heavy crawl: every document gains {factor}-1 near-copies.",
        "Pair-producing operators therefore see their TRUE OUTPUT grow",
        "~quadratically in the replica count — the honest scaling reference",
        "for them is max(input growth, output growth), shown as `work",
        "ratio`. `verdict` is SUPERLINEAR only when time grows well beyond",
        "that. Size-gated operators appear on BOTH branches (gated name +",
        "forced `_distributed`/`_stitch` name).",
        "",
        f"- loadavg start/end: {load_start} / {meta['loadavg_end']}"
        + (f" (waited {idle_wait:.0f}s for idle)" if idle_wait else ""),
        f"- box drift start: {meta['box_drift_start']}, end: {meta['box_drift_end']}"
        " (pinned bench probes; 1.0 = idle anchor box)",
        *(f"- gate branches {d}: {g[d]}" for d in g),
        "",
        f"| operator | 1x sec | {factor}x sec | time ratio | out 1x | out {factor}x | work ratio | verdict | {factor}x samples | note |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    results = {}
    for name in PROBE_QUERIES:
        a, b = t1[name], tn[name]
        r = b["t"] / a["t"] if a["t"] > 0 else float("inf")
        oa, ob = a["rows"], b["rows"]
        # profile-shaped queries return a fixed-size aggregate (out==1
        # at every scale), which hides the pair volume they actually
        # score; take the work denominator from the named proxy whose
        # OUTPUT is that pair set
        proxy = WORK_PROXY.get(name)
        if proxy and proxy in t1 and proxy in tn:
            oa, ob = t1[proxy]["rows"], tn[proxy]["rows"]
        out_ratio = (ob / oa) if oa > 0 else float(max(ob, 1))
        work = max(factor, out_ratio)
        verdict = (
            "sublinear" if r < work * 0.8
            else "linear" if r <= work * 1.5
            else "SUPERLINEAR"
        )
        note = NOTES.get(name, "")
        results[name] = {
            "t1": a["t"], "tn": b["t"], "ratio": round(r, 2),
            "out1": oa, "outn": ob, "work_ratio": round(work, 2),
            "verdict": verdict,
            "samples_n": b["samples"], "load_n": b["load"],
        }
        lines.append(
            f"| {name} | {a['t']} | {b['t']} | {r:.2f}x | {oa} | {ob} "
            f"| {work:.1f}x | {verdict} "
            f"| {'/'.join(str(s) for s in b['samples'])} | {note} |"
        )
    lines.append("")
    with open(md_path, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({**meta, "results": results}))
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()

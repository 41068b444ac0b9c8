"""BENCH harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also times the DuckDB oracle for each query (the practical baseline per
BASELINE.md) by DEFAULT — per-query oracle secs land in
"oracle_queries", the suite-level warm/oracle ratio in "ratio" (the
number BASELINE.md's 2x acceptance bar is defined on). Each oracle runs
under a DUCK_TIMEOUT_S interrupt cap; a capped query is listed in
"oracle_timeouts" and "ratio" covers the finished ones, so one process
and one calibration window serve sf0.1, organic sf1 and x10-zipf alike.
Pass --no-oracle to skip the DuckDB pass.

Usage: python bench.py [query ...] [--no-oracle]
Query names default to the frozen HEADLINE set; any registered query
can be named, which makes this the per-query profiler too: "layers"
splits each query's median warm pass into build_s / exec_s / jobs /
stages, and lists the branch each size gate took ("gates").
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "phone_mine_segments",
    "url_parse_tokens",
    "group_counts_q1",
    "enrich_broadcast",
    "topk_orders",
    "json_props_extract",
    "dedup_exact",
    "minhash_lsh_candidates",
    "simhash_buckets",
    "embedding_topk_cosine",
    "text_quality_by_lang",
    "token_counts_by_source",
    "doc_fingerprints",
    "sessionize_users",
    "tumbling_window_counts",
    "incremental_delta_scan",
    "sentiment_by_source",
    "rolling_hash_fingerprints",
    "topn_per_segment",
    "set_ops_customers",
    "lang_id_heuristic",
    "salted_skew_join",
    "asof_click_purchase",
    "percentiles_by_status",
    "pivot_status_by_year",
    "range_join_clicks",
    "hash_sample_orders",
    "stratified_sample_docs",
    "quantize_embeddings",
    "near_dup_verified",
    "multimodal_decode",
    "embedding_near_dup",
    "revenue_topn_q3ish",
    "regional_revenue_q5ish",
    "quality_filter_funnel",
    "tfidf_top_terms",
    "pii_scrub_stats",
    "session_window_stats",
    "dup_clusters",
    "kmeans_assign_counts",
    "boilerplate_token_prune",
    "zorder_bucket_stats",
    "char_entropy_by_source",
    "dq_orders_report",
    "pagerank_part_supplier",
    "embedding_centroids",
    "small_qty_revenue_q17ish",
    "scd2_user_state",
    "key_skew_profile",
    "mad_price_by_status",
    "cohort_retention",
    # heavy round-2 additions (VERDICT r2 item 6 — bench the long tail)
    "cdc_substring_dups",
    "kmeans_lloyd_counts",
    "semantic_dedup_report",
    "benchmark_contamination",
    "recursive_ancestor_depths",
    "triangle_count_copurchase",
    # round-3 additions: new heavy/representative operators
    "bpe_train_merges",
    "prefix_filtered_jaccard",
    "audio_rms_profile",
    "image_dhash_near_dup",
    "sliding_distinct_users",
    "rolling_zscore_anomalies",
    "bm25_keyword_search",
    "quality_score_auc",
    "split_leakage_audit",
    "order_count_distribution_q13ish",
    "min_cost_supplier_q2ish",
    # round-3 session additions: LLM-pipeline + analytics + TPC-H closure
    "segment_dedup_prune",
    "luhn_cc_audit",
    "attribution_last_touch",
    "rfm_segments",
    "cusum_revenue_alarms",
    "bination_volume_q7ish",
    "big_order_customers_q18ish",
    "forecast_revenue_q6ish",
    # round-4: the oracle-checked embedding-dedup scale path
    "embedding_near_dup_lsh",
    # NOTE: the headline set is intentionally FROZEN at these 77 so the
    # suite ratio stays comparable round over round (BASELINE.md's bar
    # is defined on it). Newer operators get their timing evidence from
    # `bench.py <query ...>`, SCALE_PROBE*.md, and BENCH_sf1 instead of
    # growing this list.
]


WARM_PASSES = max(1, int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "3")))
# clamped to >= 1 (ADVICE r10): 0/negative would only blow up in
# statistics.median AFTER the expensive cold pass already ran.
# per-query warm time = median over this many interleaved passes; the
# env override exists for the heavy standing flavors (sf1 / x10-zipf),
# where one warm pass is already minutes — warm_passes lands in the
# JSON so a reader sees which protocol produced the artifact.

# ---- box-drift calibration (VERDICT r9 item 2) -----------------------------
# Two pinned ENGINE-INDEPENDENT probes timed alongside every bench run:
# a synthetic Spark plan written out literally here (it never changes
# with engine code — same plan text every round) and a synthetic DuckDB
# aggregation (no dependence on $SPARK_GRAFT_SF_DIR either, so the
# numbers are comparable across flavors). box_drift = measured/ref per
# probe; a ratio shift that tracks box_drift is machine weather, one
# that doesn't is code. The refs are the calibration MEASURED BY THE
# ANCHOR RUN — BENCH_local_r15, 4 cores / 15 GB, probes timed at
# end-of-suite exactly like every future run — so r15 reads drift==1.0
# by construction and later rounds are measured in the identical
# context. The series breaks there: BENCH_local_r03..r12 ran on a
# 32-core box against the previous pin, which this box reads as a 3.2x
# Spark-probe "drift" (hardware, not weather). Re-pin ONLY if the
# hardware changes, never per round: the whole point is a fixed
# denominator. The statistic is min-of-5, not median: a steal episode
# can cover a whole 3-sample window, and min <= median biases later
# drift slightly LOW, which only ever under-claims an improvement.
CALIBRATION_REF = {"spark_synth": 8.335, "duckdb_synth": 2.459}


def _calibrate(spark, passes: int = 5) -> dict:
    """Median wall time of the two pinned probes (see CALIBRATION_REF)."""
    from pyspark.sql import functions as F

    def spark_probe() -> float:
        t0 = time.time()
        (
            spark.range(0, 60_000_000, 1, 32)
            .select(
                (F.col("id") * 2654435761 % 1000003).alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            )
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("m"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.time() - t0

    def duckdb_probe() -> float:
        import duckdb

        con = duckdb.connect()
        t0 = time.time()
        con.execute(
            "SELECT (range * 2654435761) % 1000003 AS k, count(*) AS n,"
            " sum(range % 97) AS s FROM range(20000000) GROUP BY k"
            " ORDER BY n DESC LIMIT 5"
        ).fetchall()
        dt = time.time() - t0
        con.close()
        return dt

    spark_probe()  # codegen/JIT warm-up, not timed (the bench calls
    spark_probe()  # this AFTER the suite, so the JVM is already hot;
    duckdb_probe()  # two warm-ups keep a standalone call comparable)
    # MIN, not median: the probes estimate the box's current CAPABILITY,
    # and a steal episode can cover all N samples of a short probe (a
    # 3.7x duckdb drift was observed while the suite itself ran clean) —
    # the min is the least episode-contaminated sample
    sp = min(spark_probe() for _ in range(passes))
    du = min(duckdb_probe() for _ in range(passes))
    cal = {"spark_synth": round(sp, 3), "duckdb_synth": round(du, 3)}
    drift = {k: round(cal[k] / CALIBRATION_REF[k], 3) for k in cal}
    return {"calibration": cal, "calibration_ref": CALIBRATION_REF, "box_drift": drift}


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover - non-POSIX
        return [-1.0, -1.0, -1.0]


def _wait_for_idle(max_wait_s: float = 90.0, threshold: float | None = None) -> float:
    """If the box is visibly busy before we even start (another build,
    a concurrent pytest, ...), wait briefly for it to drain so the bench
    measures the engine, not the neighbor.  Returns seconds waited; the
    stamp lands in the JSON either way so a reader can adjudicate."""
    cpus = os.cpu_count() or 32
    if threshold is None:
        threshold = max(4.0, cpus / 4.0)
    waited = 0.0
    while waited < max_wait_s and _loadavg()[0] > threshold:
        time.sleep(5.0)
        waited += 5.0
    return waited


# Per-query DuckDB interrupt cap. At organic sf1 and x10-zipf the
# oracle's quadratic embedding heavies (list-fold all-pairs cosine) do
# not finish in any useful time — exactly the gap the engine's
# size-gated scale paths exist to close — so a capped query is listed
# in "oracle_timeouts" instead of stalling the run.
DUCK_TIMEOUT_S = 180.0


def time_query(spark, build) -> dict:
    """One timed call: ``build()`` the DataFrame, write it to the noop
    sink, then clearCache(). build_s + exec_s is the call's time; jobs
    and stages are the ones the call launched in the caller's job group,
    attributed by job-id VALUE (the status store neither orders its
    list nor keeps every job); gates are the call's size-gate records
    (``plans.size_gate``), a plan-cache hit included."""
    from frontpage_spark import plans
    from frontpage_spark.queries import _last_job_id

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = _last_job_id(tracker, group)
    t0 = time.time()
    with plans.keep_capture() as captured:
        df = build()
    t1 = time.time()
    # noop sink: materializes EVERY output column (count() would let
    # Catalyst prune the expensive projections right out of the plan)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    jobs = [j for j in tracker.getJobIdsForGroup(group) if j > before]
    infos = [tracker.getJobInfo(j) for j in jobs]
    # queries that persist() intermediates (near-dup, tf-idf) create a
    # fresh cached DataFrame per call; drop those orphans so later
    # queries aren't timed against another query's cache churn
    spark.catalog.clearCache()
    return {
        "build_s": t1 - t0,
        "exec_s": t2 - t1,
        "jobs": len(jobs),
        "stages": sum(len(i.stageIds) for i in infos if i is not None),
        "gates": captured.gates,
    }


def _secs(rec: dict) -> float:
    return rec["build_s"] + rec["exec_s"]


def oracle_pass(con, sqls: dict, spark_secs: dict, passes: int, timeout_s: float = DUCK_TIMEOUT_S) -> dict:
    """Time each oracle in ``sqls`` on ``con`` with the Spark side's
    interleaved median-of-``passes`` protocol. An execution still
    running at ``timeout_s`` is interrupted; its query goes into
    oracle_timeouts and is not re-run. ``ratio`` is warm Spark over
    DuckDB, summed over the finished queries (BASELINE.md judges the 2x
    bar at suite level)."""
    import duckdb

    samples: dict[str, list[float]] = {n: [] for n in sqls}
    timeouts: list[str] = []
    for _ in range(passes):
        for name, sql in sqls.items():
            if name in timeouts:
                continue
            timer = threading.Timer(timeout_s, con.interrupt)
            timer.start()
            t0 = time.time()
            try:
                con.execute(sql).fetchall()
                samples[name].append(time.time() - t0)
            except duckdb.InterruptException:
                timeouts.append(name)
                print(f"# {name}: DuckDB interrupted at {timeout_s:.0f}s", file=sys.stderr)
            finally:
                timer.cancel()
                timer.join()
    oracle_q = {
        n: round(statistics.median(s), 3) for n, s in samples.items() if n not in timeouts
    }
    total = sum(oracle_q.values())
    spark_total = sum(spark_secs[n] for n in oracle_q)
    return {
        "oracle_queries": oracle_q,
        "oracle_timeouts": timeouts,
        "oracle_value": round(total, 3),
        "ratio": round(spark_total / total, 3) if total else None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with_oracle = "--no-oracle" not in sys.argv
    names = [a for a in sys.argv[1:] if a != "--no-oracle"] or HEADLINE

    from frontpage_spark.queries import ORACLES, QUERIES
    from frontpage_spark.session import default_parallelism, get_spark

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    load_start = _loadavg()
    idle_wait = _wait_for_idle()

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen once so per-query numbers measure the plan,
    # not first-call classloading
    QUERIES["global_minmax"](spark, sf_dir).collect()

    # per-query 1-min loadavg observed right after each warm sample —
    # a contended sample (another build sharing the driver box) is then
    # visibly attributable instead of looking like an engine regression
    # (r3/r4 driver artifacts both showed 5-10x one-off spikes on the
    # gemm-path heavies that never reproduced locally)
    query_loads: dict[str, list[float]] = {name: [] for name in names}

    # Pass 1 (cold): includes each plan's one-time whole-stage-codegen
    # compile — a per-plan constant that amortizes to zero at real data
    # scale.  Warm passes (x3, interleaved): steady-state execution, the
    # number that is comparable across engines and scales with the data.
    # Per-query warm = MEDIAN over the interleaved passes, so a transient
    # CPU spike from a concurrent process poisons at most one sample per
    # query instead of the whole artifact (round-3 postmortem: a single
    # contended pass produced an irreproducible suite-level 4.5x).
    cold_query: dict[str, float] = {}
    warm_samples: dict[str, list[dict]] = {name: [] for name in names}
    for name in names:
        cold_query[name] = round(_secs(time_query(spark, partial(QUERIES[name], spark, sf_dir))), 3)
    pass_loads: list[list[float]] = []
    for _ in range(WARM_PASSES):
        pass_loads.append(_loadavg())
        for name in names:
            warm_samples[name].append(time_query(spark, partial(QUERIES[name], spark, sf_dir)))
            query_loads[name].append(_loadavg()[0])

    per_query: dict[str, float] = {}
    layers: dict[str, dict] = {}
    total = 0.0
    for name in names:
        secs = [_secs(r) for r in warm_samples[name]]
        med = statistics.median(secs)
        per_query[name] = round(med, 3)
        total += med
        # the layers of the pass whose time is the median (the upper
        # middle one for an even pass count)
        mid = sorted(warm_samples[name], key=_secs)[len(secs) // 2]
        layers[name] = {k: v if k == "gates" else round(v, 3) for k, v in mid.items()}
        samples = "/".join(f"{s:.2f}" for s in secs)
        print(
            f"# {name}: {med:.2f}s (samples {samples}, cold {cold_query[name]:.2f}s,"
            f" {mid['jobs']} jobs, {mid['stages']} stages)",
            file=sys.stderr,
        )

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "warm_passes": WARM_PASSES,
        "pass_totals": [
            round(sum(_secs(warm_samples[n][i]) for n in names), 3)
            for i in range(WARM_PASSES)
        ],
        "cold_value": round(sum(cold_query.values()), 3),
        "cold_queries": cold_query,
        "layers": layers,
        "sf": sf_dir,
        "cpus": default_parallelism(),
        "loadavg_start": load_start,
        "loadavg_passes": pass_loads,
        "query_loadavg": query_loads,
        "idle_wait_sec": idle_wait,
    }

    if with_oracle:
        from tools.check import duckdb_con

        covered = {n: ORACLES[n] for n in names if n in ORACLES}
        with duckdb_con(sf_dir) as con:
            out.update(oracle_pass(con, covered, per_query, WARM_PASSES))

    # box-drift probes LAST so they never warm/poison the measured
    # queries; ratio_drift_corrected divides out the asymmetric part of
    # machine weather (a JVM-side slowdown DuckDB didn't feel inflates
    # the raw ratio by spark_drift/duckdb_drift)
    out.update(_calibrate(spark))
    if out.get("ratio") is not None:
        d = out["box_drift"]
        agree = d["duckdb_synth"] / d["spark_synth"]
        if 0.5 <= agree <= 2.0:
            out["ratio_drift_corrected"] = round(out["ratio"] * agree, 3)
        else:
            # the probes disagreeing by >2x means a steal episode hit
            # DURING calibration (not uniform box drift) — a correction
            # computed from it would be noise, so publish none
            out["ratio_drift_corrected"] = None
            out["calibration_note"] = (
                "probes disagree (duckdb/spark drift {:.2f}) — episode "
                "during calibration, correction suppressed".format(agree)
            )

    out["loadavg_end"] = _loadavg()
    # tail echo (VERDICT r10 item 6): the driver retains only the LAST
    # ~2000 chars of the line, and the big per-query maps push "value"
    # (which leads the dict per the driver contract) off the retained
    # window — re-emit the suite totals as the FINAL keys so the round
    # series stays parseable from the tail alone
    out["totals_tail"] = {
        "value": out["value"],
        "cold_value": out["cold_value"],
        "oracle_value": out.get("oracle_value"),
        "ratio": out.get("ratio"),
        "ratio_drift_corrected": out.get("ratio_drift_corrected"),
        "warm_passes": WARM_PASSES,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

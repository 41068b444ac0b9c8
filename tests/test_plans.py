"""Physical-plan assertions: salting correctness, bucketed joins run
shuffle-free."""

import pytest
from pyspark.sql import functions as F

from frontpage_spark.plans import count_exchanges, salted_join, write_bucketed


def test_salted_join_matches_plain_join(spark):
    # one monster key (0) + a uniform tail
    left = spark.range(0, 2000).select(
        F.when(F.col("id") < 1000, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame([(0, "hot"), (1500, "cold")], ["k", "tag"])
    plain = left.join(right, "k").select("k", "v", "tag")
    salted = salted_join(left, right, "k", n_salt=4).select("k", "v", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    left = spark.range(0, 1000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(0, "x")], ["k", "tag"])
    out = salted_join(left, right, "k", n_salt=8)
    # the single hot key now occupies several distinct salt partitions
    from frontpage_spark.plans import SALT_COL

    salt = F.pmod(F.xxhash64(*[F.col(c) for c in ["k", "v"]]), F.lit(8))
    n_salts = left.withColumn(SALT_COL, salt).select(SALT_COL).distinct().count()
    assert n_salts >= 4
    assert out.count() == 1000


def test_bucketed_join_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
        b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
        write_bucketed(a, "bkt_a", "k", n_buckets=4)
        write_bucketed(b, "bkt_b", "k", n_buckets=4)
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        assert joined.count() == 1000
        assert count_exchanges(joined) == 0  # bucketing replaced the shuffle
        # same key aggregation is also exchange-free
        agg = spark.table("bkt_a").groupBy("k").agg(F.sum("a").alias("s"))
        agg.collect()
        assert count_exchanges(agg) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_write_partitioned_prunes(spark, tmp_path):
    """Partition-column filters prune directories in the scan
    (PartitionFilters), the first-line pruning for date-partitioned
    fact tables."""
    from frontpage_spark.plans import write_partitioned

    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", i * 1.0) for i in range(30)],
        ["id", "day", "v"],
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, "day")
    back = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the day predicate lands in PartitionFilters (directory pruning),
    # NOT in PushedFilters (row-group pruning after the read starts)
    pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "2024-01-02" in pf
    assert back.count() == 10


def test_compact_small_files(spark, tmp_path):
    """Compaction rewrites a many-file sink into few files with identical
    data (the streaming-sink maintenance op)."""
    import glob

    from frontpage_spark.plans import compact

    path = str(tmp_path / "sink")
    # simulate 5 micro-batch appends of 8 partitions each -> 40 files
    for i in range(5):
        spark.range(i * 100, (i + 1) * 100).repartition(8).write.mode("append").parquet(path)
    before = len(glob.glob(path + "/*.parquet"))
    assert before >= 40
    total_before = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]
    n_after = compact(spark, path)
    assert n_after < before and n_after >= 1
    assert spark.read.parquet(path).agg(F.sum("id")).collect()[0][0] == total_before
    assert spark.read.parquet(path).count() == 500


def _files_touched(path, x_lo, x_hi, y_lo, y_hi):
    """Count parquet files whose footer min/max for (x, y) intersect the
    box — the set a stats-pruning scan must read."""
    import os

    import pyarrow.parquet as pq

    touched = total = 0
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        xmin = ymin = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                name = col.path_in_schema
                if st is None or name not in ("x", "y"):
                    continue
                if name == "x":
                    xmin = st.min if xmin is None else min(xmin, st.min)
                    xmax = st.max if rg == 0 else max(xmax, st.max)  # noqa: F821
                else:
                    ymin = st.min if ymin is None else min(ymin, st.min)
                    ymax = st.max if rg == 0 else max(ymax, st.max)  # noqa: F821
        if xmin is None or ymin is None:
            touched += 1  # no stats -> cannot skip
        elif xmax >= x_lo and xmin <= x_hi and ymax >= y_lo and ymin <= y_hi:
            touched += 1
    return touched, total


def test_zorder_layout_skips_files(spark, tmp_path):
    from frontpage_spark.plans import write_zordered, zorder_key

    # uniform 2-d points; the z-curve should tile them into rectangles
    df = spark.range(0, 4096).select(
        (F.xxhash64("id") % 1024).alias("x0"), (F.xxhash64("id", "id") % 1024).alias("y0")
    ).select(F.abs("x0").alias("x"), F.abs("y0").alias("y"))
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "rr")
    write_zordered(df, zpath, "x", "y", n_files=16, bits=10)
    df.repartition(16).write.parquet(rpath)  # round-robin strawman

    box = (0, 255, 0, 255)  # a 1/16 corner of the space
    z_touched, z_total = _files_touched(zpath, *box)
    r_touched, r_total = _files_touched(rpath, *box)
    # round-robin files each span the whole domain -> no skipping at all
    assert r_touched == r_total
    # the z-layout must skip most files for a small box
    assert z_touched <= z_total // 2, (z_touched, z_total)

    # and the data survives the layout unchanged
    back = spark.read.parquet(zpath)
    assert back.count() == 4096
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_zorder_key_locality(spark):
    from frontpage_spark.plans import zorder_key

    # neighbors in (x, y) differ by a bounded amount in z within a tile
    rows = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], ["x", "y"]
    ).select("x", "y", zorder_key(F.col("x"), F.col("y"), 3).alias("z"))
    got = {(r.x, r.y): r.z for r in rows.collect()}
    # classic Morton: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3; 2x2 blocks contiguous
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2 and got[(1, 1)] == 3
    assert sorted(got.values()) == list(range(64))


def test_bloom_prune_no_false_negatives_and_prunes(spark):
    from frontpage_spark.plans import bloom_prune

    big = spark.range(0, 20000).select(F.col("id").alias("k"))
    small = spark.range(0, 20000).filter("id % 500 = 0").select(F.col("id").alias("sk"))
    pruned = bloom_prune(big, small, "k", "sk", num_bits=1 << 14, num_hashes=3)
    kept = {r.k for r in pruned.collect()}
    want = {r.sk for r in small.collect()}
    # Bloom invariant: every true match survives the prune
    assert want <= kept
    # and the filter actually filters (40 true keys; allow generous fp slack)
    assert len(kept) < 2000
    # empty small side -> everything pruned
    empty = small.filter("sk < 0")
    assert bloom_prune(big, empty, "k", "sk", num_bits=1 << 14).count() == 0


def test_bigram_xentropy_closed_form(spark):
    from frontpage_spark.ext.textstats import bigram_xentropy

    df = spark.createDataFrame(
        [(1, "ab"), (2, "ac"), (3, "x")], ["doc_id", "text"]
    )
    got = {r.doc_id: (r.su, r.n) for r in bigram_xentropy(df).collect()}
    # model: ab:1, ac:1 under context 'a' (n=2) -> p=1/2 -> -1e6 micro-bits
    assert got[1] == (-1_000_000, 1)
    assert got[2] == (-1_000_000, 1)
    assert 3 not in got  # too short to emit a bigram


def test_no_cartesian_product_in_any_query(spark):
    """Plan-invariant sweep over EVERY registered query: no
    CartesianProduct may appear in an executed plan. Intentional cross
    joins (cities_x_categories, scalar fan-outs, profile joins) must be
    broadcast nested loops (bounded small side), never a partitioned
    cartesian — the operator that dies first at 100 TB. Plans are built,
    not executed, so the sweep is cheap."""
    from frontpage_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    offenders = []
    slow_python = []
    for name, fn in sorted(QUERIES.items()):
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
        # second invariant, same sweep: Python reaches the JVM only
        # through Arrow batches (ArrowEvalPython / MapInPandas /
        # FlatMapGroupsInPandas) — a BatchEvalPython node means a
        # row-at-a-time UDF crept into a hot path (10-100x slower).
        if "BatchEvalPython" in plan:
            slow_python.append(name)
    assert offenders == [], f"cartesian products in: {offenders}"
    assert slow_python == [], f"row-at-a-time Python UDFs in: {slow_python}"


def test_dynamic_partition_pruning_from_dim_join(spark, tmp_path):
    """DPP: a filter on the DIMENSION side prunes the partitioned FACT
    scan at runtime via a dynamicpruning subquery — the 100 TB pattern
    where `sales JOIN dim ON pkey WHERE dim.attr = x` must read only
    the partitions the dim filter selects, even though no literal
    predicate on the partition column exists in the query."""
    from frontpage_spark.plans import write_partitioned

    fact = spark.createDataFrame(
        [(i, i % 5, i * 1.0) for i in range(200)], ["id", "day_k", "v"]
    )
    dim = spark.createDataFrame(
        [(k, f"name{k}") for k in range(5)], ["day_k", "day_name"]
    )
    path = str(tmp_path / "fact")
    write_partitioned(fact, path, "day_k")
    f = spark.read.parquet(path)
    q = f.join(F.broadcast(dim), "day_k").filter(F.col("day_name") == "name2")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert q.count() == 40


def test_global_prefix_stats_dense_ids_contiguous_and_ordered(spark):
    """Dense ids (global row number - 1, the ``dense_ids_documents``
    form) are 0..n-1, follow the global order, and never funnel through
    a one-partition sort (multiple range partitions hold data)."""
    from frontpage_spark.plans import global_prefix_stats

    df = spark.createDataFrame(
        [(k, i) for i in range(500) for k in ("b", "a")], ["k", "i"]
    )
    out = global_prefix_stats(
        df, [F.col("k"), F.col("i")], rn_col="dense_id", n_parts=8
    ).withColumn("dense_id", F.col("dense_id") - 1)
    rows = sorted(out.collect(), key=lambda r: r["dense_id"])
    assert [r["dense_id"] for r in rows] == list(range(1000))
    assert [(r["k"], r["i"]) for r in rows] == sorted(
        [(k, i) for i in range(500) for k in ("b", "a")]
    )


def test_dynamic_partition_overwrite_replaces_only_touched_days(spark, tmp_path):
    """partitionOverwriteMode=dynamic: an overwrite batch replaces ONLY
    the partitions it contains — the incremental fact-table correction
    pattern (restate one day, leave the rest of the table untouched).
    Static mode would have dropped every other day."""
    path = str(tmp_path / "fact")
    base = spark.createDataFrame(
        [(i, f"d{1 + i % 3}", "orig") for i in range(30)], ["id", "day", "tag"]
    )
    base.write.partitionBy("day").parquet(path)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix = spark.createDataFrame(
            [(100 + i, "d2", "fixed") for i in range(5)], ["id", "day", "tag"]
        )
        fix.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    back = spark.read.parquet(path)
    by_day = {
        r["day"]: (r["n"], r["tags"])
        for r in back.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_set("tag").alias("tags"))
        .collect()
    }
    assert by_day["d1"] == (10, ["orig"])
    assert by_day["d3"] == (10, ["orig"])
    assert by_day["d2"] == (5, ["fixed"])


def test_domain_cap_sample_uses_window_group_limit(spark):
    """The per-domain cap must plan as WindowGroupLimit (bounded top-k
    heap per key), not a full per-domain sort + filter — the
    difference between O(cap) and O(domain) memory when one domain
    holds a billion documents."""
    from frontpage_spark.queries import QUERIES

    df = QUERIES["domain_cap_sample"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert len(df.groupBy("source").count().filter("count > 20").take(1)) == 0


def test_segment_dedup_prune_planted_boilerplate(spark, tmp_path):
    """A span planted into several docs is removed from ALL of them
    (including the first/original), while unique spans survive — the
    RefinedWeb line-dedup contract, which differs from near-dup
    KEEP-ONE semantics."""
    from frontpage_spark.queries import QUERIES

    boiler = "all rights reserved click here now to subscribe"  # 8 words
    docs = [
        (0, boiler + " alpha beta gamma delta one two three four", "en", "s0", 0),
        (1, boiler + " epsilon zeta eta theta five six seven eight", "en", "s1", 0),
        (2, "iota kappa lam mu nine ten eleven twelve", "en", "s2", 0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in QUERIES["segment_dedup_prune"](spark, sf).collect()
    }
    # docs 0 and 1 each lose exactly the planted 8-word block
    assert out[0]["n_segments"] == 2 and out[0]["n_removed"] == 1
    assert out[1]["n_segments"] == 2 and out[1]["n_removed"] == 1
    # doc 2 is untouched and its reassembly hash matches its own text
    import hashlib

    assert out[2]["n_removed"] == 0
    assert out[2]["clean_md5"] == hashlib.md5(docs[2][1].encode()).hexdigest()


def test_q6_filters_reach_parquet_scan(spark):
    """Q6's whole point: all four conjunctive predicates must be pushed
    to the parquet scan (min/max prunable), and the plan must be
    scan -> filter -> partial agg -> single exchange, no join."""
    from frontpage_spark.queries import QUERIES

    df = QUERIES["forecast_revenue_q6ish"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert "Join" not in plan


def test_no_unpartitioned_window_over_unbounded_rows(spark):
    """Plan-invariant sweep (VERDICT r5 item 1): an unpartitioned
    WindowExec moves EVERY input row to ONE partition — fatal when the
    input grows with the data. The four offenders (rfm_segments,
    ntile_analytics_orders, pareto_8020_customers,
    peak_concurrent_sessions) now route through
    plans.global_prefix_stats (deterministic range buckets +
    per-partition windows + shipped offsets) and must stay fixed. The remaining
    unpartitioned windows sit over ROLLUP-BOUNDED inputs (calendar
    days/months, trained vocab, scored candidate sets) — allowlisted
    here so any NEW global window over unbounded rows fails this test
    until it is either routed through global_prefix_stats or
    justified below."""
    import re
    from frontpage_spark.queries import QUERIES

    # windows over inputs bounded by a prior rollup, not by data size
    ALLOWED = {
        "mom_revenue_change",        # per-month rollup (calendar-bounded)
        "locf_daily_value",          # per-day rollup
        "rolling_7d_revenue",        # per-day rollup
        "mean_shift_changepoint",    # per-day rollup
        "kaplan_meier_signup_to_purchase",  # per-day risk table
        "winsorize_prices",          # distinct clip thresholds (tiny)
        "encode_token_ids",          # trained vocab (top-k bounded)
        "bpe_encode_stats",          # trained vocab (top-k bounded)
        "bm25_keyword_search",       # scored candidates of ONE query's terms
        "quality_score_auc",         # per-DISTINCT-score rollup (bounded
                                     # by score cardinality, not corpus)
        "hybrid_search_rrf",         # two scored candidate lists
        "dsir_importance_weights",   # per-doc scores via vocab join
        "ks_test_price_by_flag",     # distinct values of the test statistic
        "survival_curve_km",         # per-day risk table
        "pareto_front_parts",        # two-phase skyline: global pass runs
                                     # over bounded LOCAL-skyline survivors
        "source_mixture_weights",    # per-source rollup (bounded)
    }
    FIXED = {
        "rfm_segments",
        "ntile_analytics_orders",
        "pareto_8020_customers",
        "peak_concurrent_sessions",
    }

    def unpartitioned_windows(plan: str) -> int:
        n = 0
        for line in plan.splitlines():
            s = line.strip().lstrip("+-*: ")
            # WindowGroupLimit is a pushed-down rank-limit ('[part],
            # [order], fn, k') — its partition spec is checked on the
            # accompanying Window node, so only inspect WindowExec.
            # Formats: '[exprs], [part], [order]' (partitioned+ordered),
            # '[exprs], [part]' (partitioned, frame-only),
            # '[exprs], [order]' (UNPARTITIONED sort — the killer),
            # '[exprs]' (unpartitioned frame-only). Order lists carry
            # ASC/DESC markers; partition lists never do.
            if s.startswith("Window "):
                lists = re.findall(r"\], \[([^\]]*)\]", line)
                if len(lists) == 0 or (
                    len(lists) == 1
                    and (" ASC " in lists[0] + " " or " DESC " in " " + lists[0] + " "
                         or "ASC NULLS" in lists[0] or "DESC NULLS" in lists[0])
                ):
                    n += 1
        return n

    sf = "/root/testdata/sf0.001"
    offenders = []
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        if unpartitioned_windows(plan) and name not in ALLOWED:
            offenders.append(name)
    assert not (set(offenders) & FIXED), f"regressed to global window: {offenders}"
    assert offenders == [], f"new unpartitioned windows over unbounded rows: {offenders}"


def test_global_prefix_stats_matches_window(spark):
    """global_prefix_stats (range-bucketed two-pass rank/prefix-sum)
    must reproduce row_number()/SUM() OVER (ORDER BY ...) and the
    SQL-standard ntile exactly — including descending orders, totals
    reporting, an empty input, and bucket counts on both sides of 64
    (the edge of the former literal-map/broadcast-join fork). An input
    with fewer rows than buckets (bucket 0 stays empty: the first
    boundary is the smallest key) rides the same offsets job. At 128
    buckets the plan
    holds one hash exchange per spec and no broadcast."""
    from pyspark.sql.window import Window
    from frontpage_spark.plans import (
        global_prefix_stats,
        global_prefix_stats_multi,
        ntile_from_rn,
    )

    def check(df, order, ref_order, n_parts):
        w = Window.orderBy(*ref_order)
        ref = df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.sum("k").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("ck"),
            F.ntile(7).over(w).cast("long").alias("t7"),
        )
        t: dict = {}
        got = global_prefix_stats(
            df, order, sums={"k": "ck"}, rn_col="rn", n_parts=n_parts, totals=t
        )
        assert dict(got.dtypes)["rn"] == "bigint"
        n = df.count()
        assert t["rn"] == n and t["k"] == sum(r["k"] for r in df.select("k").collect())
        got = got.select("id", "rn", "ck", ntile_from_rn(F.col("rn"), 7, n).alias("t7"))
        ref_rows = {r["id"]: (r["rn"], r["ck"], r["t7"]) for r in ref.collect()}
        got_rows = {r["id"]: (r["rn"], r["ck"], r["t7"]) for r in got.collect()}
        assert got_rows == ref_rows, n_parts
        return got

    df = spark.range(0, 997).select(
        F.col("id"),
        (F.xxhash64("id") % 50).alias("v"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("k"),
    )
    for n_parts in (13, 64, 65, 128):
        got = check(df, [(F.col("v"), "desc"), F.col("id")], [F.desc("v"), F.col("id")], n_parts)
    two = global_prefix_stats_multi(
        df,
        [{"order": [F.col("id")], "rn_col": "a"}, {"order": [F.col("v"), F.col("id")]}],
        n_parts=128,
    )
    for out, n_specs in ((got, 1), (two, 2)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        assert count_exchanges(out) == n_specs, plan
    small = spark.range(0, 5).select(F.col("id"), F.pmod(F.xxhash64("id"), F.lit(97)).alias("k"))
    got = check(small, [F.col("id")], [F.col("id")], 8)
    assert dict(got.dtypes)["ck"] == "bigint"
    # N < n: each row its own bucket (ntile edge case, no div-by-zero)
    small = spark.range(0, 3).select(F.col("id"))
    t2: dict = {}
    s = global_prefix_stats(small, [F.col("id")], rn_col="rn", totals=t2)
    rows = {r["id"]: r["t"] for r in s.select("id", ntile_from_rn(F.col("rn"), 7, t2["rn"]).alias("t")).collect()}
    assert rows == {0: 1, 1: 2, 2: 3}
    # empty input: no rows, no crash, totals zero
    t3: dict = {}
    empty = global_prefix_stats(small.filter("id < 0"), [F.col("id")], totals=t3)
    assert empty.count() == 0 and t3["rn"] == 0
    # offsets are bigint or double; any other sum type fails before a job runs
    with pytest.raises(TypeError, match="unsupported sum column type decimal"):
        global_prefix_stats(
            df.withColumn("k", F.col("k").cast("decimal(10,0)")), [F.col("id")],
            sums={"k": "ck"},
        )



def test_global_prefix_stats_exhausted_sample_driver_offsets(spark):
    """When the boundary sample exhausts the input (n <= cap) the
    offsets come from the same bucketed job as on a large input (the
    former driver-side offsets path is gone) — totals, ranks, and
    prefix sums must be identical to the window reference, and a float
    sum column gets double offsets."""
    from pyspark.sql.window import Window

    from frontpage_spark.plans import global_prefix_stats

    df = spark.range(0, 150).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(97)).cast("double").alias("k")
    )
    t: dict = {}
    got = global_prefix_stats(
        df, [F.col("id")], sums={"k": "ck"}, rn_col="rn", n_parts=8, totals=t
    )
    assert dict(got.dtypes)["ck"] == "double"
    # exhaustion precondition of this test: n < cap (cap >= 200)
    assert t["rn"] == 150 and t["k"] == sum(
        r["k"] for r in df.select("k").collect()
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = {r["id"]: (r["rn"], r["ck"]) for r in df.select(
        "id", F.row_number().over(Window.orderBy("id")).cast("long").alias("rn"),
        F.sum("k").over(w).alias("ck")).collect()}
    assert {r["id"]: (r["rn"], r["ck"]) for r in got.collect()} == ref

def test_pin_ckpt_dir_policy(monkeypatch):
    """ADVICE r9 (low): pin()'s tempdir fallback is only reliable when
    all executors share the driver's filesystem — allowed for local /
    local-cluster masters, a loud RuntimeError for anything else
    unless $SPARK_GRAFT_CKPT_DIR names a shared dir."""
    import pytest

    from frontpage_spark.plans import _resolve_ckpt_dir

    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR", raising=False)
    assert "fps-ckpt-app1" in _resolve_ckpt_dir("local[32]", "app1")
    assert "fps-ckpt-app1" in _resolve_ckpt_dir("local-cluster[2,2,2048]", "app1")
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        with pytest.raises(RuntimeError, match="SHARED checkpoint dir"):
            _resolve_ckpt_dir(master, "app1")
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", "hdfs:///ckpt")
    assert _resolve_ckpt_dir("yarn", "app1") == "hdfs:///ckpt"


def test_take_wide_one_job_and_conf_free(spark):
    from frontpage_spark.plans import take_wide
    from frontpage_spark.queries import _last_job_id

    key = "spark.sql.limit.initialNumPartitions"
    assert key not in spark.conf.getAll
    # explode hides the row count from the optimizer, so the limit
    # stays in the plan (a Range alone would let Catalyst drop it)
    df = spark.range(0, 2250, numPartitions=16).select(
        "id", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("k")
    )
    assert df.rdd.getNumPartitions() == 16
    tracker = spark.sparkContext.statusTracker()
    before = _last_job_id(tracker, None)
    every = take_wide(df, 36_001)
    assert _last_job_id(tracker, None) == before + 1
    assert every.num_rows == 36_000
    assert len(set(zip(every.column("id").to_pylist(), every.column("k").to_pylist()))) == 36_000
    assert take_wide(df, 1000).num_rows == 1000
    assert key not in spark.conf.getAll


def test_rfm_segments_local_matches_distributed(spark, monkeypatch):
    """r11 size gate: the single-job numpy scoring kernel must be
    byte-identical to the distributed prefix-stats branch — same ntile
    integer formula over the same (key, custkey) total orders, same
    exact int64 cent sums divided to dollars."""
    import frontpage_spark.queries as q

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        local = {tuple(r) for r in q.QUERIES["rfm_segments"].__wrapped__(spark, sf).collect()}
        monkeypatch.setattr(q, "_RFM_LOCAL_MAX_ORDER_ROWS", -1)
        dist = {tuple(r) for r in q.QUERIES["rfm_segments"].__wrapped__(spark, sf).collect()}
        monkeypatch.undo()
        assert local == dist and len(local) > 0, sf


def test_triangle_local_matches_distributed(spark, monkeypatch):
    """r11 size gate: the single-job numpy triangle kernel must equal
    the distributed ordered-edge join plan exactly (integer counts)."""
    import frontpage_spark.queries as q

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        local = q.QUERIES["triangle_count_copurchase"].__wrapped__(spark, sf).collect()
        monkeypatch.setattr(q, "_TRI_LOCAL_MAX_LI_ROWS", -1)
        dist = q.QUERIES["triangle_count_copurchase"].__wrapped__(spark, sf).collect()
        monkeypatch.undo()
        assert [tuple(r) for r in local] == [tuple(r) for r in dist], sf

"""Driver-contract smoke tests: entry() returns rows; every oracle key
has a query; queries run at sf0.001."""

import __spark_entry__ as entry_mod


def test_contract_shape():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)
    # the rows-only set is intentional and small
    # r5 graduated kcore/pq/cms to full oracles; r6 graduated the
    # approx family (approx_distinct_users, approx_percentiles_price,
    # hll_sketch_union_users) to within-tolerance bound-check oracles;
    # r7 graduated ann_recall_eval (above_floor booleans) and gave the
    # HTML UDF a golden-fixture hash signal (html_extraction_golden);
    # r8 graduated html_clean_projection (golden-corpus 17-col composed
    # oracle) and finally both approximate kNN rankings — their
    # "approximation" is recall vs brute force, not nondeterminism, so
    # DuckDB replays the md5-parity LSH planes / sampled-centroid IVF
    # retrieval exactly. EVERY registry entry now has a full oracle.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


# The registry's identity: a move or split of queries.py must keep
# all three. ORACLE_SHA256 hashes the registration-ordered (name,
# oracle SQL) list with the repo root written as "<repo>", so the
# fixture paths some oracles embed do not depend on the checkout.
N_QUERIES = 219
ORACLE_SHA256 = "4f6be9664fe2afb44f33334d77b0fae0fff29e4522de31da6288fd38625646a6"
SAMPLE_HEAD = [  # the first 50 of queries(), which a correctness sample reads
    "sessionize_users_stitch", "sessionize_users", "dup_clusters", "dedup_keep_best",
    "jsonl_feed_channels", "html_extraction_golden", "html_clean_projection",
    "clean_derivation_layer", "clean_projection_urls", "rfm_segments",
    "peak_concurrent_sessions", "kcenter_diverse_seeds", "embedding_knn_lsh",
    "embedding_knn_ivf", "token_budget_selection", "minhash_lsh_candidates",
    "near_dup_verified", "embedding_near_dup", "embedding_near_dup_lsh",
    "semantic_dedup_report", "pagerank_part_supplier", "prefix_filtered_jaccard",
    "bpe_train_merges", "kmeans_lloyd_counts", "phone_mine_segments", "url_parse_tokens",
    "group_counts_q1", "incremental_delta_scan", "conform_temporal", "conform_referential",
    "session_window_stats", "tumbling_window_counts", "dedup_exact", "simhash_buckets",
    "cdc_substring_dups", "benchmark_contamination", "split_leakage_audit",
    "tfidf_top_terms", "bm25_keyword_search", "quality_filter_funnel",
    "stream_near_dup_batch_core", "stream_near_dup_tiebreak_core",
    "stateful_type_counts_batch", "ann_recall_eval", "semantic_decontamination",
    "image_dhash_near_dup", "video_scene_changes", "multimodal_decode",
    "phone_extract_literals", "frontier_politeness_schedule",
]


def test_registry_digest():
    import hashlib
    import json
    import os

    from frontpage_spark.queries import ORACLES, QUERIES

    root = os.path.dirname(os.path.abspath(entry_mod.__file__))
    pairs = [[name, ORACLES[name].replace(root, "<repo>")] for name in QUERIES]
    assert len(QUERIES) == N_QUERIES
    assert hashlib.sha256(json.dumps(pairs).encode()).hexdigest() == ORACLE_SHA256
    assert list(entry_mod.queries())[:50] == SAMPLE_HEAD


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"c_mktsegment", "n_phones", "n_distinct_phones", "min_phone"} == set(df.columns)


def test_attribution_last_touch_band_edges_match_oracle(spark, tmp_path):
    """attribution_last_touch bands on (user, 3-day band of unix_micros):
    a touch at exactly ts-3d, one in the purchase's own band, touches on
    and one microsecond off a band edge, and a pre-1970 pair all credit
    the same channel as the unbanded SQL oracle. Purchase values are
    powers of two, so each channel's sum names its purchases."""
    from datetime import datetime, timedelta

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frontpage_spark.queries import ORACLES, QUERIES

    day, h, us = timedelta(days=1), timedelta(hours=1), timedelta(microseconds=1)
    epoch = datetime(1970, 1, 1)
    edge = epoch + 5700 * 3 * day  # a band edge: 2016-10-26
    events = []  # (user, ts, type, value)

    def case(user, purchase_ts, value, *touches):
        events.append((user, purchase_ts, "purchase", float(value)))
        events.extend((user, t, kind, 0.0) for kind, t in touches)

    p = edge + h
    case(1, p, 1, ("click", p - 3 * day), ("view", p))  # ts-3d counts; ts does not
    case(2, edge + 2 * day, 2, ("view", edge + day))  # the purchase's own band
    case(3, edge + 3 * day, 4, ("click", edge))  # on an edge, exactly ts-3d
    case(4, edge + us, 8, ("view", edge - us))  # last microsecond of the band before
    case(5, edge, 16, ("click", edge - 3 * day - us))  # 1 us outside: direct
    case(6, epoch - 3 * day + h, 32, ("view", epoch - 3 * day - h))  # pre-1970 bands
    path = tmp_path / "events.parquet"
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(events)), pa.int64()),
            "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
            "user_id": pa.array([e[0] for e in events], pa.int64()),
            "event_type": [e[2] for e in events],
            "value": [e[3] for e in events],
            "props": [None] * len(events),
        }),
        path,
    )

    got = sorted(tuple(r) for r in QUERIES["attribution_last_touch"](spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    oracle = sorted(
        tuple(r) for r in con.execute(ORACLES["attribution_last_touch"]).fetchall()
    )
    assert oracle == [("click", 2, 5.0), ("direct", 1, 16.0), ("view", 3, 42.0)]
    assert got == oracle

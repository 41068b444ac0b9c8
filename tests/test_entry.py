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

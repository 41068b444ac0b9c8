"""The measuring harness: bench.time_query's per-call record, the
capped DuckDB oracle pass, and tools.check.duckdb_con over a table
stored as a directory of part files (as Spark writes one)."""

import os
import time

import duckdb
import pyarrow.parquet as pq

from bench import oracle_pass, time_query
from frontpage_spark import queries
from frontpage_spark.plans import size_gate
from frontpage_spark.queries import QUERIES
from frontpage_spark.session import session_cache
from frontpage_spark.sources import load_table
from frontpage_spark.schemas import TESTDATA_TABLES
from tools.check import duckdb_con
from .conftest import SF_DIR


def test_time_query_record(spark):
    t0 = time.time()
    rec = time_query(spark, lambda: QUERIES["group_counts_q1"](spark, SF_DIR))
    wall = time.time() - t0
    assert set(rec) == {"build_s", "exec_s", "jobs", "stages", "gates"}
    assert 0 <= rec["build_s"] and 0 < rec["exec_s"]
    assert rec["build_s"] + rec["exec_s"] <= wall
    assert rec["jobs"] >= 1
    assert rec["stages"] >= rec["jobs"]


def test_oracle_pass_caps_a_query_that_cannot_finish():
    sqls = {
        "fast": "SELECT sum(range % 7) FROM range(20000000)",
        "endless": "SELECT sum(range) FROM range(1000000000000)",
        "also_fast": "SELECT count(DISTINCT range % 1000) FROM range(20000000)",
    }
    with duckdb.connect() as con:
        t0 = time.time()
        out = oracle_pass(con, sqls, {"fast": 2.0, "endless": 99.0, "also_fast": 1.0}, passes=2, timeout_s=0.5)
        # interrupted once and not re-run in the second pass
        assert time.time() - t0 < 5
        # the connection still serves queries after the interrupt
        assert con.execute("SELECT 1").fetchall() == [(1,)]
    assert out["oracle_timeouts"] == ["endless"]
    assert set(out["oracle_queries"]) == {"fast", "also_fast"}
    assert all(t > 0 for t in out["oracle_queries"].values())
    # the ratio covers the finished queries only
    total = sum(out["oracle_queries"].values())
    assert out["oracle_value"] == round(total, 3)
    assert out["ratio"] == round(3.0 / total, 3)


def test_duckdb_con_reads_part_file_directories(tmp_path):
    for t in TESTDATA_TABLES:
        src = os.path.join(SF_DIR, t + ".parquet")
        if t == "orders":
            table = pq.read_table(src)
            half = table.num_rows // 2
            os.makedirs(tmp_path / "orders.parquet")
            pq.write_table(table.slice(0, half), tmp_path / "orders.parquet" / "part-00000.parquet")
            pq.write_table(table.slice(half), tmp_path / "orders.parquet" / "part-00001.parquet")
        else:
            os.symlink(src, tmp_path / (t + ".parquet"))
    with duckdb_con(str(tmp_path)) as split, duckdb_con(SF_DIR) as single:
        for t in ("orders", "customer"):
            q = f"SELECT * FROM {t} ORDER BY ALL"
            assert split.execute(q).fetchall() == single.execute(q).fetchall()
        assert split.execute("SELECT count(*) FROM orders").fetchone()[0] > 1


def _branches(rec) -> dict:
    return {g["gate"]: g["branch"] for g in rec["gates"]}


def test_time_query_names_every_gate_branch(spark, monkeypatch):
    """A call's record lists the branch each size gate took, a
    plan-cache hit included: the hit re-emits its build's records."""
    clone = spark.newSession()
    load_table(clone, SF_DIR, "events")  # the scan's first touch, outside the build
    for _ in range(2):
        rec = time_query(clone, lambda: QUERIES["sessionize_users"](clone, SF_DIR))
        # sessionize's small branch is the classic single-window plan
        assert _branches(rec) == {"tune": "small", "sessionize": "small"}
        assert session_cache(clone).get(("plan", SF_DIR, "sessionize_users")) is not None
    (tune,) = [g for g in rec["gates"] if g["gate"] == "tune"]
    assert 0 < tune["measured"] <= tune["limit"]

    def dup_clusters():
        return QUERIES["dup_clusters"].__wrapped__(spark, SF_DIR)

    assert _branches(time_query(spark, dup_clusters)) == {"components": "small"}
    monkeypatch.setattr(queries, "_SMALL_PAIR_GRAPH_ROWS", 0)
    assert _branches(time_query(spark, dup_clusters)) == {"components": "scale"}
    # an unknown size takes the scale branch
    assert size_gate("unknown", None, 1 << 62) is False

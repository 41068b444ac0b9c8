"""Smoke tests of the benchmark itself. Run from the repository root:

  python -m pytest perfbench/test_smoke.py

The end-to-end tests run each workload once with ``--seconds 1`` (the
workloads' minimum pass counts still apply), about a minute apiece.
They expect the default driver memory (``SPARK_GRAFT_DRIVER_MEM``
unset).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, run, workloads
from perfbench.tracing import Span, tail

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_manifest_matches_definitions():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        assert json.load(f) == run.manifest()


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100, 3)
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert n == 100 and sum(x > value for x in xs) == 10 and pct == 90


def test_steal_adjusted_duration():
    # 300 busy + 100 stolen ticks: a quarter of the wanted CPU time was lost
    s = Span("op", t0=10.0, t1=14.0, ticks0=(1000, 50), ticks1=(1300, 150))
    assert s.steal_share == 0.25 and s.run_dur == 3.0
    idle = Span("op", t0=10.0, t1=12.0, ticks0=(5, 5), ticks1=(5, 5))
    assert idle.steal_share == 0.0 and idle.run_dur == 2.0


def test_crawl_plan_is_seeded(tmp_path):
    a = gen.CrawlPlan(str(tmp_path / "a"), np.random.default_rng(7), 200, 3)
    b = gen.CrawlPlan(str(tmp_path / "b"), np.random.default_rng(7), 200, 3)
    c = gen.CrawlPlan(str(tmp_path / "c"), np.random.default_rng(8), 200, 3)
    assert a.wave_urls == b.wave_urls and a.doc_of == b.doc_of
    assert a.wave_urls != c.wave_urls
    assert sorted(os.listdir(a.html_dir)) == sorted(os.listdir(b.html_dir))
    with open(a.sites_csv, encoding="utf-8") as f:
        assert len(f.read().splitlines()) == 1 + gen.N_SITES
    # expected sink = live URLs on known sites, a subset of what was crawled
    live = a.live_after(3)
    assert a.expected_clean(3) <= live
    assert a.counts["recrawl"] > 0 and a.counts["dead"] > 0 and a.counts["unknown_site"] > 0


def test_tables_are_seeded(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(str(tmp_path / d), np.random.default_rng(3), 0.01, 60, 40)
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))


def test_dedup_queries_are_headline_queries():
    from bench import HEADLINE

    assert set(workloads.DEDUP_QUERIES) <= set(HEADLINE)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_workload_prints_every_end_to_end_metric(workload):
    proc = bench("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0")
    res = _result(proc)
    # the driver JVM runs with the heap the program's session asks for
    heap = re.search(r"driver heap max (\d+) MB \(spark.driver.memory \S+ = (\d+) MB\)", proc.stdout)
    assert heap and int(heap.group(1)) >= 0.9 * int(heap.group(2)) >= 0.9 * 8192
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {
        n: u for n, u, _, _ in run.END_TO_END
    }
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    proc = bench("--workload", "crawl_etl", "--seed", "1", "--seconds", "1", "--trace", "1")
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {n: u for n, u, _ in run.PER_LAYER}
    assert res["metrics"]["stream.trigger_s"]["value"] > 0
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert "tracing overhead" in proc.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "crawl_etl", "--seed", "1", "--seconds", "1", "--trace", "0",
                 cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

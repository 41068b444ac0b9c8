"""Prepared-plan cache (round-5, extended r11): pure builds are reused
per (session, sf_dir, name) from the session's own cache; builds that
execute Spark jobs self-exclude, so their per-call work stays real.
Builds that register plans.keep() frames ARE cached (r11): the kept
frames are remembered with the plan and re-persist()ed on every hit,
restoring the CacheManager registration a clearCache() dropped — the
data is still recomputed per action. Also covers thread-local keep()
capture and the round-5 session/jdbc hardening: BLAS pinning conf and
SQL identifier validation."""

import os
import threading

import pytest

from frontpage_spark import plans
from frontpage_spark.queries import QUERIES
from frontpage_spark.session import SessionCache, session_cache
from .conftest import SF_DIR


def _cached(spark, name, sf_dir=SF_DIR):
    return session_cache(spark).get(("plan", sf_dir, name))


def test_pure_query_is_cached_and_reused(spark):
    # second build is pure (first may pay table first-touch jobs)
    QUERIES["group_counts_q1"](spark, SF_DIR)
    df1 = QUERIES["group_counts_q1"](spark, SF_DIR)
    assert _cached(spark, "group_counts_q1") is not None
    df2 = QUERIES["group_counts_q1"](spark, SF_DIR)
    assert df2 is df1  # the exact prepared plan is handed back
    # and it still executes correctly on reuse
    assert df2.count() == df1.count() > 0


def test_driver_loop_query_never_cached(spark):
    # bpe_train_merges runs its training loop (argmax collects) at
    # build time — caching it would skip real execution on repeat
    # calls. (pagerank used to be the probe here, but its build became
    # pure — metadata-gated single-job plan — so it is now cacheable.)
    QUERIES["bpe_train_merges"](spark, SF_DIR)
    QUERIES["bpe_train_merges"](spark, SF_DIR)
    assert _cached(spark, "bpe_train_merges") is None
    # pagerank's build is job-free and therefore cached
    QUERIES["pagerank_part_supplier"](spark, SF_DIR)
    QUERIES["pagerank_part_supplier"](spark, SF_DIR)
    assert _cached(spark, "pagerank_part_supplier") is not None


def test_build_probe_reads_the_callers_job_group(spark):
    # notebooks and job servers set a job group for every command; the
    # jobs a build runs land in that group, so a probe that lists only
    # ungrouped jobs would call dup_clusters' driver-loop build pure
    sc = spark.sparkContext
    clone = spark.newSession()  # an empty plan cache
    sc.setJobGroup("notebook-cell-1", "a command with a job group")
    try:
        QUERIES["dup_clusters"](clone, SF_DIR)
        assert _cached(clone, "dup_clusters") is None
        QUERIES["group_counts_q1"](clone, SF_DIR)  # may pay first-touch jobs
        QUERIES["group_counts_q1"](clone, SF_DIR)
        assert _cached(clone, "group_counts_q1") is not None
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_keep_using_query_cached_with_relink(spark):
    # near_dup_verified registers keep() frames; its build runs zero
    # jobs, so the plan is cached (r11) and every hit re-persist()s the
    # kept frames — without the re-link, a clearCache() between calls
    # would silently drop the shared-stage sharing
    n1 = QUERIES["near_dup_verified"](spark, SF_DIR).count()
    df1 = QUERIES["near_dup_verified"](spark, SF_DIR)
    assert _cached(spark, "near_dup_verified") is not None
    spark.catalog.clearCache()  # kills the persist registration
    df2 = QUERIES["near_dup_verified"](spark, SF_DIR)
    assert df2 is df1  # the exact prepared plan is handed back
    kept = _cached(spark, "near_dup_verified")[1]
    # the hit re-registered every kept frame in the live FIFO
    assert kept
    assert all(any(k is f for f in plans._KEPT) for k in kept)
    # and the reused plan still computes the same result from parquet
    assert df2.count() == n1 > 0
    plans.release_kept()


def test_cache_keyed_by_sf_dir(spark):
    other = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    a = QUERIES["global_minmax"](spark, SF_DIR)
    a = QUERIES["global_minmax"](spark, SF_DIR)  # cached build
    b = QUERIES["global_minmax"](spark, other)
    b = QUERIES["global_minmax"](spark, other)
    assert a is not b
    assert _cached(spark, "global_minmax")[0] is a
    assert _cached(spark, "global_minmax", other)[0] is b


def test_cloned_session_builds_its_own_plan(spark):
    # the cache belongs to the session: a newSession() clone must get a
    # frame bound to ITSELF (its conf, its temp views), never the
    # parent's cached plan
    QUERIES["global_minmax"](spark, SF_DIR)
    QUERIES["global_minmax"](spark, SF_DIR)
    clone = spark.newSession()
    QUERIES["global_minmax"](clone, SF_DIR)  # may pay first-touch jobs
    df = QUERIES["global_minmax"](clone, SF_DIR)
    assert df.sparkSession is clone
    assert df is not _cached(spark, "global_minmax")[0]
    assert QUERIES["global_minmax"](clone, SF_DIR) is df


def test_query_builds_leave_session_conf_unchanged(spark):
    # tune() at the register wrapper is the only conf write a query
    # makes: no build, cache hit, table scan or gate probe may change
    # the conf that other queries on the session run under
    from frontpage_spark.session import tune

    clone = tune(spark.newSession(), SF_DIR)
    before = clone.conf.getAll
    for name in (
        "phone_extract_literals",  # miss, then hit
        "phone_extract_literals",
        "html_extraction_golden",
        "sessionize_users",  # scans events (timestamp normalization)
        "dup_clusters",  # gate probe
        "bpe_train_merges",  # gate probe + driver-loop build
    ):
        QUERIES[name](clone, SF_DIR).collect()
        assert clone.conf.getAll == before, name
    plans.release_kept()


def test_tune_measures_part_file_tables(spark, tmp_path, monkeypatch):
    """A corpus of Spark-written tables (directories of part files) is
    sized by its part files, so a corpus over the small-input limit
    gets the large profile and the tune gate records the scale branch."""
    from frontpage_spark import session
    from frontpage_spark.session import default_parallelism, tune

    spark.range(0, 200_000).selectExpr("id", "id * 7919 % 100003 AS v").repartition(3).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    parts = [f for f in os.listdir(tmp_path / "orders.parquet") if f.endswith(".parquet")]
    size = sum(os.path.getsize(tmp_path / "orders.parquet" / f) for f in parts)
    assert len(parts) > 1 and size > 1 << 20
    monkeypatch.setattr(session, "_SMALL_INPUT_BYTES", size // 2)
    clone = spark.newSession()
    with plans.keep_capture() as captured:
        tune(clone, str(tmp_path))
    assert clone.conf.get("spark.sql.adaptive.enabled") == "true"
    assert clone.conf.get("spark.sql.shuffle.partitions") == str(default_parallelism())
    assert captured.gates == [
        {"gate": "tune", "measured": size, "limit": size // 2 - 1, "branch": "scale"}
    ]


def test_session_cache_lru_bound():
    cache = SessionCache(cap=2)
    cache.put("a", 1)
    cache.put("b", 2)
    assert cache.get("a") == 1  # touch: "b" is now the oldest
    cache.put("c", 3)
    assert cache.get("b") is None
    assert (cache.get("a"), cache.get("c")) == (1, 3)
    assert cache.get_or_put("d", lambda: 4) == 4
    assert cache.get_or_put("d", lambda: 5) == 4


def test_session_cache_thread_stress():
    # more threads than cores hammer one small cache with a short
    # switch interval; a lost update would break the cap or hand back
    # another key's value
    import sys

    cache = SessionCache(cap=16)
    errors = []

    def worker(seed):
        for i in range(2000):
            k = (seed * 7 + i) % 40
            v = cache.get_or_put(k, lambda k=k: ("v", k))
            if v != ("v", k) or len(cache._entries) > 16:
                errors.append((k, v))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors
    assert len(cache._entries) == 16


def test_keep_capture_is_thread_local():
    # a keep() on thread B must not land in a capture open on thread A:
    # otherwise a concurrent build's frames get cached with (and
    # re-persisted by) an unrelated plan (ADVICE r12)
    class FakeDF:
        def persist(self):
            return self

        def unpersist(self):
            return self

    mine, theirs, inner = FakeDF(), FakeDF(), FakeDF()
    old_kept = plans._KEPT[:]
    plans._KEPT.clear()
    try:
        with plans.keep_capture() as outer:
            plans.keep(mine)
            t = threading.Thread(target=plans.keep, args=(theirs,))
            t.start()
            t.join(timeout=30)
            assert not t.is_alive()
            with plans.keep_capture() as nested:
                plans.keep(inner)
        assert [id(f) for f in outer.kept] == [id(mine), id(inner)]
        assert [id(f) for f in nested.kept] == [id(inner)]
    finally:
        plans._KEPT[:] = old_kept


# pure, keep()-using and driver-loop builds, so that concurrent builds
# exercise every path of the prepared-plan cache
_CONCURRENT_QUERIES = (
    "group_counts_q1",
    "global_minmax",
    "near_dup_verified",
    "pagerank_part_supplier",
    "dup_clusters",
    "recursive_ancestor_depths",
    "tfidf_top_terms",
    "minhash_lsh_candidates",
)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_concurrent_queries_match_serial(spark):
    """Four driver threads building and running distinct registered
    queries on ONE session return exactly what a serial run returns.
    Each run uses a fresh clone, so every query is built (not served
    from a warm cache) while the other threads build theirs."""
    from concurrent.futures import ThreadPoolExecutor

    serial_session = spark.newSession()
    serial = {n: _rows(QUERIES[n](serial_session, SF_DIR)) for n in _CONCURRENT_QUERIES}
    shared = spark.newSession()
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {
            n: pool.submit(lambda n=n: _rows(QUERIES[n](shared, SF_DIR)))
            for n in _CONCURRENT_QUERIES
        }
        concurrent = {n: f.result(timeout=120) for n, f in futures.items()}
    assert concurrent == serial
    assert all(serial.values())
    plans.release_kept()


def test_keep_lru_touch():
    # re-keep()ing the same frame must move it to the young end, not
    # double-register it (ADVICE r4)
    class FakeDF:
        def __init__(self):
            self.persists = 0
            self.unpersists = 0

        def persist(self):
            self.persists += 1
            return self

        def unpersist(self):
            self.unpersists += 1
            return self

    old_kept, old_max = plans._KEPT[:], plans._KEPT_MAX
    plans._KEPT.clear()
    try:
        plans._KEPT_MAX = 3
        hot = FakeDF()
        plans.keep(hot)
        fillers = [FakeDF() for _ in range(2)]
        for f in fillers:
            plans.keep(f)
        plans.keep(hot)  # LRU touch — must NOT evict anything
        assert hot.unpersists == 0
        assert len(plans._KEPT) == 3
        assert plans._KEPT[-1] is hot
        # one more registration now evicts the OLDEST filler, not hot
        plans.keep(FakeDF())
        assert hot.unpersists == 0
        assert fillers[0].unpersists == 1
    finally:
        plans._KEPT[:] = old_kept
        plans._KEPT_MAX = old_max


def test_blas_pin_exported_to_executors(spark):
    assert spark.conf.get("spark.executorEnv.OPENBLAS_NUM_THREADS") == "1"
    assert spark.conf.get("spark.executorEnv.OMP_NUM_THREADS") == "1"


def test_default_parallelism_env_and_fallback(monkeypatch):
    from frontpage_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
    usable = len(os.sched_getaffinity(0))
    for bad in ("", "four", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert default_parallelism() == usable
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == usable


def test_jdbc_identifier_validation():
    from frontpage_spark.jdbc import _check_ident, _pg_quote

    assert _check_ident("ads_raw") == "ads_raw"
    assert _check_ident("app.ads_raw") == "app.ads_raw"
    for bad in ('ads"; DROP TABLE x; --', "a b", 'x"y', "1tab", ""):
        with pytest.raises(ValueError):
            _check_ident(bad)
    assert _pg_quote('we"ird') == '"we""ird"'

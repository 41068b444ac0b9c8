"""SparkSession factory + runtime tuning.

Defaults target the test harness (local[$SPARK_GRAFT_CPUS]) but every
setting is the one we would ship on a large multi-executor cluster:
AQE on (runtime join re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism, Arrow for
the rare pandas-UDF path, UTC session time zone for deterministic
timestamp arithmetic.

Runtime conf is written in exactly one place, ``tune``, and ``tune``
has exactly two callers: the ``queries.register`` wrapper (before a
build and a plan-cache hit alike) and the engine-owned recursion clone
in ``queries.recursive_ancestor_depths``. No query build, table scan
or gate probe writes conf, so the profile a query runs under depends
only on its ``sf_dir``, never on which query (or which thread's query)
ran before it.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import SparkSession

from .plans import size_gate

# Conf that can be applied to an already-running session (runtime-settable).
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables here are tiny (region/nation class); the threshold
    # mostly matters for AQE's runtime broadcast decisions.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # TIMESTAMP(NANOS) parquet columns read as bigint instead of failing;
    # sources.NORMALIZE_TS_COLUMNS converts them back to timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    """$SPARK_GRAFT_CPUS when it is a positive integer, else the cores
    this process may run on (``local[0]`` fails at session start)."""
    try:
        n = int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        n = 0
    return n if n >= 1 else len(os.sched_getaffinity(0))


# Below this much input, AQE is a net loss: each adaptive query stage
# is an extra job round (materialize → re-plan → schedule) whose fixed
# cost only pays off when shuffles move enough data to re-plan ABOUT.
# Measured on the sf0.1 suite: AQE on + 32 shuffle partitions = 5.7s,
# AQE off + 8 partitions = 4.6s for the same seven queries. A real
# table never hits this branch.
_SMALL_INPUT_BYTES = 1 << 30


def tune(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Apply the runtime profile for ``sf_dir`` to ``spark``.

    The driver harness hands us its own SparkSession; shuffle-partition
    count and AQE flags are runtime-settable, so queries get the tuned
    plan either way. When ``sf_dir`` is known and tiny, switch to the
    small-input profile (AQE off, few fixed shuffle partitions); at
    cluster scale the AQE profile always wins and is the default.

    Only two callers exist, both at the session boundary: the
    ``queries.register`` wrapper, which runs it before every build AND
    every plan-cache hit, and the recursion clone, which a fresh
    ``newSession()`` starts from the initial options rather than this
    profile. A call from inside a build would switch the profile
    mid-query (a no-``sf_dir`` call reverts to the large profile, so a
    cache miss and a hit ran under different conf) and would rewrite
    the conf every other thread's query on the session runs under.
    """
    from .sources import corpus_bytes  # sources imports this module

    conf = dict(RUNTIME_CONF)
    # strictly below the limit: the gate's ``<=`` over integer bytes
    if sf_dir is not None and size_gate("tune", corpus_bytes(sf_dir), _SMALL_INPUT_BYTES - 1):
        conf["spark.sql.adaptive.enabled"] = "false"
        parts = min(8, default_parallelism())
    else:
        parts = default_parallelism()
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on some builds — keep going
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    except Exception:
        pass
    return spark


# ---- per-session cache ------------------------------------------------------
# Everything the engine reuses across calls lives in ONE bounded LRU per
# SparkSession: prepared query plans ("plan", sf_dir, name), table
# scans ("table", sf_dir, name) and raised-rail recursion clones
# ("recursion", sf_dir, need). Its lifetime is the session's, so a
# stopped session takes its entries with it and a newSession() clone
# starts empty instead of being handed frames bound to its parent. It
# is an attribute of the session object, not a WeakKeyDictionary
# value: the cached DataFrames reference their session, so a weak-keyed
# entry would pin its own key.
SESSION_CACHE_MAX = 512
_CACHE_ATTR = "_frontpage_cache"


class SessionCache:
    """Thread-safe LRU of at most ``cap`` entries."""

    def __init__(self, cap: int = SESSION_CACHE_MAX):
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self._cap = cap

    def get(self, key):
        with self._lock:
            value = self._entries.get(key)
            if value is not None:
                self._entries.move_to_end(key)
            return value

    def put(self, key, value) -> None:
        # evict before inserting, so that no reader ever sees more
        # than ``cap`` entries, not even halfway through a put
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
            else:
                while len(self._entries) >= self._cap:
                    self._entries.popitem(last=False)
            self._entries[key] = value

    def get_or_put(self, key, build):
        """Cached value for ``key``, else ``build()`` stored under it.
        Builds run outside the lock; a racing duplicate build is benign."""
        value = self.get(key)
        if value is None:
            value = build()
            self.put(key, value)
        return value


def session_cache(spark: SparkSession) -> SessionCache:
    """The cache owned by ``spark``, created on first use."""
    cache = getattr(spark, _CACHE_ATTR, None)
    if cache is None:
        cache = spark.__dict__.setdefault(_CACHE_ATTR, SessionCache())
    return cache


#: One BLAS thread per task: Spark schedules a task per core, so any
#: multi-threaded gemm inside a worker (or the driver, which shares the
#: box in local mode) oversubscribes cores x tasks. Set both in our own
#: environment (inherited by the local-mode daemon and by driver-side
#: numpy) and as executorEnv for real clusters. daemon_preload.py
#: re-asserts them before its numpy import as defense in depth.
BLAS_PIN = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
}


def get_spark(app_name: str = "frontpage_spark", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    # Worker daemons are fresh processes launched with $PYTHONPATH; make
    # sure the engine package (daemon_preload) resolves there.
    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_repo}{os.pathsep}{_pp}" if _pp else _repo
    for _k, _v in BLAS_PIN.items():
        os.environ.setdefault(_k, _v)
    builder = SparkSession.builder.appName(app_name)
    for _k, _v in BLAS_PIN.items():
        builder = builder.config(f"spark.executorEnv.{_k}", os.environ[_k])
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Static conf: the generated-class cache defaults to 100 entries;
        # a 46-query suite overflows it, so every "warm" run silently
        # recompiles its whole-stage-codegen classes (~0.1-0.5s/query).
        # Production sessions running a query mix hit the same cliff.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # plans.pin uses RELIABLE checkpoints for fixpoint lineage cuts
        # (executor-loss-proof, unlike localCheckpoint); let the
        # ContextCleaner delete checkpoint files once the RDD is GC'd
        # so long sessions don't accumulate them
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Fresh fork per Python task instead of the reused-worker pool.
        # Measured on the pandas-UDF-heavy bench sequence (bpe → audio →
        # dhash → decode → frames at sf0.1, local[32]): reused workers
        # run the SLOW path — 45.2s vs 28.7s (and 83.3s vs 68.5s on a
        # noisy host) — because a stage following a heavy applyInPandas/
        # mapInPandas stage re-dispatches through bloated long-lived
        # workers, while a forked child off the daemon is clean and
        # costs ~ms on Linux. Arrow-batched stages here are seconds
        # long, so per-task spawn amortizes to noise. Both figures
        # predate the daemon's importer-cache clear (daemon_preload.py),
        # which took ~0.27 s of zip re-reading off every forked task.
        # Sub-second micro-batches gain nothing from reuse either: the
        # crawl cycle's etl parse job (896 pages, 1 task, 4 cores) took
        # 0.398 s with reuse on vs 0.386 s off.
        .config("spark.python.worker.reuse", "false")
        # Pre-import numpy/pandas/pyarrow in the worker daemon so every
        # forked worker inherits them copy-on-write (see
        # daemon_preload.py). Requires the package importable in the
        # worker env — guaranteed here by the PYTHONPATH export below.
        .config("spark.python.daemon.module", "frontpage_spark.daemon_preload")
    )
    return builder.getOrCreate()
